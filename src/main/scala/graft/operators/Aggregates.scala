package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Relational.{dec, dec28, dec38}

/** Aggregation operators (SURVEY.md §2.D). Presto's aggregate surface as
  * exposed by novlake's SQL passthrough [upstream, unverified — SURVEY.md
  * §0], planned by Catalyst as partial (map-side) + final HashAggregate —
  * i.e. each of these shuffles only the per-group partial states, never
  * raw rows, which is the property that matters at 100 TB.
  *
  * Money columns are cast DECIMAL(18,4) pre-aggregation so sums are exact
  * and order-independent, then cast back to double for the comparable
  * output schema (SURVEY.md §5.3.3).
  */
object Aggregates {

  /** `agg_group_sum` — TPC-H Q1 shape: the flagship `entry()` query.
    * Low-cardinality group keys → tiny shuffle regardless of input size.
    */
  def aggGroupSum(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)

  /** `agg_count_distinct` — exact COUNT(DISTINCT) per group (Catalyst
    * plans Expand + two-phase aggregate; distinct set never sits on one
    * node).
    */
  def aggCountDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority").asc)

  /** `agg_approx_distinct` — HyperLogLog++ distinct estimate. Not
    * oracle-declared (estimator differs from DuckDB's); property-tested
    * against the exact count in AggregateSpec. This is the 100 TB path
    * for distinct counting: fixed-size sketch per group, mergeable.
    */
  def aggApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type").asc)

  /** Shadow oracle for `agg_approx_distinct` (same technique as
    * `dedup_simhash_ids`): the HLL++ sketch value itself is
    * engine-specific, but its error CONTRACT is checkable — the oracle
    * asserts `within_5pct` TRUE for every group, so a sketch deviating
    * past 5× its configured 1% rsd breaks the hash-match. Turns "approx
    * looks plausible" into a driver-gated bound.
    */
  def aggApproxDistinctOk(spark: SparkSession, sfDir: String): DataFrame =
    aggApproxDistinct(spark, sfDir)
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("within_5pct"))
      .orderBy(col("event_type").asc)

  /** `agg_approx_percentile` — GK-sketch quantile estimates
    * (percentile_approx, accuracy 100 → rank error ≤ 1%) next to the
    * exact interpolated percentiles. Not oracle-declared: the sketch's
    * answer is engine-specific (Spark GK vs DuckDB t-digest). This is
    * the 100 TB quantile path — fixed-size mergeable summary per group,
    * no sort, no full materialization; the exact percentile needs the
    * group's values collected to one aggregator. Shadowed by
    * [[aggApproxPercentileOk]] (r7 #4).
    */
  def aggApproxPercentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 100)").as("apx_p50"),
        expr("approx_percentile(l_extendedprice, 0.9, 100)").as("apx_p90"),
        expr("approx_percentile(l_extendedprice, 0.99, 100)").as("apx_p99"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("exact_p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("exact_p99"))
      .orderBy(col("l_returnflag").asc)

  /** Shadow oracle for `agg_approx_percentile` (the
    * [[aggApproxDistinctOk]] technique): the sketch VALUE is
    * engine-specific, but the GK error CONTRACT is checkable — a value
    * returned for quantile p with accuracy a must have rank within
    * (p ± 1/a)·n. The check is the standard tie-safe bracket: the
    * fraction of rows ≤ v must reach p − ε and the fraction < v must
    * not exceed p + ε. Emitted as ok_* booleans next to the exact group
    * count, so a sketch drifting past its contract breaks the
    * hash-match. One broadcast join of 3 sketch rows back onto the
    * fact — the re-scan is the verification's cost, not the sketch's.
    */
  def aggApproxPercentileOk(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val acc = 100
    val eps = 1.0 / acc
    val apx = li.groupBy(col("l_returnflag")).agg(
      expr(s"approx_percentile(l_extendedprice, 0.5, $acc)").as("v50"),
      expr(s"approx_percentile(l_extendedprice, 0.9, $acc)").as("v90"),
      expr(s"approx_percentile(l_extendedprice, 0.99, $acc)").as("v99"))
    def okAt(v: String, p: Double) = {
      val n = count(lit(1)).cast("double")
      val le = sum(when(col("l_extendedprice") <= col(v), 1L).otherwise(0L))
        .cast("double")
      val lt = sum(when(col("l_extendedprice") < col(v), 1L).otherwise(0L))
        .cast("double")
      (le / n >= p - eps) && (lt / n <= p + eps)
    }
    li.join(broadcast(apx), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(okAt("v50", 0.5).as("ok_p50"),
        okAt("v90", 0.9).as("ok_p90"),
        okAt("v99", 0.99).as("ok_p99"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc)
  }

  /** `agg_hll_rollup` — RE-AGGREGATABLE distinct-count sketches (the
    * datasketches HLL surface: hll_sketch_agg → hll_union_agg →
    * hll_sketch_estimate): per (event_type, day) sketches are built
    * once, then UNIONED across days into the per-type estimate — the
    * incremental-rollup pattern a 100 TB pipeline runs nightly (store
    * yesterday's binary sketch column, union today's, never re-scan
    * history; approx_count_distinct alone cannot be re-aggregated from
    * saved partials). Declared through the error-contract technique
    * (`agg_approx_distinct_ok`): the unioned estimate must sit within
    * 5% of the exact distinct count, emitted as a hash-gated boolean
    * beside the exact count — sketch bytes themselves are
    * engine-specific and never surfaced.
    */
  def aggHllRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val rolled = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_days"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"), col("n_days"),
        (abs(col("est") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("within_5pct"))
      .orderBy(col("event_type").asc)
  }

  /** `sample_weighted` — weight-proportional SYSTEMATIC sampling
    * (completing the sampling family beside hash-uniform `sample_hash`
    * and `sample_stratified`): one row is taken each time the exact
    * running weight (orders by o_orderkey, weighted by price) crosses a
    * fixed step — PPS sampling with zero randomness, so both engines
    * select the identical rows. Everything stays in exact arithmetic:
    * decimal prefix sums, then integer tick comparison in 10⁻⁴ units
    * (no float ever touches the selection predicate).
    *
    * The global prefix sum is built WITHOUT a global window (banned —
    * one task would sort everything), as a TWO-LEVEL segment tree of
    * keyed partials (the carryLastRangeSplit step, applied twice):
    *  1. per-bucket weight sums (1024 keys per bucket), keyed agg;
    *  2. per-SUPERBUCKET sums (1024 buckets per superbucket), keyed agg;
    *  3. one tiny fold over the superbucket sums → superbucket offsets
    *     (|keys|/2²⁰ rows — ~10⁴ entries at 10¹⁰ keys, KBs; a third
    *     level divides by another 1024 the same way if ever needed);
    *  4. a superbucket-KEYED fold (≤1024 bucket rows per group, by
    *     construction) adds within-superbucket prefix → bucket offsets;
    *  5. a bucket-KEYED window for the within-bucket cumsum.
    * No task anywhere materializes more than max(1024, |keys|/2²⁰)
    * fold rows — SampleWeightedScaleSpec pins the bound on the very
    * frames this method builds, at 1×/2×/10× planted data. The final
    * offsets join is keyed on bkt, NOT broadcast (|keys|/1024 rows is
    * broadcastable at bench SF but not at 100 TB); the fact side
    * arrives already hash-partitioned and sorted by bkt from the
    * window, so only the tiny offsets side shuffles.
    */
  /** Levels 1+2 of [[sampleWeighted]]'s segment tree, exposed so the
    * scale spec asserts bounds on the executed frames (not a re-derived
    * copy of the bucket arithmetic): (bucketed fact rows, per-bucket
    * sums tagged with their superbucket, per-superbucket sums).
    */
  private[graft] def sampleWeightedPartials(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("wt"))
      .withColumn("bkt", (col("o_orderkey") / lit(1024)).cast("long"))
      .withColumn("sbkt", (col("bkt") / lit(1024)).cast("long"))
    val bsum = ord.groupBy(col("sbkt"), col("bkt"))
      .agg(sum(col("wt")).as("bw"))
    val ssum = bsum.groupBy(col("sbkt")).agg(sum(col("bw")).as("sw"))
    (ord, bsum, ssum)
  }

  /** The exact-decimal prefix fold shared by both segment-tree levels:
    * `bs` (a sorted array of (k, v) structs) → exploded (k, running sum
    * BEFORE k). Input arrays are bounded by construction — see
    * [[sampleWeighted]] step 3 (≤ |keys|/2²⁰ rows) and step 4 (≤1024).
    */
  private def prefixFold(keyF: String, valF: String): String =
    s"""aggregate(bs,
       |  named_struct(
       |    'arr', cast(array() as array<struct<k:bigint,off:decimal(38,4)>>),
       |    'run', cast(0 as decimal(38,4))),
       |  (acc, x) -> named_struct(
       |    'arr', array_append(acc.arr, named_struct('k', x.$keyF, 'off', acc.run)),
       |    'run', cast(acc.run + x.$valF as decimal(38,4))),
       |  acc -> acc.arr)""".stripMargin

  def sampleWeighted(spark: SparkSession, sfDir: String,
      stepUnits: Long = 100000000000L /* 1e7 price · 1e4 scale */)
      : DataFrame = {
    val (ord, bsum, ssum) = sampleWeightedPartials(spark, sfDir)
    val soffs = ssum
      .agg(sort_array(collect_list(struct(col("sbkt"), col("sw"))))
        .as("bs"))
      .select(explode(expr(prefixFold("sbkt", "sw"))).as("o"))
      .select(col("o.k").as("sbkt"), col("o.off").as("soff"))
    val offs = bsum
      .groupBy(col("sbkt"))
      .agg(sort_array(collect_list(struct(col("bkt"), col("bw"))))
        .as("bs"))
      .select(col("sbkt"), explode(expr(prefixFold("bkt", "bw"))).as("o"))
      .join(broadcast(soffs), "sbkt")
      .select(col("o.k").as("bkt"),
        dec38(col("soff") + col("o.off")).as("off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("o_orderkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ord
      .withColumn("wcum", sum(col("wt")).over(wIn))
      .join(offs, "bkt")
      .withColumn("cum_u",
        ((col("off") + col("wcum")) * 10000).cast("long"))
      .withColumn("w_u", (col("wt") * 10000).cast("long"))
      .filter(expr(s"cum_u DIV $stepUnits") >
        expr(s"(cum_u - w_u) DIV $stepUnits"))
      .select(col("o_orderkey"), col("wt").cast("double").as("weight"),
        expr(s"cum_u DIV $stepUnits").as("tick"))
      .orderBy(col("o_orderkey").asc)
  }

  /** `agg_corr` — Pearson correlation + OLS slope (the Presto
    * `corr`/`regr_slope` surface) per return flag, computed from EXACT
    * decimal moment sums instead of the built-in streaming aggregates:
    * built-in `corr()` is a Welford-style single pass whose float
    * accumulation order differs between engines (and between runs at
    * different partitionings), so its last bits are not reproducible.
    * Five exact decimal sums (x, y, xy, x², y² — squares in
    * DECIMAL(28,4): price² ≈ 10¹⁰ per row overflows scale-18) are
    * order-independent under partial aggregation; each casts to double
    * once and the closed-form formula runs the SAME IEEE ops in the
    * same order in both engines. The outputs still round to 9 dp: the
    * engines' decimal→double CASTS disagree in the last ulp once the
    * unscaled value passes 2^53 (see the in-select comment) — sub-ulp
    * noise, absorbed by a rounding 10⁸ ulps wide.
    */
  def aggCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
        sum(dec28(col("l_quantity") * col("l_extendedprice")))
          .cast("double").as("sxy"),
        sum(dec28(col("l_quantity") * col("l_quantity")))
          .cast("double").as("sxx"),
        sum(dec28(col("l_extendedprice") * col("l_extendedprice")))
          .cast("double").as("syy"))
      .select(col("l_returnflag"), col("n_rows"),
        // 9 dp rounding, NOT raw doubles: DuckDB's decimal→double cast
        // double-rounds (int128 unscaled beyond 2^53, then the scale
        // divide) where Spark's BigDecimal cast rounds once, so the
        // moment doubles can differ in the last ulp (caught by the
        // sf0.001 sweep). 9 dp is ~10⁸ ulps away from that noise, and
        // the half-boundary hazard of r7 needs rational arithmetic —
        // these quotients pass through sqrt/irrational territory.
        round((col("n_rows").cast("double") * col("sxy")
            - col("sx") * col("sy"))
          / (sqrt(col("n_rows").cast("double") * col("sxx")
              - col("sx") * col("sx"))
            * sqrt(col("n_rows").cast("double") * col("syy")
              - col("sy") * col("sy"))), 9).as("corr_qp"),
        round((col("n_rows").cast("double") * col("sxy")
            - col("sx") * col("sy"))
          / (col("n_rows").cast("double") * col("sxx")
            - col("sx") * col("sx")), 9).as("slope_qp"))
      .orderBy(col("l_returnflag").asc)
  }

  /** `table_stats` — the Presto/Athena `SHOW STATS` surface as one
    * aggregation pass: per-column row count, null count, exact NDV, and
    * min/max over the fact table, pivoted to the one-row-per-column
    * stats shape with `stack`. The optimizer-statistics collection path
    * (ANALYZE) done declaratively — at 100 TB this is one partial+final
    * aggregate (the multi-distinct plans through Expand, each distinct
    * column one stream), never a per-column re-scan of the table.
    */
  def tableStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val agg = li.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_quantity")).as("ndv_qty"),
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nn_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      countDistinct(col("l_extendedprice")).as("ndv_px"),
      sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("nn_px"),
      min(col("l_extendedprice")).as("min_px"),
      max(col("l_extendedprice")).as("max_px"),
      countDistinct(col("l_discount")).as("ndv_disc"),
      sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("nn_disc"),
      min(col("l_discount")).as("min_disc"),
      max(col("l_discount")).as("max_disc"))
    agg.select(col("n_rows"), expr(
      """stack(3,
        |  'l_discount', ndv_disc, nn_disc, min_disc, max_disc,
        |  'l_extendedprice', ndv_px, nn_px, min_px, max_px,
        |  'l_quantity', ndv_qty, nn_qty, min_qty, max_qty)
        |  AS (column_name, ndv, n_nulls, min_v, max_v)""".stripMargin))
      .select(col("column_name"), col("n_rows"), col("ndv"),
        col("n_nulls"), col("min_v"), col("max_v"))
      .orderBy(col("column_name").asc)
  }

  /** `table_stats_approx` — the sketch form of [[tableStats]], making
    * its documented 100 TB fallback executable (VERDICT r10 #5): the
    * sketch pass computes every NDV with `approx_count_distinct`
    * (HLL++, rsd 2%) in one ordinary partial/final aggregate — NO
    * Expand, fixed-size shard-mergeable state — which IS the plan that
    * replaces the exact multi-distinct at 100 TB. Declared through the
    * error-contract technique (the `agg_approx_distinct_ok` /
    * `agg_hll_rollup` pattern): estimates are engine-specific and
    * never surfaced; each column row carries the EXACT stats plus a
    * hash-gated boolean pinning the estimate within 5% of the exact
    * NDV. The exact side reuses [[tableStats]]'s one-pass Expand plan,
    * and the two 3-row stats frames join KEYED on column_name (mixing
    * the sketches into the multi-distinct aggregate itself re-runs
    * every sketch on each Expand replica — measured 7× the split
    * form's cost at sf0.1).
    */
  /** `dq_checks` — the declarative data-quality audit surface (what
    * Deequ / dbt tests provide on a warehouse): primary-key
    * uniqueness, referential integrity along the fact→dim edges,
    * not-null and domain-range constraints. Violations are exact
    * COUNTS; `pass` = (violations == 0) as INT; the report is
    * check-count-sized, never row-sized. One check (`range_strict`)
    * is deliberately violated on the fixtures so the report
    * demonstrably counts rather than rubber-stamps.
    *
    * Plan shape, stated honestly: each table's AGGREGATE checks share
    * one scan — the per-table aggregate emits all its violation
    * counts in one row, fanned to check rows by `stack` (ONE consumer;
    * deriving the rows with per-check selects instead lets column
    * pruning specialize every branch into its own aggregate + scan,
    * the bug the first cut of `Lake.audit` shipped). Each FK probe is
    * additionally its own keyed anti-join — inherently a separate
    * join, so lineitem is read twice (ranges + FK probe) and orders
    * three times (PK agg + both FK sides). Nothing funnels; every
    * probe is a scan-side aggregate or keyed anti-join.
    */
  /** `dq_freshness` — the data-FRESHNESS monitor, the third standard
    * DQ pillar next to `dq_checks` (completeness/validity) and
    * `dq_drift` (distribution): per event series, event count, last
    * event time, and the lag in whole hours behind the corpus's
    * newest event, flagged stale past `staleHours` — the "did source X
    * stop delivering" page every ingestion pipeline wires first.
    *
    * Shape: ONE keyed aggregate (series-sized after it at any corpus
    * size); the global max attaches as a broadcast ONE-ROW scalar
    * (the agg_histogram shape — bounded × 1, allowlisted in
    * ContractSpec; a constant-key equi-join folds to the same plan).
    * Exactness: lag = integer millis difference DIV 3600000 — both
    * engines truncate identically on the non-negative diff; no float
    * anywhere.
    */
  def dqFreshness(spark: SparkSession, sfDir: String,
      staleHours: Long = 48L): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
    val global = per.agg(max(col("last_ts")).as("gmax"))
    per.crossJoin(broadcast(global))
      .withColumn("lag_hours",
        expr("(unix_millis(gmax) - unix_millis(last_ts)) div 3600000"))
      .select(col("event_type"), col("n_events"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("last_seen"),
        col("lag_hours"),
        when(col("lag_hours") >= staleHours, 1).otherwise(0).as("stale"))
      .orderBy(col("event_type").asc)
  }

  /** `dq_quarantine` — ROW-LEVEL expectations, the fourth DQ surface
    * (`dq_checks` counts violations per rule; this one emits the
    * violating ROWS with their violated-rule labels — the Delta Live
    * Tables / Great Expectations "expectations with quarantine" shape,
    * where failing rows route to a quarantine table for triage instead
    * of silently dropping). Each row evaluates every named rule
    * row-locally; the label column is the comma-joined SORTED list of
    * failed rule names (sorted so the label is deterministic under any
    * evaluation order; a string, not an array — the driver-comparator
    * contract bans collection outputs).
    *
    * Shape: pure scan→project→filter — zero shuffles before the output
    * ORDER BY; at 100 TB the quarantine write is a partitioned sink of
    * the filter's survivors and the pass-through table is the
    * complement, both from ONE scan.
    */
  def dqQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("discount_le_05", col("l_discount") <= 0.05),
      ("price_pos", col("l_extendedprice") > 0.0),
      ("qty_ge_1", col("l_quantity") >= 1.0),
      ("qty_le_25", col("l_quantity") <= 25.0))
    val violated = concat_ws(",", array_sort(filter(
      array(rules.map { case (n, c) =>
        when(!c, lit(n)).otherwise(lit(null).cast("string"))
      }: _*),
      x => x.isNotNull)))
    Tables.lineitem(spark, sfDir)
      .withColumn("violated", violated)
      .filter(col("violated") =!= "")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("violated"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
  }

  def dqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val liChecks = li.agg(
        count(when(!col("l_quantity").between(1, 50), lit(1)))
          .as("v_range"),
        count(when(!col("l_quantity").between(1, 25), lit(1)))
          .as("v_range_strict"))
      .select(expr("stack(2," +
        " 'range', 'lineitem.l_quantity in [1,50]', v_range," +
        " 'range_strict', 'lineitem.l_quantity in [1,25]', v_range_strict" +
        ") AS (check_name, target, violations)"))
    val custChecks = cust.agg(
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("v_pk"),
        count(when(col("c_name").isNull, lit(1))).as("v_null"))
      .select(expr("stack(2," +
        " 'pk_unique', 'customer.c_custkey', v_pk," +
        " 'not_null', 'customer.c_name', v_null" +
        ") AS (check_name, target, violations)"))
    val ordChecks = ord
      .agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("v"))
      .select(lit("pk_unique").as("check_name"),
        lit("orders.o_orderkey").as("target"), col("v").as("violations"))
    def fk(name: String, probe: DataFrame): DataFrame =
      probe.agg(count(lit(1)).as("v"))
        .select(lit("fk_exists").as("check_name"), lit(name).as("target"),
          col("v").as("violations"))
    Seq(liChecks, custChecks, ordChecks,
      fk("lineitem.l_orderkey->orders",
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")),
      fk("orders.o_custkey->customer",
        ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")))
      .reduce(_ unionByName _)
      .select(col("check_name"), col("target"),
        col("violations").cast("long").as("violations"),
        when(col("violations") === 0L, 1).otherwise(0).as("pass"))
      .orderBy(col("check_name").asc, col("target").asc)
  }

  /** `dq_drift` — two-sample Kolmogorov–Smirnov distribution drift
    * between ingestion cohorts, per language: did the length
    * distribution of documents from sources src0–src3 (cohort A —
    * e.g. last month's crawl) shift against the rest (cohort B)? The
    * standing data-quality question for a training corpus that
    * `dq_checks`'s row-level predicates cannot ask — a distributional
    * check, not a constraint check.
    *
    * KS statistic = max over x of |ecdfA(x) − ecdfB(x)|. Computed
    * EXACTLY: pre-aggregate to per-(lang, value) cohort counts, then
    * one per-language cumulative window over the aggregated frame and
    * max |cumA·totB − cumB·totA| as pure BIGINT — the double `ks`
    * emitted at the output boundary is a single IEEE division of two
    * exactly-representable integers, identical in any engine. Integer
    * headroom: cum·tot products stay inside int64 for cohorts up to
    * ~3·10⁹ docs per language; past that, widen to DECIMAL(38,0)
    * (the ts_anomaly precedent).
    *
    * 100 TB shape: the corpus-scale work is ONE keyed partial+final
    * aggregate on (lang, n_chars); the cumulative window runs over the
    * AGGREGATED frame, whose per-language partition is value-DOMAIN-
    * sized (distinct lengths), not corpus-sized — the same
    * pre-aggregate-then-window discipline as mix_budget's bucket
    * rollup. Nothing collects; the report is language-count-sized.
    */
  def dqDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cohortA = Seq("src0", "src1", "src2", "src3")
    val isA = col("source").isin(cohortA: _*)
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        when(isA, lit(1L)).otherwise(lit(0L)).as("ia"),
        when(isA, lit(0L)).otherwise(lit(1L)).as("ib"))
      .groupBy(col("lang"), col("n_chars"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
    val cum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("lang"))
    counts
      .withColumn("cuma", sum(col("ca")).over(cum))
      .withColumn("cumb", sum(col("cb")).over(cum))
      .withColumn("ta", sum(col("ca")).over(tot))
      .withColumn("tb", sum(col("cb")).over(tot))
      .withColumn("d",
        abs(col("cuma") * col("tb") - col("cumb") * col("ta")))
      .groupBy(col("lang"))
      .agg(max(col("d")).as("ks_num"),
        max(col("ta")).as("n_a"), max(col("tb")).as("n_b"))
      .select(col("lang"), col("ks_num"), col("n_a"), col("n_b"),
        (col("ks_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("ks"))
      .orderBy(col("lang").asc)
  }

  def tableStatsApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val apx = li.agg(
      approx_count_distinct(col("l_quantity"), 0.02).as("apx_qty"),
      approx_count_distinct(col("l_extendedprice"), 0.02).as("apx_px"),
      approx_count_distinct(col("l_discount"), 0.02).as("apx_disc"))
      .select(expr(
        """stack(3,
          |  'l_discount', apx_disc,
          |  'l_extendedprice', apx_px,
          |  'l_quantity', apx_qty) AS (column_name, apx)""".stripMargin))
    // 10% gate on an rsd-2% sketch = a 5-sigma margin: the estimate is
    // deterministic per fixture but fixtures regenerate between rounds,
    // and a 5% gate (2.5 sigma, ~1% tail per high-NDV column) would
    // eventually pin a persistent red against the oracle's literal true
    tableStats(spark, sfDir)
      .join(broadcast(apx), "column_name")
      .select(col("column_name"), col("n_rows"), col("ndv"),
        col("n_nulls"), col("min_v"), col("max_v"),
        (abs(col("apx") - col("ndv")).cast("double") / col("ndv") <= 0.10)
          .as("ndv_ok"))
      .orderBy(col("column_name").asc)
  }

  /** `agg_theta_sketch` — audience-overlap via theta sketches, the
    * distinct-count sketch family with SET ALGEBRA (see
    * [[graft.functions.ThetaAggs]]): per event type a mergeable theta
    * sketch of user ids is built in one keyed pass (sketch bytes, never
    * raw ids, cross the partial/final shuffle), then every type PAIR
    * reports its user-base intersection and union — the "how many
    * distinct users did BOTH" question HLL structurally cannot answer.
    *
    * The pair frame is a literal of the verified fixture event-type
    * domain equi-joined twice against the 5 sketch rows (broadcast) —
    * keyed on purpose: an inequality self-join would plan a
    * nested-loop product, which declared plans ban. Estimates are in
    * the sketch's EXACT regime at every fixture SF (≤1500 users <
    * 2^12), so the whole output full-oracles against DuckDB's exact
    * pair counts; at 100 TB the identical plan returns ±~1.6%
    * estimates from the same fixed-size sketch bytes.
    */
  def aggThetaSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.ThetaAggs
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val sk = ev.groupBy(col("event_type"))
      .agg(ThetaAggs.thetaSketch(col("user_id")).as("sk"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pairDf = spark.createDataFrame(
      types.combinations(2).map(p => (p.head, p(1))).toSeq)
      .toDF("event_a", "event_b")
    pairDf
      .join(broadcast(sk.select(col("event_type").as("event_a"),
        col("sk").as("sk_a"))), "event_a")
      .join(broadcast(sk.select(col("event_type").as("event_b"),
        col("sk").as("sk_b"))), "event_b")
      .select(col("event_a"), col("event_b"),
        round(ThetaAggs.thetaIntersectEstimate(col("sk_a"), col("sk_b")))
          .cast("long").as("users_both"),
        round(ThetaAggs.thetaUnionEstimate(col("sk_a"), col("sk_b")))
          .cast("long").as("users_either"))
      .orderBy(col("event_a").asc, col("event_b").asc)
  }

  /** `agg_bitmap_rollup` — EXACT re-aggregatable distinct counts via the
    * bitmap aggregate surface (`bitmap_bit_position` →
    * `bitmap_construct_agg` → `bitmap_or_agg` → `bitmap_count`): per
    * (event_type, day, bucket) fixed-4KB bitmaps are built once, then
    * OR-merged across days and summed into the per-type user count.
    * Same incremental-rollup shape as [[aggHllRollup]] but EXACT — the
    * bitmap partials are lossless, so stored nightly partials merge
    * forever with no error budget; the cost is 4 KB per (group,
    * 32768-id bucket) instead of HLL's fixed-size sketch, the right
    * trade when the id space per group is bounded (users, SKUs). At
    * 100 TB the daily pass is one keyed shuffle over (type, day,
    * bucket) with map-side partial aggregation; the merge passes touch
    * only report-sized bitmap partials, never history rows.
    *
    * Bucket numbers never surface in the output (Spark's
    * `bitmap_bucket_number(0)` edge case differs from a naive floor
    * division, and ids here start at 0) — only the merged exact counts
    * do, which oracle as plain `count(DISTINCT …)`.
    */
  def aggBitmapRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy(col("event_type"), col("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
    val merged = daily.groupBy(col("event_type"), col("bucket"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("exact_users"))
    val days = daily.select(col("event_type"), col("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    merged.join(days, "event_type")
      .select(col("event_type"), col("exact_users"), col("n_days"))
      .orderBy(col("event_type").asc)
  }

  /** `agg_map_agg` — Presto/Athena `map_agg(k, v)`: per order priority,
    * the status→count map, built through Spark's actual MAP type
    * (collect entries → map_from_entries) and serialized to a sorted
    * `k=v` CSV for the comparator (map columns are unhashable there —
    * the `agg_collect` rule; statuses are single chars, so the
    * lexicographic entry sort equals ORDER BY key). Two keyed
    * aggregations, both partial-aggregating map-side.
    */
  def aggMapAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        collect_list(struct(col("o_orderstatus"), col("cnt")))).as("m"))
      .select(col("o_orderpriority"),
        array_join(array_sort(transform(map_entries(col("m")),
          e => concat_ws("=", e.getField("key"), e.getField("value")))),
          ",").as("status_counts"))
      .orderBy(col("o_orderpriority").asc)

  /** `agg_argmax` — `max_by`/`min_by` (Presto's arg-max surface; DuckDB
    * `arg_max`/`arg_min`): per return flag, which lineitem carries the
    * extreme extended price. Raw max_by is engine-arbitrary on value
    * ties, so the ordering value is made UNIQUE by packing exact price
    * cents with the (orderkey, linenumber) row identity into one BIGINT
    * — both engines then pick the same row deterministically (the
    * `agg_mode_median` tie-pinning rule, done arithmetically instead of
    * with a window).
    */
  def aggArgMax(spark: SparkSession, sfDir: String): DataFrame = {
    // cents ≤ ~1.1e7, row id = okey*10+lineno ≤ ~6e7 < 1e8 → packed
    // value < 1.2e15, exact in BIGINT on both engines
    val ord = (round(col("l_extendedprice") * 100, 0).cast("long")
      * 100000000L) + (col("l_orderkey") * 10L + col("l_linenumber"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        max_by(concat_ws(":", col("l_orderkey"), col("l_linenumber")), ord)
          .as("max_price_item"),
        min_by(concat_ws(":", col("l_orderkey"), col("l_linenumber")), ord)
          .as("min_price_item"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(min(col("l_extendedprice")), 2).as("min_price"))
      .orderBy(col("l_returnflag").asc)
  }

  /** `agg_rollup` — GROUP BY ROLLUP hierarchy with grouping_id. */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** `agg_cube` — GROUP BY CUBE (all key subsets). */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** `agg_grouping_sets` — explicit GROUPING SETS via SQL. */
  def aggGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |       COUNT(1) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** `agg_histogram` — equal-width 10-bucket histogram of order totals.
    * Bounds come from a 1-row broadcast cross join (no driver action);
    * bucketing is plain IEEE double arithmetic written identically on
    * both engines, so bucket assignment is bit-stable cross-engine.
    */
  def aggHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val bounds = ord.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    ord.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("lo")) /
          ((col("hi") - col("lo")) / 10)), lit(9.0)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("bucket").asc)
  }

  /** `agg_mode_median` — central-tendency aggregates with deterministic
    * tie-breaking: per group, the exact interpolated median and the mode
    * defined as the SMALLEST value among the most frequent (raw `mode()`
    * is engine-arbitrary on count ties, so it's not oracle-safe; this
    * window formulation pins it). Mode = one keyed count + a per-group
    * top-1 window on the (much smaller) distinct-value frame; median =
    * one partial+final percentile aggregate.
    */
  def aggModeMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    val mode = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 4).as("median_qty"))
    mode.join(med, "l_returnflag")
      .select(col("l_returnflag"), col("mode_qty"), col("median_qty"))
      .orderBy(col("l_returnflag").asc)
  }

  /** `agg_stats` — statistical aggregates: correlation, covariance,
    * stddev/variance (exact 6dp cross-engine agreement, verified), and
    * skewness/kurtosis (3dp — higher moments accumulate float drift
    * between engines in the 6th decimal).
    */
  def aggStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("covar_qty_price"),
        round(stddev_samp(col("l_quantity")), 6).as("stddev_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(skewness(col("l_quantity")), 3).as("skew_qty"),
        round(kurtosis(col("l_quantity")), 3).as("kurt_qty"))
      .orderBy(col("l_returnflag").asc)

  /** `agg_conditional` — the conditional/selective aggregate family:
    * count_if, bool_and, bool_or, and a tie-safe max_by (argmax keyed on
    * a zero-padded (price, orderkey) string so ties are broken by key —
    * raw max_by on a non-unique ordering value is engine-arbitrary and
    * not oracle-safe).
    */
  def aggConditional(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("count_if(o_totalprice > 200000)").as("n_big"),
        expr("bool_and(o_totalprice > 0)").as("all_pos"),
        expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
        max_by(col("o_orderkey"),
          format_string("%020.2f|%019d", col("o_totalprice"),
            col("o_orderkey"))).as("top_order"))
      .orderBy(col("o_orderpriority").asc)

  /** `agg_filter_clause` — the ANSI `FILTER (WHERE …)` aggregate
    * modifier (Presto/DuckDB/Spark 3+ all speak it), the standard-SQL
    * sibling of [[aggConditional]]'s count_if/CASE forms: per status,
    * quarterly revenue splits in ONE pass — each FILTER prunes its own
    * aggregate's input row-locally, so four conditional sums still cost
    * one partial+final aggregation, never four scans.
    */
  def aggFilterClause(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderstatus,
        |  COUNT(1) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE quarter(o_orderdate) = 1) AS DOUBLE) AS rev_q1,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE quarter(o_orderdate) = 4) AS DOUBLE) AS rev_q4,
        |  COUNT(DISTINCT o_custkey)
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_custs
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC""".stripMargin)
  }

  /** `agg_pivot` — groupBy().pivot() with an explicit value list (fixed
    * output schema → deterministic; an unbounded pivot would scan for
    * distinct values first). Oracle form: conditional aggregation.
    */
  def aggPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec(col("o_totalprice"))).cast("double"))
      .withColumnsRenamed(Map("F" -> "sum_f", "O" -> "sum_o", "P" -> "sum_p"))
      .orderBy(col("o_orderpriority").asc)

  /** `agg_unpivot` — melt wide columns back to (key, variable, value)
    * rows (DataFrame.unpivot / SQL UNPIVOT). Oracle form: UNION ALL.
    */
  def aggUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_acctbal"),
        col("s_nationkey").cast("double").as("s_nation_d"))
      .unpivot(
        ids = Array(col("s_suppkey")),
        values = Array(col("s_acctbal"), col("s_nation_d")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy(col("s_suppkey").asc, col("metric").asc)

  /** `agg_grouping_fn` — GROUPING()/grouping_id() metadata over a
    * rollup: distinguishes "NULL because subtotal" from "NULL in data",
    * the standard way BI layers consume rollup output.
    */
  def aggGroupingFn(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))
      .orderBy(col("o_orderstatus").asc_nulls_last,
        col("o_orderpriority").asc_nulls_last)

  /** `agg_having` — post-aggregation filter. */
  def aggHaving(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") > 50L)
      .orderBy(col("l_suppkey").asc)

  /** `agg_percentile` — exact continuous percentiles; Spark `percentile`
    * and DuckDB `quantile_cont` share linear interpolation semantics.
    * Final round(4) guards residual float jitter (SURVEY.md §5.3.3).
    */
  def aggPercentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      .orderBy(col("l_returnflag").asc)

  /** `agg_collect` — collect_list/collect_set, sorted for determinism
    * (array order out of a shuffle is arbitrary — SURVEY.md §2.D).
    * Outputs are serialized to sorted CSV strings: the driver comparator
    * sorts rows by every column before hashing, and array columns are
    * unhashable there (CORRECTNESS_r01 ERR — VERDICT r1 #1).
    */
  def aggCollect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .groupBy(col("n_regionkey"))
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        array_join(array_sort(collect_set(col("n_regionkey").cast("string"))),
          ",").as("keys"))
      .orderBy(col("n_regionkey").asc)

  /** `agg_listagg` — ANSI LISTAGG ... WITHIN GROUP (ORDER BY ...) on
    * the SQL surface (Spark 4.0+): the string-concatenation aggregate
    * Presto/Athena users write as listagg/string_agg. DISTINCT + the
    * WITHIN GROUP sort make the output order-deterministic through any
    * shuffle; DuckDB's `string_agg(DISTINCT x, sep ORDER BY x)` is the
    * oracle equivalent.
    */
  def aggListagg(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderstatus,
        |  listagg(DISTINCT o_orderpriority, '|')
        |    WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC""".stripMargin)
  }

  /** `agg_sortagg` — aggregation on a high-cardinality key: same API,
    * but the planner can pick SortAggregate / spill under memory
    * pressure; at 100 TB this is the "group by near-unique key" shape.
    */
  def aggSortAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("order_total"),
        max(col("l_shipdate")).as("last_ship"),
        count(lit(1)).as("n_lines"))
      .filter(col("n_lines") >= 6L)
      .orderBy(col("l_orderkey").asc)
}
