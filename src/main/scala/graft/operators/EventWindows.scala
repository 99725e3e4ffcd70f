package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Relational.{dec, dec28, dec38}

/** Time-window operators over the `events` table — the BATCH forms of the
  * streaming operators (SURVEY.md §2.I design rule: every streaming op
  * has a batch-mode equivalent declared to the DuckDB oracle; the
  * incremental forms live in graft.streaming.Streams and share these
  * window semantics). The series rows build their series, hourly grid
  * and recurrences from [[TimeSeries]].
  *
  * ts note: since the 2026-08-13 fixture regeneration, events.ts is
  * parquet timestamp[us] (FIXTURES.md) — Spark and DuckDB read the same
  * µs values directly, and all bucket edges here are ≥1 minute, so
  * bucketing is precision-safe (SURVEY.md §5.3.4).
  */
object EventWindows {

  /** `stream_tumbling` — 1-hour tumbling window count/sum per event_type.
    * Batch form of `Streams.tumblingCounts`.
    */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win_start").asc, col("event_type").asc)

  /** `stream_sliding` — 1-hour window sliding every 15 minutes: each
    * event lands in 4 overlapping windows.
    */
  def sliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"))
      .orderBy(col("win_start").asc, col("event_type").asc)

  /** `stream_session` — 30-minute-gap session windows per user, as the
    * batch gap-and-island composition: flag gaps > 30min via lag, running
    * sum of flags = session id, then aggregate per session. This is the
    * exact semantics of streaming `session_window` (equivalence tested in
    * StreamingSpec on the same data).
    *
    * Scale: one shuffle on user_id; sessions never cross users, so state
    * is bounded per key.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_trunc("second", min(col("ts"))).as("session_start"),
        sum(dec(col("value"))).cast("double").as("session_value"))
      .orderBy(col("user_id").asc, col("session_id").asc)
  }

  /** `ts_gapfill` — time-series resampling with gap fill: bucket each
    * user's events to an hourly grid spanning exactly their active
    * range, emit empty buckets with count 0, and forward-fill the last
    * observed hourly value (the standard resample→ffill shape, as one
    * lazy DAG: hourly series → [[TimeSeries.hourlyGrid]]).
    *
    * Scale: grid size is bounded by span/bucket per user; everything
    * shuffles on user_id; no driver-side time iteration.
    */
  def tsGapfill(spark: SparkSession, sfDir: String): DataFrame =
    tsGapfillEvents(Tables.events(spark, sfDir))

  /** Core of `ts_gapfill` over any (user_id, ts, value) frame. */
  def tsGapfillEvents(events: DataFrame): DataFrame = {
    val obs = TimeSeries.hourly(events, "user_id")
      .select(col("user_id"), col("bucket"), col("n_events"),
        col("rev").cast("double").as("v"))
    TimeSeries.hourlyGrid(obs, "user_id", "v")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("pv").as("filled_value"))
      .orderBy(col("user_id").asc, col("bucket").asc)
  }

  /** `ts_interpolate` — resample to an hourly grid with LINEAR
    * interpolation between observed points (ts_gapfill's forward-fill
    * sibling): missing buckets get prev + (next−prev)·(t−tp)/(tn−tp);
    * leading/trailing gaps take the nearest observed value. The hourly
    * value is an exact DECIMAL mean cast to double, so both engines
    * interpolate from identical inputs.
    *
    * Scale: same shape as gapfill — one keyed agg, the carries over the
    * observed buckets, and a per-user grid explode.
    */
  def tsInterpolate(spark: SparkSession, sfDir: String): DataFrame =
    tsInterpolateEvents(Tables.events(spark, sfDir))

  /** Core of `ts_interpolate` over any (user_id, ts, value) frame. */
  def tsInterpolateEvents(events: DataFrame): DataFrame = {
    val obs = TimeSeries.hourly(events, "user_id")
      .select(col("user_id"), col("bucket"),
        (col("rev").cast("double") / col("n_events")).as("v"))
    TimeSeries.hourlyGrid(obs, "user_id", "v")
      // no rounding: every term is the same IEEE double on both engines
      // (exact DECIMAL mean, integer-second deltas), so the raw result
      // is bit-identical — round(,4) actually BREAKS the match at
      // .xxxx5 edges (engines scale-and-round differently)
      .withColumn("interp",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (unix_timestamp(col("bucket")) - unix_timestamp(col("pt")))
              .cast("double") /
            (unix_timestamp(col("nt")) - unix_timestamp(col("pt")))
              .cast("double")))
      .select(col("user_id"), col("bucket"), col("interp"))
      .orderBy(col("user_id").asc, col("bucket").asc)
  }

  /** `ts_resample` — OHLC downsampling: 6-hour bars per event type with
    * open/high/low/close and the bar's event count — the classic
    * time-series resample (finance bars, metrics rollups). Open/close
    * are `min_by`/`max_by` over a UNIQUE packed ordering value (epoch
    * millis · 10⁶ + event_id, exact in BIGINT for any fixture —
    * event_id < 10⁶, ms < 2·10¹²), so same-millisecond ties cannot make
    * the picked row engine-arbitrary (the `agg_argmax` rule). The
    * bucket is day-truncate + 6·⌊hour/6⌋ interval arithmetic —
    * identical bucketing in both engines without a nonstandard
    * `time_bucket`.
    *
    * Scale: ONE keyed partial+final aggregation over (type, bucket) —
    * min_by/max_by carry a single (value, ord) pair of state per
    * group, so the shuffle moves 5·4·|days| tiny rows regardless of
    * input size; no window, no sort before the declared ORDER BY.
    */
  def tsResample(spark: SparkSession, sfDir: String): DataFrame =
    tsResampleEvents(Tables.events(spark, sfDir))

  /** Core of `ts_resample` over any (event_type, ts, value, event_id)
    * frame.
    */
  def tsResampleEvents(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      // hour-truncate minus the in-bucket offset (≡ day + 6·⌊h/6⌋) —
      // this form keeps DuckDB's result in the ns timestamp family the
      // events column already has, so the compared schemas agree
      .withColumn("bucket", expr(
        "date_trunc('HOUR', ts) - (CAST(hour(ts) AS INT) % 6) * INTERVAL '1' HOUR"))
      .withColumn("ord",
        unix_millis(col("ts")) * 1000000L + col("event_id"))
    ev.groupBy(col("event_type"), col("bucket"))
      .agg(min_by(col("value"), col("ord")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ord")).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  /** `event_path` — per-user ordered journey string ("view>click>…"),
    * the path-analysis primitive funnels and Markov attribution build
    * on. Ordering is total and engine-identical: (epoch millis,
    * event_id) — the unique id breaks same-millisecond ties, and
    * millis (not the raw timestamp) sidesteps the ns-vs-µs precision
    * split between engines (FIXTURES.md events.ts rule).
    *
    * Scale: one keyed partial+final aggregation; collect_list partials
    * merge on the reduce side and the row-local sort is per-user
    * (bounded by a user's own event count — the same per-key
    * collect+sort shape the r8 single-pass window alternative uses).
    */
  def eventPath(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ms"), col("event_id"),
            col("event_type")))),
          s => s.getField("event_type")), ">").as("path"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id").asc)

  /** `event_funnel` — ordered-step funnel: users whose first view is
    * followed by a click, then a purchase (strictly increasing event
    * time). Three keyed aggregations + two keyed joins — each stage
    * prunes the next stage's input, no window over raw events.
    */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .agg(count(col("t1")).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_view_click_purchase"))
  }

  /** `event_pattern` — MATCH_RECOGNIZE-style sequence-pattern matching
    * over each user's ordered event stream (the CEP surface Flink and
    * Oracle expose as SQL MATCH_RECOGNIZE; Spark has no native form).
    * Each user's events collapse to one code string in total
    * (epoch-millis, event_id) order — [[eventPath]]'s keyed
    * collect+sort shape — and the PATTERN clause becomes a row-local
    * LAZY regex over it: `v.*?c.*?p` counts non-overlapping
    * view→click→purchase conversions (lazy quantifiers = earliest
    * completion, the leftmost-match automaton scan), and
    * `v[^e]*?c[^e]*?p` the conversions with no error event anywhere
    * inside the matched span. Lazy leftmost semantics are identical
    * between java.util.regex and DuckDB's RE2 (both Perl-style
    * leftmost-first; verified on the boundary cases — greedy
    * quantifiers would also agree but count fewer, longer matches).
    *
    * Shape: ONE keyed partial+final aggregation; the sort and both
    * regex scans are row-local, bounded by a user's own event count.
    * No window over raw events, no self-join — at 100 TB this is one
    * shuffle of (user, code-char) pairs.
    */
  def eventPattern(spark: SparkSession, sfDir: String): DataFrame =
    eventPatternEvents(Tables.events(spark, sfDir))

  /** Core of `event_pattern` over any (user_id, ts, event_id,
    * event_type) frame. */
  def eventPatternEvents(events: DataFrame): DataFrame = {
    val code = expr("""CASE event_type WHEN 'view' THEN 'v'
      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
      WHEN 'signup' THEN 's' ELSE 'e' END""")
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), code.as("code"))
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ms"), col("event_id"),
          col("code")))),
        s => s.getField("code")), "").as("codes"))
      .select(col("user_id"),
        length(col("codes")).cast("long").as("n_events"),
        regexp_count(col("codes"), lit("v.*?c.*?p")).cast("long")
          .as("n_conv"),
        regexp_count(col("codes"), lit("v[^e]*?c[^e]*?p")).cast("long")
          .as("n_clean_conv"))
      .orderBy(col("user_id").asc)
  }

  /** `event_pattern_sessioned` — the CEP funnel bounded to SESSION
    * windows (r12 verdict #7): `event_pattern` concatenates each
    * user's WHOLE history, which is the right declared semantics for a
    * batch funnel report but unbounded per-key state in a true stream
    * (and a conversion funnel spanning weeks is rarely one funnel).
    * This variant scopes the v→c→p matching to 30-min-inactivity
    * sessions via Spark's native `session_window` aggregation — the
    * SAME expression works under `readStream` + watermark, where the
    * state store holds only open sessions and the watermark closes and
    * EVICTS them (the stream_session treatment); per-group work is
    * session-sized, not history-sized, at any corpus age.
    */
  def eventPatternSessioned(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame =
    eventPatternSessionedEvents(Tables.events(spark, sfDir), gapMinutes)

  /** Core of [[eventPatternSessioned]] over any (user_id, ts, event_id,
    * event_type) frame. Session bound: windows [ts, ts+gap) merge on
    * overlap, so a gap of EXACTLY `gapMinutes` starts a new session —
    * replicated in the oracle's gaps-and-islands as `diff >= gap`.
    */
  def eventPatternSessionedEvents(events: DataFrame,
      gapMinutes: Int = 30): DataFrame =
    sessionFunnelAgg(events, gapMinutes)
      .orderBy(col("user_id").asc, col("session_start").asc)

  /** The un-sorted session-funnel aggregation — IDENTICAL under batch
    * and `readStream` (StreamingSpec runs it both ways); the declared
    * batch query adds only the presentation sort, which streaming
    * append mode forbids.
    */
  private[graft] def sessionFunnelAgg(events: DataFrame,
      gapMinutes: Int): DataFrame = {
    val code = expr("""CASE event_type WHEN 'view' THEN 'v'
      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
      WHEN 'signup' THEN 's' ELSE 'e' END""")
    events
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"),
        col("event_id"), code.as("code"))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ms"), col("event_id"),
          col("code")))),
        s => s.getField("code")), "").as("codes"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        length(col("codes")).cast("long").as("n_events"),
        regexp_count(col("codes"), lit("v.*?c.*?p")).cast("long")
          .as("n_conv"),
        regexp_count(col("codes"), lit("v[^e]*?c[^e]*?p")).cast("long")
          .as("n_clean_conv"))
  }

  /** `retention_cohort` — classic cohort retention: users grouped by the
    * day of their first event; for each (cohort day, day offset), how
    * many distinct cohort users were active. Two keyed aggs + one join
    * on user_id.
    */
  def retentionCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val firstDay = ev.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort"))
    val active = ev
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    active.join(firstDay, "user_id")
      .groupBy(col("cohort"),
        datediff(col("d").cast("date"), col("cohort").cast("date"))
          .as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort").asc, col("day_offset").asc)
  }

  /** `stream_dedup` — dedup on event_id; batch form of the
    * watermark-bounded streaming dropDuplicates. Deterministic because
    * event_id is unique in the fixture (verified); at scale the streaming
    * form bounds state with the watermark.
    */
  def dedupEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id").asc)

  /** `stream_join` — click→purchase attribution: each purchase joined to
    * the same user's clicks in the preceding 30 minutes. Batch form of
    * the watermarked stream-stream interval join
    * (`Streams.clickPurchaseJoin`; equivalence tested in StreamingSpec).
    *
    * Scale: an equi-join keyed on user_id with the time band as a
    * post-join filter — a keyed shuffle join, never a nested-loop
    * product (same shape as join_theta_range). In the streaming form the
    * watermark bounds both sides' state to the interval width.
    */
  def streamJoinBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("click_ts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("gap_sec"))
      .orderBy(col("user_id").asc, col("purchase_id").asc,
        col("click_id").asc)
  }

  /** `stream_join_outer` — batch form of the watermarked stream-stream
    * LEFT OUTER attribution join (`Streams.clickPurchaseJoinOuter`):
    * every purchase appears; purchases with no same-user click in the
    * preceding 30 minutes carry NULL click_id/gap_sec. In batch the
    * NULL rows are just the unmatched side of a LEFT JOIN; in streaming
    * they are emitted only once the watermark proves no future click
    * can match — the semantics StreamingSpec pins down with
    * MemoryStream. Same scale shape as the inner form: an equi-join
    * keyed on user_id with the time band as a join-condition filter.
    */
  def streamJoinOuterBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    purchases.join(clicks,
        col("p_user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left")
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("click_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("gap_sec"))
      .orderBy(col("user_id").asc, col("purchase_id").asc,
        col("click_id").asc_nulls_first)
  }

  /** `stream_join_full` — batch form of the watermarked stream-stream
    * FULL OUTER attribution join (`Streams.clickPurchaseJoinFull`):
    * unmatched purchases AND unmatched clicks both appear, NULL-padded
    * on the other side.
    */
  def streamJoinFullBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    purchases.join(clicks,
        col("p_user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "full")
      .select(coalesce(col("p_user_id"), col("c_user_id")).as("user_id"),
        col("purchase_id"), col("click_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("gap_sec"))
      .orderBy(col("user_id").asc, col("purchase_id").asc_nulls_first,
        col("click_id").asc_nulls_first)
  }

  /** `stream_join_semi` — batch form of the watermarked stream-stream
    * LEFT SEMI attribution join (`Streams.clickPurchaseJoinSemi`):
    * purchases with at least one qualifying click, no click columns, no
    * row multiplication.
    */
  def streamJoinSemiBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    purchases.join(clicks,
        col("p_user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_semi")
      .select(col("p_user_id").as("user_id"), col("purchase_id"))
      .orderBy(col("user_id").asc, col("purchase_id").asc)
  }

  /** `stream_static_join` — batch form of the stream-static dim
    * enrichment (`Streams.enrichWithCustomer`): purchase events joined
    * to the static customer table. In streaming this is the stateless
    * join class — the static side is (re)read per micro-batch, no join
    * state, no watermark needed — the standard shape for enriching an
    * event stream with a dimension at any scale (the dim broadcasts or
    * shuffles exactly as in batch).
    */
  def streamStaticJoinBatch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")), "user_id")
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("value"))
      .orderBy(col("event_id").asc)

  /** `stream_stateful` — running per-user purchase total (batch form of
    * the transformWithState processor in Streams): cumulative sum over
    * the user's purchase history.
    */
  def statefulRunningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        sum(dec(col("value"))).over(w).cast("double")
          .as("running_purchases"))
      .orderBy(col("user_id").asc, col("event_id").asc)
  }

  /** `stream_state_ttl` — batch (event-time) shape of TTL'd keyed state
    * (Streams.runningTotalsWithTtl, a TTL'd RunningTotalProcessor): per
    * user, the purchase count and total that would still be live under
    * a 30-minute state TTL at corpus end — i.e. only purchases within
    * 30 minutes of that user's most recent purchase. The wall-clock
    * eviction semantics (state vanishing between micro-batches) are
    * streaming-only and pinned by StreamingSpec; this query is the
    * DuckDB-checkable projection of the same retention rule.
    *
    * Scale: the window max and the groupBy hash-partition on the same
    * key, so Catalyst reuses one Exchange — one user_id shuffle total.
    */
  def stateTtlBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .withColumn("max_ts", max(col("ts")).over(w))
      .filter(col("ts") > col("max_ts") - expr("INTERVAL 30 MINUTES"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_live"),
        sum(dec(col("value"))).cast("double").as("live_value"))
      .orderBy(col("user_id").asc)
  }

  /** `stream_anomaly` — the PREQUENTIAL (online) z-score, the form a
    * streaming monitor actually computes: each event type's HOURLY
    * value sum is scored against the moments of all STRICTLY EARLIER
    * hours of its series — history only, never the future — so the
    * score a batch backfill assigns equals what the live stream
    * assigned at the time. This batch form is the declared, oracled
    * twin; [[graft.streaming.Streams.anomalyScores]] is the streaming
    * form (transformWithState + event-time timers closing hour buckets
    * at the watermark), and StreamingSpec asserts file-replay equality.
    *
    * Shape: one keyed hourly aggregate, then per-series running-moment
    * windows ordered by bucket (rows unbounded-preceding → -1) — both
    * keyed on event_type, bucket-count-sized after the first agg.
    * Determinism: the ts_anomaly decimal discipline — exact
    * DECIMAL(18,4) bucket sums; moment terms snapped to DECIMAL(28,4)/
    * DECIMAL(38,4) before the ORDERED window sums; one IEEE tree for
    * μ/σ/z; flag on the 6dp-ROUNDED z. Fewer than 2 prior buckets or
    * zero variance ⇒ z = 0 in both engines.
    */
  def streamAnomalyBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = TimeSeries.hourly(Tables.events(spark, sfDir), "event_type")
      .withColumn("x", col("rev").cast("double"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def varp = col("sxx") / col("n") -
      (col("sx") / col("n")) * (col("sx") / col("n"))
    hourly
      .select(col("event_type"), col("bucket"), col("x"),
        count(lit(1)).over(w).cast("double").as("n"),
        sum(dec28(col("x"))).over(w).cast("double").as("sx"),
        sum(dec38(col("x") * col("x"))).over(w).cast("double").as("sxx"))
      .select(col("event_type"), col("bucket"), col("x").as("bucket_value"),
        when(col("n") < 2.0 || varp <= 0.0, lit(0.0))
          .otherwise(round((col("x") - col("sx") / col("n")) / sqrt(varp),
            6)).as("z"))
      .withColumn("anomaly", when(abs(col("z")) > 2.0, 1).otherwise(0))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  /** `ts_seasonal` — seasonal decomposition of each event series: daily
    * revenue splits into a day-of-week SEASONAL component (the mean of
    * that series' same-weekday days — the seasonal-means step of an
    * STL-style decomposition) and a RESIDUAL (day minus its weekday
    * mean), the deseasonalized signal `ts_anomaly` would rather score.
    *
    * Shape: one keyed daily aggregate, one (series, weekday) aggregate
    * over it (≤ 7 rows per series), one keyed join back — day-count-
    * sized after the first agg at any corpus size, no window at all.
    *
    * Determinism (the ts_anomaly discipline): day revenue is an exact
    * DECIMAL(18,4) sum; weekday sums snap to DECIMAL(28,4); the mean
    * and residual run ONE IEEE double tree in both engines and round
    * at 4/6dp. Weekday is engine-neutral arithmetic — days since
    * Monday 1970-01-05 mod 7 (0 = Monday) — not the engines'
    * off-by-one `dayofweek` builtins.
    */
  def tsSeasonal(spark: SparkSession, sfDir: String): DataFrame =
    tsSeasonalEvents(Tables.events(spark, sfDir))

  /** Core of `ts_seasonal` over any (event_type, ts, value) frame. */
  def tsSeasonalEvents(events: DataFrame): DataFrame = {
    val daily = TimeSeries.daily(events)
      .withColumn("x", col("rev").cast("double"))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-05").cast("date")), lit(7)))
    val seasonal = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(dec28(col("rev"))).cast("double").as("sxd"),
        count(lit(1)).cast("double").as("n"))
    daily.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("x"), 4).as("day_value"),
        round(col("sxd") / col("n"), 6).as("seasonal"),
        round(col("x") - col("sxd") / col("n"), 6).as("residual"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** `ts_acf` — the autocorrelation function by lag, the classic
    * seasonality/periodicity DIAGNOSTIC that precedes `ts_seasonal`/
    * `ts_stl` in a real pipeline (a weekly cycle shows as an ACF peak
    * at lag 7 BEFORE anyone commits to a decomposition period): per
    * event series, acf(k) = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² for
    * k = 1..maxLag over the daily revenue series.
    *
    * Exactness (SURVEY §5.3 rule 8 — clear the denominator): the mean
    * μ = S/n is rational, so both sums are computed over the exact
    * integers y_t = n·x_t − S (x in scale-4 BIGINT units; the common
    * 1/n² factor cancels in the ratio). y ≲ n·x ~ 1.5e11 fits a Long;
    * the PRODUCTS y·y ~ 2e22 do not — they accumulate in
    * DECIMAL(38,0) (HUGEINT in the oracle; exact integer sums are
    * order-free). The ONLY division is the final num/den at 6 dp.
    *
    * Shape: one keyed daily aggregate, a 5-row broadcast (n, S)
    * attach, ONE window pass producing all maxLag lead columns
    * (series-sized partitions after the first agg — the ts-family
    * bound), one keyed aggregate; the lag unpivot is row-local.
    * A lead past the series end is NULL, so num_k sums exactly the
    * n−k overlapping pairs — the same pair set as the oracle's
    * offset self-join.
    */
  def tsAcf(spark: SparkSession, sfDir: String,
      maxLag: Int = 7): DataFrame =
    tsAcfEvents(Tables.events(spark, sfDir), maxLag)

  /** Core of `ts_acf` over any (event_type, ts, value) frame. */
  def tsAcfEvents(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = TimeSeries.daily(events)
      .select(col("event_type"), col("day"),
        TimeSeries.fp(col("rev")).as("xu"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("xu")).as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val y = daily.join(broadcast(stats), "event_type")
      .withColumn("y",
        (col("n") * col("xu") - col("s")).cast("decimal(19,0)"))
    val withLeads = (1 to maxLag).foldLeft(y)((df, k) =>
      df.withColumn(s"y$k", lead(col("y"), k).over(w)))
    val aggCols = sum(col("y") * col("y")).as("den") +:
      (1 to maxLag).map(k => sum(col("y") * col(s"y$k")).as(s"num$k"))
    withLeads.groupBy(col("event_type"), col("n"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("event_type"), col("n").as("n_days"), col("den"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"num$k").as("num"))): _*)).as("e"))
      // a series shorter than the lag has no pairs (num NULL) — no row
      .filter(col("e.num").isNotNull)
      .select(col("event_type"), col("e.lag").as("lag"), col("n_days"),
        round(col("e.num").cast("double") / col("den").cast("double"), 6)
          .as("acf"))
      .orderBy(col("event_type").asc, col("lag").asc)
  }

  /** `ts_stl` — full additive decomposition of each event series
    * (classical decompose / STL-lite; completes `ts_seasonal`, which
    * extracts seasonality only): day_value = TREND (centered 7-day
    * moving mean — the moving-average trend step classical decompose
    * uses where STL fits loess) + SEASONAL (weekday mean of the
    * DEtrended days, so a rising series doesn't contaminate the
    * weekday profile — the exact flaw of seasonal-means-on-raw) +
    * RESIDUAL.
    *
    * Shape: one keyed daily aggregate, one 7-row window per series
    * (day-count-sized input — the monitors' post-first-agg bound), one
    * ≤7-rows-per-series weekday aggregate, one keyed join back.
    *
    * Exactness (SURVEY §5.3, the ts-family discipline, with NO
    * mid-pipeline division): day revenue snaps to scale-4 BIGINT; the
    * trend stays a RATIONAL (trend_num = Σ±3 window, trend_cnt) so
    * detrending is the exact integer x·cnt − num; weekday means of
    * those rationals clear denominators through 420 = lcm(1..7)
    * (window counts are 4..7 — edges keep partial windows — and every
    * count divides 420), so the seasonal numerator is again an exact
    * BIGINT. The three output components are each ONE mirrored IEEE
    * double tree over exact integers, rounded at 4/6dp. Headroom:
    * |seasonal_num| ≤ 420·7·maxday·1e4·|days| ≲ 10¹⁶ on fixtures 10³×
    * larger than sf0.1.
    */
  def tsStl(spark: SparkSession, sfDir: String): DataFrame =
    tsStlEvents(Tables.events(spark, sfDir))

  /** Core of `ts_stl` over any (event_type, ts, value) frame. */
  def tsStlEvents(events: DataFrame): DataFrame = {
    val daily = TimeSeries.daily(events)
      .select(col("event_type"), col("day"),
        TimeSeries.fp(col("rev")).as("xu"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      .rowsBetween(-3, 3)
    val tr = daily
      .withColumn("tn", sum(col("xu")).over(w))
      .withColumn("tc", count(lit(1)).over(w))
      .withColumn("dn", col("xu") * col("tc") - col("tn"))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-05").cast("date")), lit(7)))
    val se = tr.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("dn") * (lit(420L) / col("tc")).cast("long")).as("sn"),
        count(lit(1)).as("n"))
    tr.join(se, Seq("event_type", "dow"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        TimeSeries.display(col("xu")).as("day_value"),
        round(col("tn").cast("double") / col("tc").cast("double")
          / 10000.0, 6).as("trend"),
        round(col("sn").cast("double")
          / (lit(420.0) * col("n").cast("double")) / 10000.0, 6)
          .as("seasonal"),
        round(col("xu").cast("double") / 10000.0
          - col("tn").cast("double") / col("tc").cast("double") / 10000.0
          - col("sn").cast("double")
            / (lit(420.0) * col("n").cast("double")) / 10000.0, 6)
          .as("residual"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** `ts_forecast` — Holt's linear-trend exponential smoothing (the
    * two-parameter workhorse of classical forecasting) per event
    * series, with one-step-ahead forecasts: level and trend update as
    * l_t = (x_t + l + b) / 2, b_t = ((l_t − l) + b) / 2 (α = β = ½),
    * and day t's forecast is the PRIOR state's l + b — history only,
    * the prequential discipline `stream_anomaly` set. The recursion is
    * inherently sequential per series, so it folds per series
    * ([[TimeSeries.holt]] over [[TimeSeries.foldDays]]: one keyed
    * shuffle, bounded by a series' own day count — never corpus-sized),
    * in the kit's fixed point; the oracle replays the same integer
    * recursion as a recursive CTE.
    */
  def tsForecast(spark: SparkSession, sfDir: String): DataFrame =
    tsForecastEvents(Tables.events(spark, sfDir))

  /** Core of `ts_forecast` over any (event_type, ts, value) frame. */
  def tsForecastEvents(events: DataFrame): DataFrame =
    forecastRows(TimeSeries.foldDays(events) { (k, days) =>
      days.iterator.zip(TimeSeries.holt(days.map(_._2))).map {
        case ((d, x), f) => (k, d, x, f) }
    })

  /** A forecast fold's (event_type, day, x, f) rows in the forecast
    * rows' display schema.
    */
  private def forecastRows(steps: DataFrame): DataFrame =
    steps.toDF("event_type", "day", "x", "f")
      .select(col("event_type") +:
        date_format(col("day"), "yyyy-MM-dd").as("day") +:
        TimeSeries.forecastCols(col("x"), col("f")): _*)
      .orderBy(col("event_type").asc, col("day").asc)

  /** `event_attribution` — LAST-TOUCH marketing attribution: each
    * purchase attributes to the user's most recent prior `click`
    * within a 7-day lookback — the fourth classic product-analytics
    * operator beside funnel / path / retention. NOT a self-join: the
    * standard single-pass formulation tags clicks and purchases into
    * ONE stream, sorts per user by (ts, kind, event_id) — clicks
    * before purchases at equal timestamps, later click ids win equal-
    * ts ties — and carries the last-seen click via
    * last_value(ignoreNulls) over an unbounded-preceding frame (the
    * as-of-join shape on a window instead of a join). The lookback
    * then filters attributions older than 7 days. One keyed shuffle on
    * user_id; at 100 TB this is the same partitioning every per-user
    * sessionization already pays — no pair space, no range join.
    * Gap is exact integer microseconds (no float on the hash path).
    */
  def eventAttribution(spark: SparkSession, sfDir: String,
      lookbackDays: Int = 7): DataFrame =
    eventAttributionEvents(Tables.events(spark, sfDir), lookbackDays)

  /** Core of `event_attribution` over any (event_id, user_id, ts,
    * event_type) frame — the planted-scenario harness.
    */
  def eventAttributionEvents(events: DataFrame,
      lookbackDays: Int): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        when(col("event_type") === "click", col("event_id"))
          .as("click_id_tag"),
        when(col("event_type") === "click", unix_micros(col("ts")))
          .as("click_ts_tag"),
        when(col("event_type") === "click", lit(0))
          .otherwise(lit(1)).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("click_id",
        last(col("click_id_tag"), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(col("click_ts_tag"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" &&
        col("click_id").isNotNull &&
        unix_micros(col("ts")) - col("click_us") <=
          lookbackDays.toLong * 86400L * 1000000L)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"),
        (unix_micros(col("ts")) - col("click_us")).as("gap_us"))
      .orderBy(col("purchase_id").asc)
  }

  /** `ts_forecast_seasonal` — Holt-Winters ADDITIVE exponential
    * smoothing per event series (VERDICT r14 #3: `ts_forecast` is Holt
    * linear; a monitor watching the fixture's weekly-periodic series —
    * the day-of-week structure `ts_seasonal` extracts — wants the
    * seasonal term too). α = β = γ = ½ in the kit's fixed point:
    *   f_t = l + b + s[i]           (forecast BEFORE seeing x_t)
    *   l'  = (x_t − s[i] + l + b) / 2
    *   b'  = ((l' − l) + b) / 2
    *   s[i]' = ((x_t − l') + s[i]) / 2
    * with i = (rn−1) mod 7 — the OBSERVED-sequence seasonal index (for
    * the daily-complete fixture this is day-of-week up to rotation). The
    * first 7 observed days SEED the state — l₀ = Σ seed / 7, b₀ = 0,
    * s = seed − l₀ — and emission starts at day 8 (a series with ≤ 7
    * days emits nothing: the honest online semantics, the
    * ChangepointProcessor learning-window precedent). Oracle = the
    * identical integer recursion as a recursive CTE carrying the 7-slot
    * list through the recursion.
    *
    * Shape: ONE keyed shuffle ([[TimeSeries.holtWinters]] over
    * [[TimeSeries.foldDays]], the ts_forecast discipline).
    */
  def tsForecastSeasonal(spark: SparkSession, sfDir: String): DataFrame =
    tsForecastSeasonalEvents(Tables.events(spark, sfDir))

  /** Core of `ts_forecast_seasonal` over any (event_type, ts, value)
    * frame — the planted-seasonality harness for PatternSeasonalSpec.
    */
  def tsForecastSeasonalEvents(events: DataFrame): DataFrame =
    forecastRows(TimeSeries.foldDays(events) { (k, days) =>
      days.iterator.drop(TimeSeries.Period)
        .zip(TimeSeries.holtWinters(days.map(_._2)))
        .map { case ((d, x), f) => (k, d, x, f) }
    })

  /** `ts_changepoint` — Page's CUSUM change-point detection per event
    * series (the sequential level-shift test a production monitor runs
    * beside the z-score and the KS drift check — this completes the
    * monitoring family: anomaly → drift → seasonal → forecast →
    * changepoint). Two one-sided statistics accumulate deviation from
    * the series mean beyond a slack k: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−μ)−k)
    * and S⁻ₜ = max(0, S⁻ₜ₋₁ − (xₜ−μ)−k), flagging when either exceeds
    * h. μ, the slack, and the threshold come from a REFERENCE window —
    * the series' first max(7, n/4) days — as in the operational form
    * of the test (k = MAD/2, h = 5·MAD, MAD = mean absolute deviation
    * about μ over the window): a GLOBAL mean would smear a level shift
    * into both segments and fire on the steady prefix too (the first
    * cut did exactly that — caught by the planted-shift spec).
    *
    * Shape: ONE keyed shuffle ([[TimeSeries.cusum]] over
    * [[TimeSeries.foldDays]], the ts_forecast discipline), in the kit's
    * fixed point end to end, so the statistic and the flag comparison
    * are bit-exact; the oracle replays it as a recursive CTE.
    */
  def tsChangepoint(spark: SparkSession, sfDir: String): DataFrame =
    tsChangepointEvents(Tables.events(spark, sfDir))

  /** Core of `ts_changepoint` over any (event_type, ts, value) frame.
    * `refDays = Some(d)` pins the reference window to a FIXED length
    * (the form an online monitor runs — `Streams.changepointScores`'s
    * batch twin); the declared query keeps the adaptive max(7, n/4).
    */
  def tsChangepointEvents(events: DataFrame,
      refDays: Option[Int] = None): DataFrame =
    TimeSeries.foldDays(events) { (k, days) =>
      val xs = days.map(_._2)
      val w = refDays.getOrElse(math.max(7, xs.size / 4))
      days.iterator.zip(TimeSeries.cusum(xs, w)).map {
        case ((d, x), (sp, sn, cp)) => (k, d, x, sp, sn, cp) }
    }.toDF("event_type", "day", "x", "sp", "sn", "changepoint")
      .select((col("event_type") +:
        date_format(col("day"), "yyyy-MM-dd").as("day") +:
        TimeSeries.cusumCols(col("x"), col("sp"), col("sn"))) :+
        col("changepoint"): _*)
      .orderBy(col("event_type").asc, col("day").asc)

  /** `ts_drift` — day-over-day distribution drift per event series: for
    * each (event_type, day), the two-sample KS statistic between that
    * day's value HISTOGRAM and the previous calendar day's (the
    * histogram-vs-histogram comparison a production drift monitor
    * actually runs — `dq_drift`'s cohort KS turned prequential). Values
    * bin at unit width (`floor(value)` — exact on doubles), so the
    * per-(type, day) comparison frame is value-DOMAIN-sized at any
    * corpus size, the lesson dq_drift's pre-aggregation encodes: KS
    * over raw continuous values would sort a corpus-day of distinct
    * doubles; KS over the binned ecdf is what monitors compare anyway.
    *
    * Shape: one keyed (type, day, bin) count, a union routing each
    * day's histogram into its own and the NEXT day's comparison (each
    * bin row feeds ≤2 pairs — linear, no product), one cumulative
    * window per (type, pair-day) over bins, one keyed max. First days
    * (no previous calendar day) drop via the n_prev > 0 filter — same
    * rule the streaming form's adjacency check applies. Exactness: the
    * dq_drift discipline — |cumC·totP − cumP·totC| in pure BIGINT, the
    * ks double one IEEE division at the boundary; day emits as a
    * yyyy-MM-dd STRING (the ts_anomaly DATE round-trip rule).
    * [[graft.streaming.Streams.driftScores]] is the streaming form
    * (transformWithState: per-type open-day histograms in MapState,
    * event-time timers close days in order at the watermark, last
    * closed histogram is the comparison state); StreamingSpec asserts
    * file-replay equality.
    */
  def tsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value")).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val cur = c.select(col("event_type"), col("day").as("pair_day"),
      col("bin"), col("cnt").as("cc"), lit(0L).as("cp"))
    val prev = c.select(col("event_type"),
      date_add(col("day"), 1).as("pair_day"),
      col("bin"), lit(0L).as("cc"), col("cnt").as("cp"))
    val u = cur.unionByName(prev)
      .groupBy(col("event_type"), col("pair_day"), col("bin"))
      .agg(sum(col("cc")).as("cc"), sum(col("cp")).as("cp"))
    val wv = Window.partitionBy(col("event_type"), col("pair_day"))
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("event_type"), col("pair_day"))
    u.withColumn("cumc", sum(col("cc")).over(wv))
      .withColumn("cump", sum(col("cp")).over(wv))
      .withColumn("tc", sum(col("cc")).over(wt))
      .withColumn("tp", sum(col("cp")).over(wt))
      .withColumn("d",
        abs(col("cumc") * col("tp") - col("cump") * col("tc")))
      .groupBy(col("event_type"), col("pair_day"))
      .agg(max(col("d")).as("ks_num"), max(col("tc")).as("n_cur"),
        max(col("tp")).as("n_prev"))
      .filter(col("n_cur") > 0 && col("n_prev") > 0)
      .select(col("event_type"),
        date_format(col("pair_day"), "yyyy-MM-dd").as("day"),
        col("ks_num"), col("n_cur"), col("n_prev"),
        (col("ks_num").cast("double") /
          (col("n_cur").cast("double") * col("n_prev").cast("double")))
          .as("ks"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** `ts_anomaly` — series anomaly flagging, the monitoring workhorse:
    * each order priority's DAILY revenue series is scored against its
    * own population mean/stddev, and days with |z| > 2 are flagged.
    * Per-series stats keep everything KEYED (a global series would
    * need the scalar-attach product shape); the stats join back on the
    * series key, so the plan is two keyed aggregates + one keyed join
    * — day-count-sized after the first aggregate, at any corpus size.
    *
    * Determinism (the agg_corr discipline): day revenue is an exact
    * DECIMAL sum; the moment sums snap each double to DECIMAL before
    * summing (order-independent under partial aggregation); μ/σ/z run
    * the SAME IEEE expression tree in both engines; z rounds to 6dp
    * and the flag compares the ROUNDED z, so a boundary day cannot
    * flip between engines. Zero-variance series short-circuit to
    * z = 0 in both engines (identical double comparison).
    *
    * Headroom (ADVICE r11): the per-ROW snap of `o_totalprice` to
    * DECIMAL(18,4) is corpus-size-independent (an order's price is
    * bounded by order content, ~1e6 ≪ 1e14); the quantities that GROW
    * with the corpus are the per-day sums and moments, snapped wide —
    * `sx` terms to DECIMAL(28,4) (exact to day revenue 1e24) and `sxx`
    * terms to DECIMAL(38,4) (exact to day revenue 1e17) — so the
    * engines stay bit-aligned to ~10⁶× the 100 TB scale's ~1.6e10
    * per-day-per-priority revenue before either cast can saturate.
    */
  def tsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
      .withColumn("x", col("rev").cast("double"))
    val stats = daily.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(dec28(col("x"))).cast("double").as("sx"),
        sum(dec38(col("x") * col("x"))).cast("double").as("sxx"))
    def varp = col("sxx") / col("n") -
      (col("sx") / col("n")) * (col("sx") / col("n"))
    daily.join(stats, "o_orderpriority")
      // day as yyyy-MM-dd STRING: a DATE column round-trips as date
      // objects from Spark parquet but datetime64 from DuckDB's
      // fetchdf, failing the driver's value compare on type
      .select(col("o_orderpriority"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x").as("day_rev"),
        when(varp <= 0.0, lit(0.0))
          .otherwise(round((col("x") - col("sx") / col("n")) / sqrt(varp),
            6)).as("z"))
      .withColumn("anomaly", when(abs(col("z")) > 2.0, 1).otherwise(0))
      .orderBy(col("o_orderpriority").asc, col("day").asc)
  }
}
