package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Core relational operators: scans, projections, filters, sorts, limits,
  * set operations (SURVEY.md §2.A scan/preview, §2.B, §2.F, §2.G).
  *
  * Reference semantics: novlake passes SQL verbatim to Athena/Presto
  * (novlake/lake.py `Lake.query` [upstream, unverified — SURVEY.md §0]);
  * these are the ANSI operators that surface exposes, expressed through
  * the DataFrame DSL so Catalyst plans them (pushdown, pruning, top-k).
  *
  * Determinism: every function here ends in a total order (unique
  * tiebreaker) per SURVEY.md §5.3 so results hash-match the DuckDB oracle.
  */
object Relational {

  /** Exact money arithmetic: cast to DECIMAL(18,4) before aggregation so
    * sums are order-independent (SURVEY.md §5.3.3). Final outputs go back
    * to double so the output schema stays DuckDB-comparable.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** The wide snaps for sums that grow with the corpus: DECIMAL(28,4) for
    * sums of values, DECIMAL(38,4) for sums of squares and products.
    */
  def dec28(c: Column): Column = c.cast(DecimalType(28, 4))

  def dec38(c: Column): Column = c.cast(DecimalType(38, 4))

  /** `scan_parquet` — full-table scan, projected and totally ordered. */
  def scanParquet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy(col("n_nationkey").asc)

  /** `scan_projection_pushdown` — 2-column projection of a wide table;
    * Catalyst prunes the parquet read schema to exactly these columns
    * (plan-shape asserted in ScanSpec).
    */
  def scanProjectionPushdown(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(col("l_orderkey") < 100L)
      .orderBy(col("l_orderkey").asc, col("l_extendedprice").asc)

  /** `preview` — first-n preview with a deterministic order (novlake
    * `Lake.preview` ≈ SELECT * LIMIT n [upstream, unverified]).
    */
  def preview(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).orderBy(col("o_orderkey").asc).limit(10)

  /** `project_arith` — select + arithmetic + alias (revenue expression). */
  def projectArith(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        // decimal-domain arithmetic: double round(x,2) straddles .xx5
        // representation edges differently across engines (§5.3.3)
        round(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4))
          - dec(col("l_discount"))), 2).cast("double").as("revenue"))
      .filter(col("l_orderkey") < 200L)
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)

  /** `filter_conj` — conjunctive range predicates; all pushed to parquet. */
  def filterConj(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") < 24.0 &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)

  /** `filter_in_between_like` — IN / BETWEEN / LIKE / IS NOT NULL. */
  def filterInBetweenLike(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33") &&
        col("p_size").between(5, 25) &&
        col("p_type").like("PROMO%") &&
        col("p_name").isNotNull)
      .select("p_partkey", "p_brand", "p_type", "p_size")
      .orderBy(col("p_partkey").asc)

  /** `project_distinct` — SELECT DISTINCT. */
  def projectDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy(col("o_orderstatus").asc, col("o_orderpriority").asc)

  /** `filter_subquery_in` — WHERE x IN (subquery); Catalyst decorrelates
    * to a left-semi join (SURVEY.md §4).
    */
  def filterSubqueryIn(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey ASC""".stripMargin)
  }

  /** `filter_exists` — correlated EXISTS / NOT EXISTS subqueries:
    * Catalyst decorrelates both into semi/anti joins (the same physical
    * shape as join_semi/join_anti — declared separately because the SQL
    * surface matters for Athena-SQL parity).
    */
  def filterExists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 49.5)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
        |                  WHERE l2.l_orderkey = o.o_orderkey
        |                    AND l2.l_discount > 0.09)
        |ORDER BY o_orderkey ASC""".stripMargin)
  }

  /** `scalar_subquery` — correlated scalar subqueries in the SELECT
    * list: decorrelated into a left outer join + aggregate by Catalyst.
    */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT max(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE c_custkey <= 300
        |ORDER BY c_custkey ASC""".stripMargin)
  }

  /** `join_lateral` — correlated LATERAL derived table with ORDER BY +
    * LIMIT (per-order best lineitem): the SQL-surface form of
    * topk-per-group k=1; Catalyst decorrelates it to a window/aggregate
    * under the hood.
    */
  def joinLateral(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderkey, l.lk, l.price
        |FROM orders,
        |LATERAL (SELECT l_linenumber AS lk, l_extendedprice AS price
        |         FROM lineitem WHERE l_orderkey = o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber ASC
        |         LIMIT 1) l
        |ORDER BY o_orderkey ASC""".stripMargin)
  }

  /** `filter_not_in_null` — ANSI three-valued logic on NOT IN: when the
    * subquery contains a NULL, `x NOT IN (...)` is never TRUE (x <> NULL
    * is UNKNOWN), so the count collapses to 0 — the classic silent-empty
    * trap every Athena/Presto user hits once. The query pins all three
    * semantics side by side: the trap, the NULL-filtered NOT IN, and
    * the equivalent NOT EXISTS (null-safe by construction). Identical
    * ANSI SQL runs on both engines.
    *
    * Modulus 7, not 997 (ADVICE r7): the planted NULL exists iff some
    * c_custkey % m == 0, so m must not exceed the SMALLEST fixture's
    * customer count (150 at sf0.001; 997 made the trap vacuous there —
    * no NULL, not_in_with_null silently equal to not_in_filtered while
    * cross-engine parity still passed). m=7 guarantees a NULL at every
    * SF; RelationalNullSpec asserts the plant is live on the test
    * fixture.
    */
  val notInNullSql: String =
    """SELECT
      |  (SELECT count(*) FROM orders
      |   WHERE o_custkey NOT IN
      |     (SELECT nullif(c_custkey % 7, 0) FROM customer))
      |    AS not_in_with_null,
      |  (SELECT count(*) FROM orders
      |   WHERE o_custkey NOT IN
      |     (SELECT c_custkey % 7 FROM customer WHERE c_custkey % 7 <> 0))
      |    AS not_in_filtered,
      |  (SELECT count(*) FROM orders o
      |   WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE nullif(c.c_custkey % 7, 0) = o.o_custkey))
      |    AS not_exists""".stripMargin

  def filterNotInNull(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(notInNullSql)
  }

  /** `sort_multikey` — global multi-key sort with explicit null ordering
    * (Spark ASC defaults NULLS FIRST vs DuckDB NULLS LAST — SURVEY.md
    * §5.3.2, so both directions are explicit).
    */
  def sortMultikey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_nationkey", "s_acctbal")
      .orderBy(col("s_nationkey").desc_nulls_last,
        col("s_acctbal").asc_nulls_first,
        col("s_suppkey").asc)

  /** `limit_topk` — ORDER BY + LIMIT; Spark plans TakeOrderedAndProject
    * (no global sort; per-partition top-k then merge — scales to any
    * input size).
    */
  def limitTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)

  // --- Set operations (§2.G) over disjoint-ish order slices ------------

  private def ordKeys(spark: SparkSession, sfDir: String, status: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === status)
      .select(col("o_custkey"), col("o_orderpriority"))

  /** `set_union_all` — UNION ALL (bag union, no dedup shuffle). */
  def setUnionAll(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").union(ordKeys(spark, sfDir, "F"))
      .groupBy("o_custkey", "o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_union_distinct` — UNION (distinct). */
  def setUnionDistinct(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").union(ordKeys(spark, sfDir, "F")).distinct()
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_intersect` — INTERSECT (distinct). */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").intersect(ordKeys(spark, sfDir, "F"))
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_intersect_all` — INTERSECT ALL (bag semantics). */
  def setIntersectAll(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").intersectAll(ordKeys(spark, sfDir, "F"))
      .groupBy("o_custkey", "o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_except` — EXCEPT (distinct). */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").except(ordKeys(spark, sfDir, "F"))
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_except_all` — EXCEPT ALL (bag semantics). */
  def setExceptAll(spark: SparkSession, sfDir: String): DataFrame =
    ordKeys(spark, sfDir, "O").exceptAll(ordKeys(spark, sfDir, "F"))
      .groupBy("o_custkey", "o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_custkey").asc, col("o_orderpriority").asc)

  /** `set_union_by_name` — schema-aligned union for evolving lake schemas
    * (novlake writes schema-on-read datasets whose columns drift; this is
    * the Spark-native reconciliation). Not oracle-declared: DuckDB's
    * UNION BY NAME missing-column semantics differ (SURVEY.md §2.G).
    */
  def setUnionByName(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** `set_union_by_name` as a driver-contract query: two drifted
    * projections of orders (each missing a column the other has) aligned
    * by name with null fill — oracle-expressible as UNION ALL with typed
    * NULL padding.
    */
  def setUnionByNameQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val a = ord.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    val b = ord.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"))
    setUnionByName(a, b).orderBy(col("o_orderkey").asc)
  }
}
