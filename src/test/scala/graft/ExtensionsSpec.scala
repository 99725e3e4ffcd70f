package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: SQL-surface registration of the native kernels and
  * the lambda→kernel optimizer rewrite.
  */
class ExtensionsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  GraftExtensions.install(spark)

  test("vec_dot / vec_norm are SQL-callable after install") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       vec_norm(array(3.0F, 4.0F)) AS n""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
  }

  test("word_shingles is SQL-callable and k must be a literal") {
    val n = spark.sql(
      "SELECT size(word_shingles('the quick brown fox', 2)) AS n")
      .head().getInt(0)
    assert(n === 3)
    // foldable int expressions are accepted (evaluated at resolution)
    assert(spark.sql("SELECT size(word_shingles('a b c', 1 + 1)) AS n")
      .head().getInt(0) === 2)
    // non-integer k is rejected
    intercept[Exception] {
      spark.sql("SELECT word_shingles('x', 'not-an-int')").head()
    }
  }

  test("theta sketch family is SQL-callable end to end") {
    spark.range(0, 500).createOrReplaceTempView("ids_a")
    spark.range(300, 900).createOrReplaceTempView("ids_b")
    val r = spark.sql(
      """SELECT round(theta_estimate(a.sk)) AS na,
        |  round(theta_intersect(a.sk, b.sk)) AS ni,
        |  round(theta_union(a.sk, b.sk)) AS nu
        |FROM (SELECT theta_sketch(id) AS sk FROM ids_a) a,
        |     (SELECT theta_sketch(id) AS sk FROM ids_b) b""".stripMargin)
      .head()
    assert(r.getDouble(0) === 500.0)
    assert(r.getDouble(1) === 200.0) // [300,500)
    assert(r.getDouble(2) === 900.0) // [0,900)
  }

  test("zorder2 is SQL-callable and matches the Column form") {
    // 3 = 0b11 spreads to even bits 0b0101 = 5; 5 = 0b101 spreads to
    // 0b010001 = 17, shifted to odd bits = 34; 5 | 34 = 39
    assert(spark.sql("SELECT zorder2(3, 5) AS z").head().getInt(0) === 39)
    import org.apache.spark.sql.functions.col
    val viaColumn = Seq((3, 5)).toDF("a", "b")
      .select(graft.functions.ZOrder.morton2(col("a"), col("b"))).head().getInt(0)
    assert(viaColumn === 39)
  }

  test("optimizer rewrites the lambda dot-product to FloatVecDot, same result") {
    // needs a non-local source: over a LocalRelation the optimizer
    // constant-folds the whole projection before/after our rule runs
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val lambdaForm = emb.select(col("vec_id"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, v) => acc + v).as("dot"))
    val optimized = lambdaForm.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("floatvecdot"),
      s"rule did not fire:\n$optimized")
    // identical values to the explicit kernel call
    val kernel = emb.select(col("vec_id"),
      graft.functions.VectorExpressions.dotCol(
        col("embedding"), col("embedding")).as("dot"))
    assert(lambdaForm.orderBy("vec_id").collect().toSeq ===
      kernel.orderBy("vec_id").collect().toSeq)
    // local sanity value
    val d = Seq((1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "a", "b")
      .select(aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, v) => acc + v).as("dot"))
    assert(d.head().getDouble(0) === 32.0)
    // non-float arrays must be left alone (rule is type-guarded)
    val dbl = Seq((1L, Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("id", "a", "b")
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v).as("dot"))
    assert(!dbl.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("floatvecdot"))
    assert(dbl.head().getDouble(0) === 11.0)
    // float-domain multiply then widen — (x,y) -> CAST(x*y AS DOUBLE) —
    // is NOT the kernel's widen-then-multiply arithmetic and must be
    // left alone (ADVICE r1: low-order bits differ)
    val emb2 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val floatDomain = emb2.select(
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => (x * y).cast("double")),
        lit(0.0d), (acc, v) => acc + v).as("dot"))
    assert(!floatDomain.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("floatvecdot"),
      "rule must not fire on a float-domain multiply")
  }

  test("optimizer rewrites the lambda L2-norm to FloatVecNorm, same result") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val lambdaForm = emb.select(col("vec_id"),
      sqrt(aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")),
        lit(0.0d), (acc, v) => acc + v)).as("l2"))
    val optimized = lambdaForm.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("floatvecnorm"),
      s"norm rule did not fire:\n$optimized")
    val kernel = emb.select(col("vec_id"),
      graft.functions.VectorExpressions.normCol(col("embedding")).as("l2"))
    assert(lambdaForm.orderBy("vec_id").collect().toSeq ===
      kernel.orderBy("vec_id").collect().toSeq)
  }

  test("kernels match lambda semantics on nulls and length mismatch (rewrite-safe)") {
    val rows = spark.sql(
      """SELECT
        |  vec_dot(array(1.0F, 2.0F), array(1.0F, 2.0F, 3.0F)) AS len_mismatch,
        |  vec_dot(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS null_elem,
        |  vec_norm(array(3.0F, CAST(NULL AS FLOAT))) AS null_norm,
        |  aggregate(zip_with(array(1.0F, 2.0F), array(1.0F, 2.0F, 3.0F),
        |    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |    CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS lambda_mismatch
        |""".stripMargin).head()
    assert(rows.isNullAt(0), "length mismatch must be NULL")
    assert(rows.isNullAt(1), "null element must be NULL")
    assert(rows.isNullAt(2), "null element in norm must be NULL")
    assert(rows.isNullAt(3)) // the lambda form agrees
  }

  test("Presto compat pack: scalar shims resolve to the built-in semantics") {
    val r = spark.sql(
      """SELECT strpos('hello world', 'world') AS p1,
        |  strpos('hello', 'zz') AS p0,
        |  to_unixtime(TIMESTAMP '1970-01-01 00:00:01.5') AS es,
        |  json_extract_scalar('{"a": {"b": 7}}', '$.a.b') AS jb""".stripMargin)
      .head()
    assert(r.getInt(0) === 7)   // 1-based, Presto semantics
    assert(r.getInt(1) === 0)   // absent → 0, not -1 / null
    assert(r.getDouble(2) === 1.5)
    assert(r.getString(3) === "7")
  }

  test("Presto compat pack: aggregate shims (arbitrary / approx_distinct / map_agg)") {
    // single partition → arbitrary (= first, ignore nulls) deterministic
    Seq((1, Option.empty[String], "x"), (1, Some("a"), "y"),
      (1, Some("b"), "z"), (2, Some("c"), "w"))
      .toDF("g", "v", "k").coalesce(1).createOrReplaceTempView("pc_agg")
    val r = spark.sql(
      """SELECT g, arbitrary(v) AS a, approx_distinct(k) AS ad,
        |  map_agg(k, coalesce(v, '-')) AS m
        |FROM pc_agg GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r(0).getString(1) === "a") // first non-null in order
    // HLL++ is exact at these cardinalities
    assert(r(0).getLong(2) === 3L && r(1).getLong(2) === 1L)
    assert(r(0).getMap[String, String](3).toList.toMap ===
      Map("x" -> "-", "y" -> "a", "z" -> "b"))
    assert(r(1).getMap[String, String](3).toList.toMap === Map("w" -> "c"))
  }

  test("Lake.query sees the SQL kernels (user-facing path)") {
    val lake = Lake(spark, Scratch.dir("graft_ext"))
      .attachFixtures(TestSpark.sf)
    val r = lake.query(
      """SELECT vec_id, round(vec_norm(embedding), 4) AS l2
        |FROM embeddings ORDER BY vec_id LIMIT 3""".stripMargin).collect()
    assert(r.length === 3 && r.forall(_.getDouble(1) > 0))
  }
}
