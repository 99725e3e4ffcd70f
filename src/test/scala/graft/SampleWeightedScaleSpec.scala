package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Aggregates

/** Round-11 scale guard for `sample_weighted` (VERDICT r10 #1): the
  * global prefix sum is a TWO-LEVEL segment tree, so the bound to pin is
  * "no task ever folds more than max(1024, |keys|/2²⁰) rows" — NOT the
  * old single-level |keys|/1024. Asserted on the very frames
  * `sampleWeightedPartials` hands to the declared query (not a
  * re-derived copy of the bucket arithmetic), at 1×/2×/10× planted
  * data, plus output equality against a brute-force single-window
  * reference at each size.
  */
class SampleWeightedScaleSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  /** Planted orders with keys 1..n and a deterministic price cycle wide
    * enough that every bucket's sum differs (guards against a fold bug
    * that survives on constant weights).
    */
  private def plant(n: Long): String = {
    val dir = Scratch.dir(s"swscale_$n")
    spark.range(1, n + 1)
      .select(col("id").as("o_orderkey"),
        ((col("id") * 37 % 99991).cast("double") / 100.0 + 1.0)
          .as("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  /** The banned shape, as the correctness reference: ONE global window
    * (fine at test n, the thing the segment tree exists to avoid).
    */
  private def bruteForce(dir: String, stepUnits: Long) = {
    val w = Window.orderBy(col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,4)").as("wt"))
      .withColumn("cum_u", (sum(col("wt")).over(w) * 10000).cast("long"))
      .withColumn("w_u", (col("wt") * 10000).cast("long"))
      .filter(expr(s"cum_u DIV $stepUnits") >
        expr(s"(cum_u - w_u) DIV $stepUnits"))
      .select(col("o_orderkey"), col("wt").cast("double").as("weight"),
        expr(s"cum_u DIV $stepUnits").as("tick"))
  }

  // step sized so each planted SF selects a few hundred rows
  private val step = 25000000L // 2500.0 weight units in 1e-4 scale

  for ((tag, n) <- Seq(("1x", 200000L), ("2x", 400000L), ("10x", 2000000L))) {
    test(s"fold inputs stay bounded and output matches brute force at $tag (n=$n)") {
      val dir = plant(n)
      val (_, bsum, ssum) = Aggregates.sampleWeightedPartials(spark, dir)
      // level-2 fold input: buckets per superbucket — constant 1024 cap
      // by construction, must NOT grow with n
      val maxGroup = bsum.groupBy(col("sbkt")).count()
        .agg(max(col("count"))).as[Long].head()
      assert(maxGroup <= 1024L,
        s"superbucket fold input $maxGroup exceeds the 1024 constant at $tag")
      // top fold input: superbucket count — |keys|/2²⁰, i.e. 1024×
      // smaller than the old single-level |keys|/1024 funnel
      val nS = ssum.count()
      assert(nS <= n / 1048576L + 1L,
        s"superbucket count $nS exceeds |keys|/2^20 at $tag")
      assert(nS * 1024L <= n / 1024L + 1024L,
        s"top fold input $nS not 1024x below the single-level bound at $tag")
      val got = Aggregates.sampleWeighted(spark, dir, step)
      val want = bruteForce(dir, step)
      assert(got.count() === want.count())
      assert(got.count() > 100L, s"step too wide to exercise $tag")
      assert(got.except(want).isEmpty && want.except(got).isEmpty)
    }
  }
}
