package graft

import scala.util.control.NonFatal

import org.apache.spark.graft.Instrument
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale evidence for declared queries: runs each named query on the
  * sf0.1 fixture (1×) and on an N× copy of it, and prints one line per
  * query and scale with the wall seconds, the Spark jobs started and the
  * executor task and CPU ms. Each query runs to the noop sink, so the
  * whole frame it defines is computed (a `.count()` lets Catalyst prune
  * columns nothing reads).
  *
  * The N× copy is built under [[Scratch.dir]] and goes with it at exit.
  * Every fact table is copied N times, copy i with its keys shifted by
  * i·10⁸, so copies never join each other; each document copy ends with
  * its own token, so copies are not exact duplicates of each other. The
  * dimension tables (nation, region, part, supplier) are copied once.
  *
  * Usage: Test/runMain graft.ScaleHarness <N> <query> [query ...]
  *   SPARK_GRAFT_SF_DIR is the 1× fixture (default: the sf0.1 fixture
  *   beside the specs' sf0.001); SPARK_GRAFT_CPUS as graft.Bench.
  */
object ScaleHarness {
  private val KeyShift = 100000000L

  /** The shifted key columns of each fact table. */
  private val factKeys = Seq(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Writes the N× copy of the fixture at `base` and returns its dir. */
  def scaledFixture(spark: SparkSession, base: String, n: Int): String = {
    val out = Scratch.dir(s"scaled${n}x")
    factKeys.foreach { case (t, keys) =>
      (0 until n).map { i =>
        val moved = Tables.table(spark, base, t)
          .withColumns(keys.map(k => k -> (col(k) + i * KeyShift)).toMap)
        if (t != "documents") moved
        else moved.withColumn("text", concat(col("text"), lit(s" copytoken$i")))
      }.reduce(_ unionByName _).write.parquet(s"$out/$t.parquet")
    }
    Seq("nation", "region", "part", "supplier").foreach(t =>
      Tables.table(spark, base, t).write.parquet(s"$out/$t.parquet"))
    out
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleHarness <N> <query> [query ...]")
    val n = args(0).toInt
    val names = args.toSeq.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File(TestSpark.sf).getParent + "/sf0.1")
    val spark = Scratch.driverSession()
    val clock = Instrument.install(spark.sparkContext)
    val t0 = System.nanoTime()
    val scaled = scaledFixture(spark, base, n)
    println(f"[scale] fixture ${n}x built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    var failed = false
    for (q <- names; (tag, dir) <- Seq("1x" -> base, s"${n}x" -> scaled)) {
      println(s"[scale] start $q $tag")
      val (task0, cpu0) = (clock.runMs.get(), clock.cpuMs.get())
      val t = System.nanoTime()
      try {
        val (_, jobs) = SpecUtil.jobsDuring(spark) {
          SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        val wall = (System.nanoTime() - t) / 1e9
        println(f"[scale] $q $tag wall=$wall%.2fs jobs=$jobs " +
          s"task=${clock.runMs.get() - task0}ms cpu=${clock.cpuMs.get() - cpu0}ms")
      } catch {
        case NonFatal(e) =>
          failed = true
          println(s"[scale] $q $tag FAILED: ${e.toString.linesIterator.next()}")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
