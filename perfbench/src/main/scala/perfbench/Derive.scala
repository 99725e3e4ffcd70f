package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Profiles declared queries once, outside any timed run. For each query
  * it records the row count and digest of its result, whether it wrote
  * data or left a memo entry behind, how many jobs construction ran, and
  * the wall time of construct + noop write against construct + count.
  * With `--dump DIR` it also writes each result as parquet, with the
  * `oracle_sql.json` that `tools/selfcheck.py` compares against DuckDB.
  * These records are where the expected digests and the query sets come
  * from (see NOTES.md).
  *
  *   derive --sf DIR --out FILE [--dump DIR] [query ...]
  */
object Derive {
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; ms(t0)
  }

  def run(o: Opts, spark: SparkSession): Unit = {
    val queries = graft.SparkEntry.queries
    val gated = graft.SparkEntry.oracleSql.keySet
    val names = if (o.names.nonEmpty) o.names else queries.keys.toSeq.sorted
    val trace = new Trace(spark)
    val out = new java.io.PrintWriter(o.out)
    names.zipWithIndex.foreach { case (name, i) =>
      val fn = queries(name)
      val op = i + 1
      def build(): DataFrame = fn(spark, o.sfDir)
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val rec = mutable.LinkedHashMap[String, Any]("name" -> name,
        "gated" -> gated.contains(name))
      try {
        var df: DataFrame = null
        val cold = trace.operation(op, name) {
          timed { df = trace.construct(build()); noop(df) }
        }
        trace.finish()
        val s = trace.statsOf(op)
        rec ++= Seq("cold_ms" -> cold, "jobs" -> s.jobs,
          "eager_jobs" -> s.eagerJobs, "output_bytes" -> s.outputBytes,
          "compile_classes" -> s.classes)
        // the digest is taken from the dumped result when there is one,
        // so it describes exactly the rows tools/selfcheck.py compares
        val d = o.dump match {
          case Some(dir) =>
            build().coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/$name")
            Digest.of(spark.read.parquet(s"$dir/$name"))
          case None => Digest.of(build())
        }
        rec ++= Seq("rows" -> d.rows, "digest" -> d.hex)
        val countMs = timed(build().count())
        val noopMs = timed(noop(build()))
        rec ++= Seq("noop_ms" -> noopMs, "count_ms" -> countMs,
          "noop_over_count" -> noopMs / countMs)
      } catch {
        case scala.util.control.NonFatal(e) =>
          rec += "error" -> String.valueOf(e.getMessage).take(300)
      }
      rec += "memo_entries" -> graft.Lake.clearCaches()
      out.println(Json.write(rec))
      out.flush()
      System.err.println(s"[derive] ${i + 1}/${names.size} $name")
    }
    out.close()
    o.dump.foreach { dir =>
      val sf = o.sfDir.replace("'", "''")
      Json.save(s"$dir/oracle_sql.json", graft.SparkEntry.oracleSql
        .filter { case (k, _) => new java.io.File(dir, k).isDirectory }
        .map { case (k, v) => k -> v.replace("{SFDIR}", sf) })
    }
    trace.close()
  }
}
