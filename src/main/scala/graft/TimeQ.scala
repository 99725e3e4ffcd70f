package graft

/** Time named declared queries in isolation, N repetitions each — the
  * optimization-round microbench (full-run context excluded, so a row
  * whose cost differs here vs. graft.Bench is being slowed by RUN
  * CONTEXT — JIT/code-cache pressure, memo state — not by its plan).
  *
  * Usage: runMain graft.TimeQ <reps> <query> [query ...]
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as graft.Bench.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQ <reps> <query> [query ...]")
    val reps = args(0).toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Scratch.driverSession()
    SparkEntry.queries("agg_group_sum")(spark, sfDir).count() // session warm
    val clock = org.apache.spark.graft.Instrument.install(spark.sparkContext)
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[timeq] unknown query: $n")
        case Some(fn) =>
          (1 to reps).foreach { r =>
            org.apache.spark.graft.Instrument.drain(spark.sparkContext)
            val task0 = clock.runMs.get(); val cpu0 = clock.cpuMs.get()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            org.apache.spark.graft.Instrument.drain(spark.sparkContext)
            println(f"[timeq] $n rep$r wall=$wall%.3f task=${
              clock.runMs.get() - task0}ms cpu=${clock.cpuMs.get() - cpu0}ms")
          }
      }
    }
    spark.stop()
  }
}
