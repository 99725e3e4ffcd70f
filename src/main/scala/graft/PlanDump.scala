package graft

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named declared queries to files —
  * the optimization-round evidence artifact (plans/rNN/<q>_before.txt /
  * `_after.txt`). Not part of the driver contract; a diagnostics main.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query ...]
  *   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) picks the data,
  *   SPARK_GRAFT_CPUS (default 4) the core count — same resolution as
  *   graft.Bench so the dumped plan is the plan the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Scratch.driverSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // queryExecution.explainString = what .explain("formatted")
            // prints, captured instead of sent to stdout
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote $n ($suffix)")
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
