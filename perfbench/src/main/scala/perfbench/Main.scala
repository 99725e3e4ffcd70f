package perfbench

/** Entry point of the benchmark JVM; `run.py` builds and launches it. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args.toList)
    o.mode match {
      case "run" => Runner.run(o)
      case "derive" =>
        val spark = Session.build(o.cores, o.work)
        try Derive.run(o, spark) finally spark.stop()
    }
  }
}
