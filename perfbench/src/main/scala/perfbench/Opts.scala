package perfbench

/** Command line of the benchmark JVM; `run.py` documents the flags. */
final case class Opts(
    mode: String = "run",
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    ops: Option[Int] = None,
    sfDir: String = "",
    work: String = "",
    out: String = "",
    expected: String = "",
    cores: Int = Runtime.getRuntime.availableProcessors,
    dump: Option[String] = None,
    names: Seq[String] = Nil)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--ops" :: v :: t => parse(t, o.copy(ops = Some(v.toInt)))
    case "--sf" :: v :: t => parse(t, o.copy(sfDir = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--dump" :: v :: t => parse(t, o.copy(dump = Some(v)))
    case flag :: _ if flag.startsWith("--") =>
      throw new IllegalArgumentException(s"unknown flag $flag")
    case ("run" | "derive") :: t if o.mode == "run" && o.names.isEmpty &&
        o.workload.isEmpty => parse(t, o.copy(mode = args.head))
    case name :: t => parse(t, o.copy(names = o.names :+ name))
  }
}
