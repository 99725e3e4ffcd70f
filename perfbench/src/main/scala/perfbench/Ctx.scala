package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload. `ok` turns false when the operation
  * threw or when a later check finds its output wrong.
  */
final class OpRecord(val id: Int, val kind: String, val name: String,
    val ms: Double, var ok: Boolean)

/** What a workload sees while it runs: the session, the options, the
  * optional trace and the log of timed operations.
  */
final class Ctx(val spark: SparkSession, val o: Opts,
    val trace: Option[Trace]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Failed end-of-run checks, each with its reason. */
  val checkFailures = mutable.ArrayBuffer.empty[String]
  var checks = 0
  private var nextOp = 1
  private val loopStart = System.nanoTime()

  /** Whether to start another pass of the workload's mix: with `--ops`,
    * while fewer operations ran; traced, for exactly one pass; otherwise
    * while fewer than `--seconds` have passed at the end of a pass, so
    * every run measures whole passes.
    */
  def another(passes: Int): Boolean = o.ops match {
    case Some(n) => records.size < n
    case None if o.trace => passes < 1
    case None => passes == 0 || (System.nanoTime() - loopStart) / 1e9 < o.seconds
  }

  /** Whether the operation budget of `--ops` allows one more operation. */
  def room: Boolean = o.ops.forall(records.size < _)

  /** Times `body` as one operation. An exception is recorded as a failed
    * operation, never as a fast success.
    */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    val t0 = System.nanoTime()
    val r =
      try Some(trace.fold(body)(_.operation(id, kind)(body)))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          None
      }
    records += new OpRecord(id, kind, name, (System.nanoTime() - t0) / 1e6,
      r.isDefined)
    r
  }

  def construct[T](body: => T): T = trace.fold(body)(_.construct(body))

  def span[T](name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  /** Runs the plan `df` defines to completion without keeping its rows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** An end-of-run check: false or an exception counts as a failure. */
  def check(what: String)(body: => Boolean): Unit = {
    checks += 1
    val ok =
      try body
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check $what threw: $e")
          false
      }
    if (!ok) checkFailures += what
  }

  def attempted: Int = records.size + checks
  def failed: Int = records.count(!_.ok) + checkFailures.size
}
