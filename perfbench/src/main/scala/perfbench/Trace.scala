package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval on the client thread. `op` is the id of the
  * operation the span belongs to (0 for set-up and checks).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Listener-side figures of one operation. Fields are written by the
  * listener-bus threads and read only after [[Trace.finish]].
  */
final class OpStats {
  var jobs, eagerJobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill, outputBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0.0
  var planNodes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var batches, stateRows = 0L
  var triggerMs, addBatchMs, streamCommitMs = 0L
  // set on the client thread around the operation
  var compileNs, classes = 0L
}

/** Operation-keyed tracing. Every operation gets an id, carried to Spark
  * as a thread-local property and a job tag, so jobs, stages, tasks, SQL
  * executions and streaming batches are charged to the operation that
  * launched them whenever their events arrive. Spans are kept in memory
  * and written out when the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._
  private val sc: SparkContext = spark.sparkContext
  private val stats = new ConcurrentHashMap[Int, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, (Int, Long)]()
  private val execOp = new ConcurrentHashMap[Long, Int]()
  private val runOp = new ConcurrentHashMap[String, Int]()
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextSpan = 1
  private var currentOp = 0

  def statsOf(op: Int): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toInt).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      jobOp.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .foreach(g => runOp.putIfAbsent(g, op))
      val s = statsOf(op)
      s.synchronized {
        s.jobs += 1
        if (phase == "construct") s.eagerJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { case (op, t0) =>
        val s = statsOf(op)
        s.synchronized { s.jobSpans += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = statsOf(stageOp.getOrDefault(e.stageInfo.stageId, 0))
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = statsOf(stageOp.getOrDefault(e.stageId, 0))
      val m = e.taskMetrics
      val i = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outputBytes += m.outputMetrics.bytesWritten
          if (i != null && i.finished)
            s.delayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val op = x.jobTags.collectFirst {
          case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
        }.getOrElse(0)
        execOp.put(x.executionId, op)
      // streaming progress of every session: the replay harnesses run
      // their queries on a new session of the same context
      case x: StreamingQueryListener.QueryProgressEvent =>
        progress.add(x.progress)
      case x: SparkListenerSQLExecutionEnd =>
        val qe = lastQe
        lastQe = null
        if (qe != null) planned(execOp.getOrDefault(x.executionId, 0), qe)
      case _ =>
    }
  }

  private def planned(op: Int, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    val s = statsOf(op)
    s.synchronized {
      s.analysisMs += ms("analysis")
      s.optimizerMs += ms("optimization")
      s.planningMs += ms("planning")
      s.planNodes += nodes
    }
  }

  /** The listener bus hands each SQL execution end event first to the
    * session's execution-listener bus (registered when the session was
    * built) and then to [[listener]], on the same queue thread; so the
    * query execution reported here belongs to the end event
    * [[listener]] sees next.
    */
  @volatile private var lastQe: QueryExecution = null
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      lastQe = qe
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = lastQe = qe
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` as operation `op`: tags its Spark work, records a root
    * span and the codegen counters around it.
    */
  def operation[T](op: Int, name: String)(body: => T): T = {
    currentOp = op
    sc.setLocalProperty(OpKey, op.toString)
    sc.addJobTag(TagPrefix + op)
    val c0 = CodeGenerator.compileTime
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try span(name)(body)
    finally {
      val s = statsOf(op)
      s.compileNs += CodeGenerator.compileTime - c0
      s.classes += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
      sc.removeJobTag(TagPrefix + op)
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
      currentOp = 0
    }
  }

  /** Adds the analysis a constructed DataFrame already went through: the
    * write that runs it analyzes only the command around it.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame): Unit = {
    val s = statsOf(currentOp)
    val ms = df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs.toDouble).getOrElse(0.0)
    s.synchronized { s.analysisMs += ms }
  }

  /** Marks the Spark work `body` launches as part of query construction. */
  def construct[T](body: => T): T = {
    sc.setLocalProperty(PhaseKey, "construct")
    try span("entry.construct")(body)
    finally sc.setLocalProperty(PhaseKey, "run")
  }

  /** Adds a span timed elsewhere, such as a set-up step. */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextSpan, 0, 0, name, startNs, endNs)
    nextSpan += 1
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      open.pop()
      spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
    }
  }

  /** Delivers every queued event and attributes streaming progress. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    progress.asScala.foreach { p =>
      val op = runOp.getOrDefault(p.runId.toString, 0)
      val d = p.durationMs
      def g(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val s = statsOf(op)
      s.batches += 1
      s.triggerMs += g("triggerExecution")
      s.addBatchMs += g("addBatch")
      s.streamCommitMs += g("walCommit") + g("commitOffsets")
      s.stateRows += p.stateOperators.map(_.numRowsUpdated).sum
    }
    progress.clear()
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Self time: the part of a span its children do not cover. */
  def selfMs: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.map(s => s.id ->
      (s.endNs - s.startNs - child.getOrElse(s.id, 0L)) / 1e6).toMap
  }

  def spansJson: String = {
    val self = selfMs
    spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        f""""name":"${s.name}","start_ns":${s.startNs},""" +
        f""""end_ns":${s.endNs},"self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val TagPrefix = "perfbench-op-"
  val GroupKey = "spark.jobGroup.id"

  /** Length of the union of [start, end] intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
    }._1
}
