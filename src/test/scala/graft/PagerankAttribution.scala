package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Attribution probe for graph_pagerank_dist (VERDICT r12 #3): the
  * unrolled relational PageRank costs 4-5 s wall / 9-19 s task cpu in
  * the bench for a <=625-edge graph whose edge aggregate is cached
  * eagerly. This listener-based probe splits the cost into (a) the
  * one eager edge-cache build (the genuinely corpus-sized part),
  * (b) everything after it: iteration joins, localCheckpoints, AQE
  * stage materializations -- counting jobs, stages, tasks and summed
  * executor cpu/run time for each phase. The numbers land in the
  * operator's scaladoc.
  */
class PagerankAttribution extends AnyFunSuite {
  val spark = TestSpark.spark
  val sf = TestSpark.sf

  private class Tally extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val cpuNs = new AtomicLong(0L)
    val runMs = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
      }
    }
    def report(tag: String): String = {
      Thread.sleep(500) // let the listener bus drain
      f"$tag: jobs=${jobs.get()} stages=${stages.get()} " +
        f"tasks=${tasks.get()} cpu_ms=${cpuNs.get() / 1e6}%.0f " +
        f"run_ms=${runMs.get()}"
    }
  }

  private def tally[A](tag: String)(body: => A): (A, String) = {
    val t = new Tally
    spark.sparkContext.addSparkListener(t)
    try { val r = body; (r, t.report(tag)) }
    finally spark.sparkContext.removeSparkListener(t)
  }

  test("graph_pagerank_dist: cost splits into cold call vs warm call overhead") {
    graft.operators.GraphOps.unrolledEdgeMemo.clear()
    // NOTE (review r13): graphPagerankUnrolled is NOT lazy — the
    // per-iteration localCheckpoint(true) calls are eager, so even
    // "construction" runs the full iteration chain. The honest split
    // is therefore cold call (edge-cache build + iterations) vs warm
    // call (iterations only, cache hit), not build vs run.
    val (_, cold) = tally("cold_call") {
      graft.operators.GraphOps.graphPagerankUnrolled(spark, sf).collect()
    }
    val (rows, warm) = tally("warm_call") {
      graft.operators.GraphOps.graphPagerankUnrolled(spark, sf).collect()
    }
    val (_, solo) = tally("in_task_solve") {
      graft.operators.GraphOps.graphPagerank(spark, sf).collect()
    }
    info(cold)
    info(warm)
    info(solo)
    assert(rows.length > 0)
  }
}
