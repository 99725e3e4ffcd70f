package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Shared spec helpers — ONE definition each of the reference hash and
  * the AQE-aware plan traversal (drifted copies across specs were a
  * review finding: a fix to the traversal on a Spark upgrade must not
  * need applying in several places).
  */
object SpecUtil {

  /** Bytes the context's cached RDDs hold (memory + disk). */
  def storageBytes(sc: org.apache.spark.SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The storage level once it stops moving (unpersisting is
    * asynchronous): polled every 200 ms, at most 50 times.
    */
  def settledStorage(sc: org.apache.spark.SparkContext): Long = {
    var last = -1L
    var now = storageBytes(sc)
    var tries = 0
    while (now != last && tries < 50) {
      Thread.sleep(200); last = now; now = storageBytes(sc); tries += 1
    }
    now
  }

  /** Polls until storage is back at or below `level` (or 10 s have
    * passed); returns the last reading.
    */
  def storageDownTo(sc: org.apache.spark.SparkContext, level: Long): Long = {
    var now = storageBytes(sc)
    var waits = 0
    while (now > level && waits < 50) {
      Thread.sleep(200); now = storageBytes(sc); waits += 1
    }
    now
  }

  /** `body`'s result and the number of Spark jobs it started (listener
    * events drained before and after, so no other work is counted).
    */
  def jobsDuring[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): (T, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.Instrument.drain(sc)
    sc.addSparkListener(counter)
    try {
      val r = body
      org.apache.spark.graft.Instrument.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(counter)
  }

  /** `n` random lowercase letters drawn from `seed`. */
  def randText(seed: Long, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }

  /** The sample_hash md5-prefix rank (8-hex form), reimplemented
    * independently of the library (java MessageDigest, not Spark
    * functions) for reference models.
    */
  def md5Rank(docId: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Collect over an EXECUTED plan, traversing INTO AQE query stages
    * (plain TreeNode traversal stops at stage leaves) but NOT into
    * ReusedExchange (whose child is the shared original — a reused
    * subtree must not be visited twice).
    */
  def collectPlan[A](p: SparkPlan)(
      pf: PartialFunction[SparkPlan, A]): Seq[A] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq()
      case o => o.children
    }
    pf.lift(p).toSeq ++ kids.flatMap(collectPlan(_)(pf))
  }
}
