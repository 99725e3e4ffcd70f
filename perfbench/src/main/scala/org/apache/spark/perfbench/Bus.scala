package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: waiting until the
  * listener bus has delivered every queued event. Events are keyed by
  * operation id, so this is only needed before reading totals at the
  * end of a run (and before reading the block manager's storage).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
