package org.apache.spark.sql.graft

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Spark-internal handles for MemoSpec. */
object MemoTestKit {
  private class RefusingRDD(prev: RDD[InternalRow])
      extends RDD[InternalRow](prev) {
    override def compute(p: Partition, c: TaskContext): Iterator[InternalRow] =
      prev.iterator(p, c)
    override protected def getPartitions: Array[Partition] = prev.partitions
    override def unpersist(blocking: Boolean): this.type =
      throw new IllegalStateException("unpersist refused")
  }

  /** A frame rooted at a `LogicalRDD` whose RDD throws on unpersist. */
  def refusingFrame(spark: SparkSession): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val src = s.range(3).queryExecution
    org.apache.spark.sql.classic.Dataset.ofRows(s,
      LogicalRDD(src.analyzed.output, new RefusingRDD(src.toRdd))(s))
  }

  /** Blocks until every event posted so far reached the listeners. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
