package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.MemoTestKit
import org.scalatest.funsuite.AnyFunSuite

/** The shared memo contract on tiny checkpointed values: session and
  * fingerprint keying, exactly-once release, the clearAll registry.
  */
class MemoSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private def tiny(n: Long): DataFrame =
    spark.range(n).toDF().localCheckpoint(true)

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  private def emptyDir(): String =
    Scratch.dir("graft_memo")

  /** Runs body with a listener counting unpersist calls per RDD id;
    * `count` drains the listener bus first.
    */
  private def counting[A](body: (Int => Int) => A): A = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        ids.add(e.rddId); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try body { id =>
      MemoTestKit.drainListeners(spark)
      ids.asScala.count(_ == id)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a new session does not see another session's entry") {
    val m = Memo[DataFrame]()
    val dir = emptyDir()
    var builds = 0
    val a = m(spark, dir) { builds += 1; tiny(3) }
    assert(m(spark, dir) { builds += 1; tiny(3) } eq a)
    val b = m(spark.newSession(), dir) { builds += 1; tiny(3) }
    assert(builds === 2)
    assert(b ne a)
    assert(m.clear() === 2)
  }

  test("a changed fingerprint evicts the old entry and releases it exactly once") {
    val m = Memo[DataFrame]("t")
    val dir = emptyDir()
    spark.range(5).write.parquet(s"$dir/t.parquet")
    counting { unpersists =>
      val old = m(spark, dir)(tiny(3))
      spark.range(7).write.mode("overwrite").parquet(s"$dir/t.parquet")
      val fresh = m(spark, dir)(tiny(4))
      assert(fresh ne old)
      // a further access sweeps again: the old entry is gone, not re-released
      assert(m(spark, dir)(fail("the rewritten table's entry was not served"))
        eq fresh)
      assert(unpersists(rddId(old)) === 1)
      assert(unpersists(rddId(fresh)) === 0)
      assert(m.clear() === 1)
    }
  }

  test("clearAll returns the entry count and releases each value once") {
    Memo.clearAll()
    val frames = Memo[DataFrame]()
    val dirs = Memo[Memo.ScratchDir]()
    val dir = emptyDir()
    val scratch = emptyDir()
    counting { unpersists =>
      val vs = (1 to 3).map(i => frames(spark, dir, i)(tiny(i.toLong)))
      dirs(spark, dir)(Memo.ScratchDir(scratch))
      assert(Memo.clearAll() === 4)
      assert(Memo.clearAll() === 0)
      vs.foreach(v => assert(unpersists(rddId(v)) === 1))
      assert(!new java.io.File(scratch).exists(), "scratch dir not deleted")
    }
  }

  test("a value whose release throws still leaves the map") {
    val m = Memo[DataFrame]()
    val dir = emptyDir()
    val refusing = m(spark, dir, "refusing")(MemoTestKit.refusingFrame(spark))
    intercept[IllegalStateException] {
      refusing.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.unpersist()
    }
    counting { unpersists =>
      val ok = m(spark, dir, "ok")(tiny(2))
      assert(m.clear() === 2)
      assert(unpersists(rddId(ok)) === 1)
    }
    assert(m.clear() === 0)
  }
}
