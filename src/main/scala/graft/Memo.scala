package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Per-process memo of a result derived from fixture tables: the one
  * cache policy every operator memo shares, so two declared queries
  * that are views of one expensive build pay for it once.
  *
  *  - Key: (session, sfDir, [[Memo.fingerprint]] of the named input
  *    tables, params). A session never sees another session's entry,
  *    and rewriting a table in place misses instead of serving stale
  *    results.
  *  - Sweep: every access releases the entries whose SparkContext is
  *    stopped and the entries for the same (session, sfDir) whose
  *    fingerprint changed, so rewrites cannot accumulate storage.
  *  - Release: [[Memo.release]], once per entry that leaves the memo.
  *  - Registry: [[Memo.clearAll]] releases every entry of every memo
  *    (`Lake.clearCaches`).
  */
final class Memo[V] private (tables: Seq[String]) {
  private val entries = new ConcurrentHashMap[Memo.Key, V]()

  def apply(spark: SparkSession, sfDir: String, params: Any*)(
      build: => V): V = {
    val fp = Memo.fingerprint(spark, sfDir, tables)
    entries.keySet.asScala.foreach { k =>
      if (k.spark.sparkContext.isStopped ||
          (k.spark == spark && k.sfDir == sfDir && k.fp != fp)) evict(k)
    }
    entries.computeIfAbsent(Memo.Key(spark, sfDir, fp, params),
      _ => build)
  }

  /** Only the caller whose remove succeeds releases the value. */
  private def evict(k: Memo.Key): Boolean = {
    val v = entries.remove(k)
    if (v != null) Memo.release(v)
    v != null
  }

  /** Releases every entry; returns how many there were. */
  private[graft] def clear(): Int = entries.keySet.asScala.count(evict)
}

object Memo {
  private final case class Key(spark: SparkSession, sfDir: String,
      fp: String, params: Seq[Any])

  private val registry = new CopyOnWriteArrayList[Memo[_]]()

  /** A memo fingerprinted over `tables` (default: the documents table). */
  def apply[V](tables: String*): Memo[V] = {
    val m = new Memo[V](if (tables.isEmpty) Seq("documents") else tables)
    registry.add(m)
    m
  }

  /** Releases every entry of every memo; returns the number released. */
  def clearAll(): Int = registry.asScala.map(_.clear()).sum

  /** A scratch directory owned by a memo entry: deleted on release. */
  final case class ScratchDir(path: String)

  /** Cheap input fingerprint: sorted (path, length, mtime) of every file
    * under the named tables, MD5'd. One driver-side metadata listing per
    * memoized call; no data is read. A live lake would use its
    * snapshot/version id; this is the parquet-dir equivalent.
    */
  private[graft] def fingerprint(spark: SparkSession, sfDir: String,
      tables: Seq[String]): String = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    tables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) buf += s"$t|absent"
      else {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          buf += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
        }
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    buf.sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Frees what a memo value holds. A frame is unpersisted; if its plan
    * root is a `LogicalRDD` (`localCheckpoint`), that RDD is unpersisted
    * too, since the checkpoint's blocks live there and
    * `Dataset.unpersist` does not touch them. A [[ScratchDir]] is
    * deleted. Tuple members are released one by one; other values hold
    * nothing. Failures (e.g. on a stopped session, whose storage is
    * already gone) are swallowed: dropping the entry is what releases
    * the reference.
    */
  private[graft] def release(v: Any): Unit =
    try v match {
      case df: Dataset[_] =>
        df.unpersist()
        df.queryExecution.analyzed match {
          case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
          case _ => ()
        }
      case ScratchDir(p) =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
        ()
      case (a, b) => release(a); release(b)
      case (a, b, c) => release(a); release(b); release(c)
      case _ => ()
    } catch { case NonFatal(_) => () }
}
