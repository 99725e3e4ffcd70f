package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Lake

/** The dataset owner. Set-up publishes a versioned copy of `orders` with
  * change capture on. Each cycle stages one seeded change batch (about 1%
  * updates, 0.1% deletes, 0.1% inserts), builds the next snapshot from the
  * head with plain DataFrame operations and publishes it, then reads the
  * latest version over a key range, a pinned older version, and the
  * captured changes of the last commits. Every `compactEvery` commits it
  * compacts and vacuums. The client keeps its own model of every version
  * (the row hashes) and of every commit's expected change feed.
  */
final class LakeMaintain extends Workload {
  private val table = "orders"
  private val key = "o_orderkey"
  private val compactEvery = 2
  private val cyclesPerPass = 4
  private val keep = 3
  private val cdfSpan = 3

  private var warehouse: String = _
  private var lake: Lake = _
  private var schema: StructType = _
  private var cdfSchema: StructType = _
  private val rows = mutable.HashMap.empty[Long, Row]
  private val versionDigest = mutable.HashMap.empty[Int, Digest]
  private val cdfDigest = mutable.HashMap.empty[Int, Digest]
  private val retained = mutable.ArrayBuffer.empty[Int]
  private val vacuumed = mutable.ArrayBuffer.empty[Int]
  private val pinnedChecked = mutable.HashSet.empty[Int]
  private var head = 0
  private var commits = 0
  private var nextKey = 0L
  private var keySpan = 0L
  private var stagedBytes = 0L
  private var writtenBytes = 0L
  private var filesWritten = 0L
  private var files = Map.empty[String, Long]

  /** Publishes the seed table and builds the client's model of it. */
  override def setup(spark: SparkSession, o: Opts): Unit = {
    warehouse = s"${o.work}/warehouse"
    lake = Lake(spark, warehouse)
    head = lake.saveVersionedCdf(
      spark.read.parquet(s"${o.sfDir}/$table.parquet"), table, Seq(key))
    val seed = lake.loadVersioned(table, Some(head))
    schema = seed.schema
    cdfSchema = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", IntegerType)))
    seed.collect().foreach(r => rows(r.getLong(0)) = r)
    require(schema.fieldNames.head == key, s"$key must lead ${schema}")
    versionDigest(head) = Digest.ofRows(rows.values)
    retained += head
    nextKey = rows.keys.max + 1
    keySpan = nextKey - rows.keys.min
    files = walk(warehouse)
  }

  private def walk(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  private def dirBytes(dir: String): Long = walk(dir).values.sum

  /** Counts what the last write operation added under the warehouse. */
  private def afterWrite(): Unit = {
    val now = walk(warehouse)
    now.foreach { case (p, n) =>
      if (!files.get(p).contains(n)) { writtenBytes += n; filesWritten += 1 }
    }
    files = now
  }

  private def withValues(r: Row, tail: Any*): Row =
    new GenericRowWithSchema((r.toSeq ++ tail).toArray, cdfSchema)

  private def cycle(ctx: Ctx, c: Int): Unit = {
    val spark = ctx.spark
    val rnd = new Random(ctx.o.seed * 1000003L + c)
    val live = rows.keys.toArray.sorted
    val picked = mutable.LinkedHashSet.empty[Long]
    val nUpd = live.length / 100
    val nDel = live.length / 1000
    while (picked.size < nUpd + nDel) picked += live(rnd.nextInt(live.length))
    val (updKeys, delKeys) = picked.toSeq.splitAt(nUpd)
    val statuses = Array("F", "O", "P")
    val updated = updKeys.map { k =>
      val r = rows(k)
      val v = r.toSeq.toArray
      v(2) = statuses(rnd.nextInt(3))
      v(3) = math.rint((r.getDouble(3) + 1 + rnd.nextInt(10000) / 100.0) * 100) / 100
      new GenericRowWithSchema(v, schema): Row
    }
    val inserted = (0 until nDel).map { j =>
      val v = rows(live(rnd.nextInt(live.length))).toSeq.toArray
      v(0) = nextKey + j
      new GenericRowWithSchema(v, schema): Row
    }
    nextKey += nDel
    val stage = s"${ctx.o.work}/staging/cycle-$c"
    spark.createDataFrame((updated ++ inserted).asJava, schema).coalesce(1)
      .write.parquet(s"$stage/upserts")
    spark.createDataFrame(delKeys.map(k => Row(k)).asJava,
      StructType(Seq(schema.fields.head))).coalesce(1)
      .write.parquet(s"$stage/deletes")
    stagedBytes += dirBytes(stage)

    val v = ctx.op("commit", "commit") {
      val cur = ctx.span("lakeio.load_latest")(lake.loadVersioned(table))
      val up = spark.read.parquet(s"$stage/upserts")
      val del = spark.read.parquet(s"$stage/deletes")
      val touched = up.select(key).union(del.select(key))
      val next = cur.join(touched, Seq(key), "left_anti").unionByName(up)
      ctx.span("lakeio.commit")(lake.saveVersionedCdf(next, table, Seq(key)))
    }
    afterWrite()
    v.foreach { v =>
      var d = versionDigest(head)
      var feed = Digest.empty
      def h(r: Row) = Digest(1, Digest.rowHash(r))
      updated.foreach { n =>
        val old = rows(n.getLong(0))
        d = d - h(old) + h(n)
        feed = feed + h(withValues(old, "update_preimage", v)) +
          h(withValues(n, "update_postimage", v))
        rows(n.getLong(0)) = n
      }
      delKeys.foreach { k =>
        val old = rows.remove(k).get
        d = d - h(old)
        feed = feed + h(withValues(old, "delete", v))
      }
      inserted.foreach { n =>
        d = d + h(n)
        feed = feed + h(withValues(n, "insert", v))
        rows(n.getLong(0)) = n
      }
      versionDigest(v) = d
      cdfDigest(v) = feed
      head = v
      retained += v
      commits += 1
    }

    // the latest version over a key range of about 1% of the keys
    val lo = live(rnd.nextInt(live.length))
    val hi = lo + keySpan / 100
    val rangeOp = ctx.op("read", "read_latest") {
      val df = ctx.span("lakeio.load_latest")(lake.loadVersioned(table))
      ctx.noop(df.filter(col(key).between(lo, hi)))
    }
    if (rangeOp.nonEmpty) {
      val want = Digest.ofRows(rows.values.filter { r =>
        val k = r.getLong(0); k >= lo && k <= hi
      })
      // the same call the timed read made: the latest version
      val got = Digest.of(lake.loadVersioned(table)
        .filter(col(key).between(lo, hi)))
      if (got != want) fail(ctx, s"read_latest v=$head [$lo, $hi]")
    }

    // a pinned older version, read whole
    val older = retained.filter(_ < head)
    if (older.nonEmpty) {
      val pv = older(rnd.nextInt(older.size))
      val ok = ctx.op("read", "read_pinned") {
        ctx.noop(ctx.span("lakeio.load_pinned")(
          lake.loadVersioned(table, Some(pv))))
      }
      if (ok.nonEmpty && pinnedChecked.add(pv) &&
          Digest.of(lake.loadVersioned(table, Some(pv))) != versionDigest(pv))
        fail(ctx, s"read_pinned v=$pv")
    }

    // the captured changes of the last commits
    val from = math.max(head - cdfSpan, retained.head)
    if (from < head) {
      val to = head
      val ok = ctx.op("read", "read_cdf") {
        ctx.noop(ctx.span("lakeio.cdf_read")(
          lake.capturedChanges(table, from, to)))
      }
      val want = (from + 1 to to).map(cdfDigest).foldLeft(Digest.empty)(_ + _)
      if (ok.nonEmpty &&
          Digest.of(lake.capturedChanges(table, from, to)) != want)
        fail(ctx, s"read_cdf ($from, $to]")
    }

    if (v.nonEmpty && commits % compactEvery == 0) maintain(ctx)
  }

  /** Compaction publishes a content-identical version with an empty
    * change capture; vacuum then drops all but the newest `keep`.
    */
  private def maintain(ctx: Ctx): Unit = {
    val c = ctx.op("commit", "compact") {
      ctx.span("lakeio.compact")(lake.compact(table, 64L << 20))
    }
    afterWrite()
    if (c.nonEmpty) {
      val v = head + 1
      versionDigest(v) = versionDigest(head)
      cdfDigest(v) = Digest.empty
      head = v
      retained += v
    }
    ctx.op("commit", "vacuum") {
      ctx.span("lakeio.vacuum")(lake.vacuum(table, keep))
    }.foreach { dropped =>
      retained --= dropped
      vacuumed ++= dropped
    }
    afterWrite()
  }

  private def fail(ctx: Ctx, what: String): Unit = {
    System.err.println(s"[perfbench] $what: result differs from the model")
    ctx.records.last.ok = false
  }

  /** A pass is `cyclesPerPass` cycles, every `compactEvery`-th ending in
    * maintenance; with `--ops` the budget counts cycles.
    */
  def run(ctx: Ctx): Unit = {
    var c = 0
    var p = 0
    val budget = ctx.o.ops
    def left = budget.forall(c < _)
    while (left && (budget.nonEmpty || ctx.another(p))) {
      (1 to cyclesPerPass).foreach { _ => if (left) { cycle(ctx, c); c += 1 } }
      p += 1
    }
  }

  /** From a fresh `Lake` after `Lake.clearCaches()`: the latest version
    * is the head, every retained version equals the model, replaying the
    * captured feed from the oldest retained version reproduces the head,
    * and vacuumed versions are refused.
    */
  def verify(ctx: Ctx): Unit = {
    Lake.clearCaches()
    val fresh = Lake(ctx.spark, warehouse)
    ctx.check(s"latest = v=$head") {
      Digest.of(fresh.loadVersioned(table)) == versionDigest(head)
    }
    retained.foreach { v =>
      ctx.check(s"retained v=$v") {
        Digest.of(fresh.loadVersioned(table, Some(v))) == versionDigest(v)
      }
    }
    val a = retained.head
    if (a < head) ctx.check(s"replay ($a, $head]") {
      Digest.of(fresh.replayChanges(fresh.loadVersioned(table, Some(a)),
        fresh.capturedChanges(table, a, head), Seq(key))) ==
        versionDigest(head)
    }
    vacuumed.foreach { v =>
      ctx.check(s"vacuumed v=$v refused") {
        scala.util.Try(fresh.loadVersioned(table, Some(v)).count()).isFailure
      }
    }
  }

  def metrics(ctx: Ctx): Seq[Metric] = {
    val writes = ctx.records.filter(_.kind == "commit").map(_.ms).toSeq
    val reads = ctx.records.filter(_.kind == "read").map(_.ms).toSeq
    val latest = walk(s"$warehouse/$table/v=$head").collect {
      case (p, n) if p.endsWith(".parquet") => n
    }.sum
    Seq(Metric("commit_p50_ms", Workload.pct(writes, 0.5), "ms"),
      Metric("commit_p95_ms", Workload.pct(writes, 0.95), "ms"),
      Metric("read_p50_ms", Workload.pct(reads, 0.5), "ms"),
      Metric("read_p95_ms", Workload.pct(reads, 0.95), "ms"),
      Metric("write_amp", writtenBytes.toDouble / stagedBytes, "ratio"),
      Metric("space_amp", dirBytes(warehouse).toDouble / latest, "ratio"),
      Metric("commits", writes.size, "count"),
      Metric("reads", reads.size, "count"))
  }

  override def layerMetrics(ctx: Ctx): Seq[Metric] = {
    val dataFiles = retained.map { v =>
      walk(s"$warehouse/$table/v=$v").keys.count(_.endsWith(".parquet"))
    }
    val commitOps = ctx.records.filter(_.name == "commit").map(_.id)
    val jobs = ctx.trace.map(t => commitOps.map(t.statsOf(_).jobs).sum)
      .getOrElse(0L)
    Seq(Metric("lakeio.files_written", filesWritten.toDouble, "count"),
      Metric("lakeio.bytes_written", writtenBytes.toDouble, "bytes"),
      Metric("lakeio.files_per_version",
        dataFiles.sum.toDouble / math.max(1, dataFiles.size), "count"),
      Metric("lakeio.jobs_per_commit",
        jobs.toDouble / math.max(1, commitOps.size), "count"))
  }
}
