package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EventWindows, GraphOps, Multimodal, SimSearch}
import graft.sources.{LakeIO, Tables, VersionLog}
import graft.streaming.Streams

/** Scale claims that are counts, checked at fixture scale: each test
  * runs its operator at two input sizes (or two sample densities) and
  * asserts the count that must stay put, or the arithmetic it must
  * follow. The log-metadata claims come first: retention is a listing,
  * not a job, and merge and replay work is sized by churn, not by the
  * table. Wall-time scaling at N× lives in SCALE.md (graft.ScaleHarness).
  */
class ScaleClaimsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  /** A (k, x) table of `n` rows; `bump` adds to x on keys in [lo, hi). */
  private def table(n: Long, lo: Long = 0, hi: Long = 0,
      bump: Double = 0.0): DataFrame =
    spark.range(n).select(col("id").as("k"),
      ((col("id") % 997).cast("double") +
        when(col("id") >= lo && col("id") < hi, bump).otherwise(0.0))
        .as("x"))

  test("vacuum keep=1 on a captured table starts no Spark job at any " +
      "table size: dropped snapshots and captures go, the head stays") {
    // the commit log keeping every entry and a vacuumed uncaptured
    // commit still refusing are LakeSpec's "retention × CDF" test
    for (n <- Seq(2000L, 20000L)) {
      val root = Scratch.dir(s"vacuum_$n")
      (0 until 4).foreach(i =>
        LakeIO.saveVersionCdf(table(n, 0, 100, i).repartition(4), root,
          Seq("k")))
      val (dropped, jobs) = SpecUtil.jobsDuring(spark)(LakeIO.vacuumVersions(spark, root,
        keep = 1))
      assert(jobs === 0L, s"vacuum at $n rows ran $jobs jobs")
      assert(dropped === Seq(0, 1, 2))
      val log = new VersionLog(spark, root)
      assert(log.versions === Seq(3) && log.captured === Seq(3))
      dropped.foreach(v =>
        assert(!new java.io.File(log.dir(v).toUri.getPath).exists()))
    }
  }

  test("threeWayMergeOutcome plans no product join, and with churn held " +
      "fixed its conflicts and changed keys do not grow with the table") {
    for (n <- Seq(2000L, 20000L)) {
      val base = table(n)
      val ours = table(n, 0, 100, 1.0)
      val theirs = table(n, 50, 150, 2.0)
      val outcome = LakeIO.threeWayMergeOutcome(base, ours, theirs, Seq("k"))
      val r = outcome.join(base.withColumnRenamed("x", "bx"), Seq("k"), "left")
        .agg(sum(col("_merge_conflict").cast("long")),
          sum((col("_merge_present") && !(col("x") <=> col("bx")))
            .cast("long")),
          sum(col("_merge_present").cast("long"))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((50L, 150L, n)),
        s"(conflicts, changed, merged) at $n rows")
      val products = SpecUtil.collectPlan(outcome.queryExecution.executedPlan) {
        case p @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) =>
          p.nodeName
      }
      assert(products.isEmpty, s"merge plans a product join: $products")
    }
  }

  test("the captured feed and applyChanges' remove set are sized by " +
      "churn: 100 updated keys give 200 feed rows at every table size") {
    for (n <- Seq(2000L, 20000L)) {
      val root = Scratch.dir(s"feed_$n")
      LakeIO.saveVersionCdf(table(n).repartition(4), root, Seq("k"))
      LakeIO.saveVersionCdf(table(n, 0, 100, 1.0).repartition(4), root,
        Seq("k"))
      val feed = LakeIO.capturedChanges(spark, root, 0, 1)
      val removed = feed
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .select("k").distinct().count()
      assert((feed.count(), removed) === ((200L, 100L)), s"at $n rows")
      val head = LakeIO.loadVersion(spark, root, Some(1))
      val replica = LakeIO.applyChanges(LakeIO.loadVersion(spark, root,
        Some(0)), feed, Seq("k"))
      assert(replica.exceptAll(head).isEmpty && head.exceptAll(replica).isEmpty)
    }
  }

  test("stream index append: each batch appends exactly |delta| x m code " +
      "rows and never touches the store partition's files") {
    val m = 4
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val store = emb.filter(col("vec_id") % 10 < 8)
    val (coarse, pqCb) = SimSearch.storeCodebooks(store)
    val index = Scratch.dir("ingest") + "/index"
    SimSearch.encodeIvfPq(store, coarse, pqCb, m)
      .withColumn("ingest", lit(-1L))
      .write.partitionBy("ingest", "cent_id").parquet(index)
    def storeFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$index/ingest=-1"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = storeFiles()
    val delta = emb.filter(col("vec_id") % 10 >= 8)
    val deltas = Seq(delta.filter(col("vec_id") < 50),
      delta.filter(col("vec_id") >= 50))
    val sizes = deltas.map(_.count())
    assert(sizes(1) >= 8 * sizes(0), s"delta sizes not ~10x apart: $sizes")
    deltas.zip(sizes).zipWithIndex.foreach { case ((d, size), batch) =>
      val rows0 = spark.read.parquet(index).count()
      Streams.ingestIndexBatch(d, index, coarse, pqCb, m, batchId = batch.toLong)
      assert(spark.read.parquet(index).count() - rows0 === size * m)
    }
    assert(storeFiles() === before, "streamed ingest rewrote the store")
  }

  test("betweenness on a path: judged pairs follow the seed arithmetic " +
      "(quadratic in the sample) and σ is exactly 1 at both densities") {
    val nPath = 2000L
    val edges = spark.range(nPath).select(col("id").as("u"),
      (col("id") + 1).as("v")).localCheckpoint(true)
    val pairs = Seq(2L, 4L).map { seedMod =>
      val r = GraphOps.betweennessEnum(edges, seedMod, maxDepth = 4)
        .agg(sum(col("n_pairs")), sum(col("stress")), sum(col("bt_fp")))
        .head()
      // on a path every σ = 1: each fixed-point term is exactly 1e6
      assert(r.getLong(1) === r.getLong(0), "path stress terms are all 1")
      assert(r.getLong(2) === r.getLong(0) * 1000000L, s"σ drifted: $r")
      r.getLong(0)
    }
    GraphOps.unpersistCheckpoint(edges)
    // stride 2 judges diff-2 pairs (one mediator) and diff-4 pairs (three);
    // stride 4 only diff-4 pairs: about 8/3 the work for twice the seeds
    val (s2, s4) = (nPath / 2 + 1, nPath / 4 + 1)
    assert(pairs === Seq((s2 - 1) + 3 * (s2 - 2), 3 * (s4 - 1)))
    val ratio = pairs(0).toDouble / pairs(1)
    assert(ratio > 2.6 && ratio < 2.7, s"pair ratio $ratio")
  }

  test("closeness state on a path tracks the seed sample, not |V|: " +
      "10x sparser seeds settle about 10x fewer (vertex, seed) pairs") {
    val edges = spark.range(1999L).select(col("id").as("u"),
      (col("id") + 1).as("v")).localCheckpoint(true)
    val settled = Seq(17L, 170L).map(seedMod =>
      GraphOps.closenessEnum(edges, seedMod, maxDepth = 4)
        .agg(sum(col("n_seeds"))).head().getLong(0))
    GraphOps.unpersistCheckpoint(edges)
    val ratio = settled(0).toDouble / settled(1)
    assert(ratio > 7.0 && ratio < 13.0, s"settled $settled ratio=$ratio")
  }

  test("video and audio dedup at 10x clip length: the planted re-encode " +
      "is found at both lengths and its frames follow the clip arithmetic") {
    val dedups = Seq(
      ("video/mp4", (len: Int) => (len - 252) / 100 + 1,
        (df: DataFrame) => Multimodal.videoDedupAssets(df, 3)),
      ("audio/wav", (len: Int) => (len - 252) / 100,
        (df: DataFrame) => Multimodal.audioDedupAssets(df, 3)))
    for ((mime, frames, dedup) <- dedups; len <- Seq(800, 8000)) {
      val base = SpecUtil.randText(1000L + len, len)
      val reenc = base.updated(400, 'z').updated(401, 'z')
      val clips = ((1L, base) +: (2L, reenc) +:
        (3L to 8L).map(i => (i, SpecUtil.randText(i, len))))
        .toDF("asset_id", "s")
        .select(col("asset_id"), lit(mime).as("mime"),
          encode(col("s"), "UTF-8").as("blob"))
      val planted = dedup(clips).collect()
        .find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      assert(planted.isDefined, s"$mime: planted pair lost at len=$len")
      assert(planted.get.getLong(2) === frames(len).toLong,
        s"$mime: n_a at len=$len")
    }
  }

  test("event_pattern holds one heavy user's whole history in one group " +
      "without dropping events: its count is exact, its funnel converts") {
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    val heavy = 5000L
    val events = spark.range(heavy + 1000L).select(
      when(col("id") < heavy, 0L)
        .otherwise(((col("id") - heavy) / 100).cast("long") + 1)
        .as("user_id"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      col("id").as("event_id"),
      element_at(types, (pmod(hash(col("id")), lit(5)) + 1).cast("int"))
        .as("event_type"))
    val rows = EventWindows.eventPatternEvents(events).collect()
    assert(rows.length === 11)
    val top = rows.find(_.getLong(0) == 0L).get
    assert(top.getLong(1) === heavy && top.getLong(2) > 0, s"heavy user: $top")
  }
}
