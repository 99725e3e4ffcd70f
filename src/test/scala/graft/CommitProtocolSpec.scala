package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LakeIO, VersionLog}

/** Round-19 commit protocol (VERDICT r18 #1 + ADVICE r18): the
  * versioned lake's single-writer assumption is ENFORCED by a commit
  * reservation (exclusive-create before any data write), and a commit
  * with write-time CDF publishes snapshot + capture ATOMICALLY (seal
  * last) — no failure mode leaves a committed-but-uncaptured hole.
  */
class CommitProtocolSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def snap(xs: (Long, Double)*) = xs.toDF("k", "x")

  test("reservation: the second writer of the same version number " +
      "fails LOUD at reserve time, before any data write") {
    val root = Scratch.dir("graft_reserve")
    new VersionLog(spark, root).reserve(0)
    val e = intercept[IllegalStateException] {
      new VersionLog(spark, root).reserve(0)
    }
    assert(e.getMessage.contains("already reserved")
      && e.getMessage.contains("CONCURRENT WRITER"), e.getMessage)
    // the burned number is skipped, never aliased: the next commit
    // sees the in-flight marker and numbers past it
    assert(LakeIO.saveVersion(snap((1L, 1.0)), root) === 1)
    assert(LakeIO.listVersions(spark, root) === Seq(1))
  }

  test("racing writers never alias a version: N concurrent saveVersion " +
      "calls yield distinct versions or loud failures; log ≡ snapshots") {
    val root = Scratch.dir("graft_race")
    LakeIO.saveVersion(snap((1L, 0.0)), root) // v0 seeds the chain
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[String, Int]]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        barrier.await()
        try outcomes.add(Right(
          LakeIO.saveVersion(snap((i.toLong, i.toDouble)), root)))
        catch { case e: Throwable =>
          outcomes.add(Left(e.getMessage))
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (failures, successes) = outcomes.asScala.toSeq.partitionMap(identity)
    // every success is a DISTINCT version (no aliasing — the corruption
    // the reservation exists to prevent), and every failure is the loud
    // reservation refusal, not a parquet-dir collision
    assert(successes.distinct.size === successes.size,
      s"version aliasing: $successes")
    failures.foreach(m => assert(m.contains("already reserved"), m))
    // the commit log is exactly the published snapshots — no orphan
    // entries, no unlogged snapshot dirs (crash-free run ⇒ clean aborts)
    val published = LakeIO.listVersions(spark, root)
    assert(published.toSet === (successes :+ 0).toSet)
    assert(new VersionLog(spark, root).commits === published)
    assert(new VersionLog(spark, root).inflight.isEmpty)
    // every published version reads back whole
    published.foreach { v =>
      assert(LakeIO.loadVersion(spark, root, Some(v)).count() >= 1)
    }
  }

  test("crash recovery: a reserved-but-unsealed commit is invisible — " +
      "not latest, not a commit, number burned not reused") {
    val root = Scratch.dir("graft_crash")
    val keys = Seq("k")
    LakeIO.saveVersionCdf(snap((1L, 10.0)), root, keys) // v0
    // simulate a writer that crashed between data write and seal:
    // reservation marker present, data dir present, no sealed entry
    new VersionLog(spark, root).reserve(1)
    snap((1L, 99.0)).write.parquet(s"$root/v=1")
    // readers never resolve the unsealed snapshot as latest
    assert(LakeIO.listVersions(spark, root) === Seq(0))
    assert(LakeIO.loadVersion(spark, root).collect().head.getDouble(1)
      === 10.0)
    // the capture guard does not count it as a commit: the feed over
    // (−1, 1] is just v0's capture — no refusal on the unpublished dir
    val feed = LakeIO.capturedChanges(spark, root, -1, 1)
    assert(feed.collect().map(_.getAs[String]("_change_type")).toSet
      === Set("insert"))
    // the burned number is never reused: the next commit takes v=2
    assert(LakeIO.saveVersionCdf(snap((1L, 11.0)), root, keys) === 2)
    assert(LakeIO.capturedChanges(spark, root, 0, 2).count() === 2)
  }

  test("a failed commit ABORTS clean: data write failure reclaims the " +
      "number, leaves no partial dir, no inflight marker") {
    val root = Scratch.dir("graft_abort")
    LakeIO.saveVersion(snap((1L, 1.0)), root) // v0
    val poison = spark.range(1)
      .withColumn("boom",
        when(col("id") >= 0, raise_error(lit("forced write failure")))
          .otherwise(lit(1)))
    intercept[Exception] { LakeIO.saveVersion(poison.toDF(), root) }
    assert(LakeIO.listVersions(spark, root) === Seq(0))
    assert(new VersionLog(spark, root).inflight.isEmpty)
    assert(!new java.io.File(s"$root/v=1").exists())
    // clean abort reclaimed the number — nothing ever referenced it
    assert(LakeIO.saveVersion(snap((2L, 2.0)), root) === 1)
  }

  test("a capture-side failure aborts clean: the snapshot written beside " +
      "it is reclaimed, nothing is sealed, and the writer thread is gone") {
    import scala.jdk.CollectionConverters._
    val root = Scratch.dir("graft_capture_abort")
    val keys = Seq("k")
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 20.0)), root, keys) // v0
    // a planted capture dir: v=1's capture write (ErrorIfExists) fails
    // while its snapshot write, running beside it, succeeds
    snap((9L, 9.0)).write.parquet(s"$root/_cdf/v=1")
    val e = intercept[Exception] {
      LakeIO.saveVersionCdf(snap((1L, 11.0), (2L, 20.0)), root, keys)
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(!new java.io.File(s"$root/v=1").exists())
    assert(new VersionLog(spark, root).inflight.isEmpty)
    assert(!new java.io.File(s"$root/_commits/v=1").exists())
    assert(new VersionLog(spark, root).commits === Seq(0))
    assert(LakeIO.listVersions(spark, root) === Seq(0))
    assert(LakeIO.loadVersion(spark, root).filter(col("k") === 1)
      .collect().head.getDouble(1) === 10.0)
    val writers = Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.getName.startsWith("graft-commit-writer") && t.getName.contains(root))
    assert(writers.forall(!_.isAlive), s"writer still alive: $writers")
    // the number was reclaimed: the retry publishes v=1 with its capture
    assert(LakeIO.saveVersionCdf(snap((1L, 11.0), (2L, 20.0)), root,
      keys) === 1)
    assert(LakeIO.capturedChanges(spark, root, 0, 1).count() === 2)
  }

  test("frames two evaluations can answer differently (rand(), " +
      "current_timestamp(), user functions, a dedup over conflicting " +
      "duplicates, a limit, a sample, a window, an aggregate function) are " +
      "materialized once: the feed replays to the snapshot, as a first " +
      "commit and as a later captured commit") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("k")
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    // 4000 rows over 8 partitions: unique keys, or 200 keys with 20
    // conflicting rows each
    val rows = spark.range(0, 4000).repartition(8)
      .select(col("id").as("k"), col("id").cast("double").as("x"))
    val dups = rows.withColumn("k", col("k") % 200)
    // rand() is seeded once per column and current_timestamp() fixed
    // once per query; `noise` says it differs on every evaluation, and
    // `clock` does too while Spark takes it for deterministic
    val noise = udf(() => java.util.UUID.randomUUID.toString)
      .asNondeterministic()
    val clock = udf((k: Long) => (System.nanoTime() + k).toDouble)
    val frames = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("rand", rows, _.withColumn("x", rand())),
      ("current_timestamp", rows, _.withColumn("x", current_timestamp())),
      ("nondeterministic_udf", rows, _.withColumn("x", noise())),
      ("dropDuplicates", dups, _.dropDuplicates("k")),
      ("limit", rows, _.limit(150)),
      ("sample", rows, _.sample(0.5)),
      ("window", dups, _.withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("x") % 2)))
        .filter(col("rn") === 1).drop("rn")),
      ("aggregate", dups, _.groupBy("k").agg(first("x").as("x"))),
      ("unmarked_udf", rows, _.withColumn("x", clock(col("k")))))
    val head = spark.range(0, 200).select(col("id").as("k"),
      col("id").cast("double").as("x"))
    // a stable frame (lake_maintain's shape) is evaluated twice instead
    assert(!VersionLog.volatile(head.join(head.filter(col("k") < 3), keys,
      "left_anti").unionByName(head.filter(col("k") < 3))))
    frames.foreach { case (name, in, f) =>
      assert(VersionLog.volatile(f(in)), s"$name: counted stable")
      val root = Scratch.dir(s"graft_ordered_$name")
      LakeIO.saveVersionCdf(f(in), root, keys) // v0
      // v1 keeps the same shape over a changed input
      LakeIO.saveVersionCdf(f(in.filter(col("x") =!= 7.0)), root, keys)
      val v0 = LakeIO.loadVersion(spark, root, Some(0))
      assert(same(LakeIO.replayChanges(v0.limit(0),
        LakeIO.capturedChanges(spark, root, -1, 0), keys), v0),
        s"$name: first commit")
      assert(same(LakeIO.replayChanges(v0,
        LakeIO.capturedChanges(spark, root, 0, 1), keys),
        LakeIO.loadVersion(spark, root, Some(1))), s"$name: captured commit")
    }
  }

  test("a captured commit builds its capture from the frame: no query of " +
      "the commit scans a file under its own new version") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Scratch.dir("graft_capture_scan")
    val keys = Seq("k")
    LakeIO.saveVersionCdf(snap((1L, 1.0), (2L, 2.0)), root, keys) // v0
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => scanned.add(p.toString))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.Instrument.drain(sc)
    spark.listenerManager.register(listener)
    try {
      assert(LakeIO.saveVersionCdf(snap((1L, 1.5), (3L, 3.0)), root,
        keys) === 1)
      org.apache.spark.graft.Instrument.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val ours = scanned.asScala.toSeq.filter(_.contains(root))
    // the diff read the previous head, and nothing read the new version
    assert(ours.exists(_.endsWith("/v=0")), s"no scan of v=0: $ours")
    assert(!ours.exists(_.endsWith("/v=1")), s"v=1 was read back: $ours")
  }

  test("saveVersionCdf validates schema BEFORE any write (ADVICE r18 " +
      "medium): a drifted commit refuses with head untouched, no hole") {
    val root = Scratch.dir("graft_prevalidate")
    val keys = Seq("k")
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 20.0)), root, keys) // v0
    // added column: refused pre-commit
    val drifted = Seq((1L, 10.0, "a")).toDF("k", "x", "tag")
    val e1 = intercept[IllegalArgumentException] {
      LakeIO.saveVersionCdf(drifted, root, keys)
    }
    assert(e1.getMessage.contains("schemas differ"), e1.getMessage)
    // changed TYPE, same names (ADVICE r18 low): also refused, naming
    // the drifted signature — previously passed the name-set guard and
    // failed downstream with an opaque struct-compare error
    val typeDrift = Seq((1L, 10)).toDF("k", "x") // x: int, head: double
    val e2 = intercept[IllegalArgumentException] {
      LakeIO.saveVersionCdf(typeDrift, root, keys)
    }
    assert(e2.getMessage.contains("x:int")
      && e2.getMessage.contains("x:double"), e2.getMessage)
    // head untouched, numbering untouched, feed commit-complete: the
    // failures left NO committed-but-uncaptured version behind
    assert(LakeIO.listVersions(spark, root) === Seq(0))
    assert(new VersionLog(spark, root).commits === Seq(0))
    assert(LakeIO.saveVersionCdf(snap((1L, 11.0), (2L, 20.0)), root,
      keys) === 1)
    assert(LakeIO.capturedChanges(spark, root, 0, 1).count() === 2)
  }

  test("threeWayMergeOutcome refuses TYPE drift with the same message " +
      "as column drift (ADVICE r18 low)") {
    val base = snap((1L, 10.0))
    val typed = Seq((1L, 10)).toDF("k", "x")
    val e = intercept[IllegalArgumentException] {
      LakeIO.threeWayMergeOutcome(base, typed, base, Seq("k"))
    }
    assert(e.getMessage.contains("schema differs from")
      && e.getMessage.contains("x:int"), e.getMessage)
  }

  test("capturedChanges (head, head]: the caught-up consumer's poll is " +
      "an EMPTY feed in the capture schema, not an exception (ADVICE r18)") {
    val root = Scratch.dir("graft_caughtup")
    val keys = Seq("k")
    LakeIO.saveVersionCdf(snap((1L, 10.0)), root, keys) // v0
    LakeIO.saveVersionCdf(snap((1L, 12.0)), root, keys) // v1
    val empty = LakeIO.capturedChanges(spark, root, 1, 1)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq
      === Seq("k", "x", "_change_type", "_commit_version"))
    // the steady-state loop shape: poll, see nothing, poll again after
    // a commit, see exactly the new churn
    LakeIO.saveVersionCdf(snap((1L, 13.0)), root, keys) // v2
    assert(LakeIO.capturedChanges(spark, root, 1, 2).count() === 2)
  }

  test("stream fence repair (ADVICE r18): a replayed commit whose " +
      "capture is missing is REPAIRED from retained snapshots, not " +
      "skipped into a permanent hole") {
    val root = Scratch.dir("graft_fencerepair")
    val keys = Seq("k")
    val tbl = s"$root/t"
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 20.0)), tbl, keys) // v0
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 22.0)), tbl, keys) // v1
    LakeIO.saveVersionCdf(snap((3L, 30.0), (2L, 22.0)), tbl, keys) // v2
    // simulate a legacy hole: v=1's capture vanished (pre-r19 writer
    // crash — impossible through the sealed protocol, but repairable)
    val cdf1 = new java.io.File(s"$tbl/_cdf/v=1")
    assert(cdf1.exists())
    org.apache.commons.io.FileUtils.deleteDirectory(cdf1)
    intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, tbl, 0, 2)
    }
    // an at-least-once replay of commit 1's batch hits the fence
    // (1 <= head 2) and REPAIRS the hole by re-diffing v0 vs v1
    val batch = LakeIO.changes(spark, tbl, 0, 1, keys)
    graft.streaming.Streams.applyCommitsIdempotent(batch, tbl, keys)
    assert(new java.io.File(s"$tbl/_cdf/v=1").exists())
    val feed = LakeIO.capturedChanges(spark, tbl, 0, 2)
    // replay invariant restored across the repaired range
    val rebuilt = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, tbl, Some(0)), feed, keys)
    val head = LakeIO.loadVersion(spark, tbl, Some(2))
    assert(rebuilt.exceptAll(head).count() === 0
      && head.exceptAll(rebuilt).count() === 0)
    // and the repaired replay stayed idempotent: re-running the same
    // batch changes nothing (no double-apply, no double-repair error)
    graft.streaming.Streams.applyCommitsIdempotent(batch, tbl, keys)
    assert(LakeIO.listVersions(spark, tbl) === Seq(0, 1, 2))
  }

  test("compaction rewrite commit is atomic with its empty capture: " +
      "the captured feed spans it without refusing") {
    val root = Scratch.dir("graft_rewrite")
    val lake = Lake(spark, root)
    val keys = Seq("k")
    lake.saveVersionedCdf(snap((1L, 10.0), (2L, 20.0))
      .repartition(8), "t", keys)                        // v0, 8 files
    lake.saveVersionedCdf(snap((1L, 10.0), (2L, 22.0))
      .repartition(8), "t", keys)                        // v1
    val (before, after) = lake.compact("t", 128L * 1024 * 1024) // v2
    assert(before > after)
    val feed = lake.capturedChanges("t", 0, 2) // spans the rewrite
    assert(feed.filter(col("_commit_version") === 2).count() === 0)
    val rebuilt = LakeIO.replayChanges(
      lake.loadVersioned("t", Some(0)), feed, keys)
    val head = lake.loadVersioned("t")
    assert(rebuilt.exceptAll(head).count() === 0
      && head.exceptAll(rebuilt).count() === 0)
  }

  test("saveVersionCdfKnownDiff: the known-diff capture is row-identical " +
      "to the capture the generic snapshot re-diff would have written") {
    val root = Scratch.dir("graft_knowndiff") + "/t"
    val keys = Seq("k")
    val v0 = snap((1L, 1.0), (2L, 2.0), (3L, 3.0))
    val v1 = snap((1L, 1.0), (2L, 2.5), (4L, 4.0)) // update 2, drop 3, insert 4
    LakeIO.saveVersionCdf(v0, root, keys)
    // the exact change set, as a producer folding known churn holds it
    val diff = LakeIO.snapshotDiff(v0, v1, keys, stampVersion = 99) // stale stamp on purpose
    LakeIO.saveVersionCdfKnownDiff(v1, root, keys, diff)
    val written = LakeIO.capturedChanges(spark, root, 0, 1)
    // stale stamp must have been overwritten with the committed version
    assert(written.select("_commit_version").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(1))
    // and the rows must equal what the generic path would recompute
    val recomputed = LakeIO.changes(spark, root, 0, 1, keys)
    val a = written.select("k", "x", "_change_type")
    val b = recomputed.select("k", "x", "_change_type")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // and the replay law holds over the known-diff capture
    val replayed = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, root, Some(0)), written, keys)
    val head = LakeIO.loadVersion(spark, root, Some(1))
    assert(replayed.exceptAll(head).count() === 0
      && head.exceptAll(replayed).count() === 0)
  }

  test("versioned reads take the schema from one footer: every version " +
      "and capture read equals Spark's inferred read field for field and " +
      "starts no job") {
    import graft.sources.Tables
    import org.apache.spark.sql.DataFrame
    // builds `read`, counting the jobs it starts, and compares its schema
    // with the inferred read of the same paths
    def check(what: String, paths: Seq[String])(read: => DataFrame): Unit = {
      val (got, jobs) = SpecUtil.jobsDuring(spark)(read.schema)
      assert(jobs === 0L, s"$what: building the read started jobs")
      val want = spark.read.parquet(paths: _*).schema
      assert(got.fields.toSeq === want.fields.toSeq,
        s"$what:\n${got.treeString}\nvs inferred\n${want.treeString}")
    }
    val root = Scratch.dir("schema_rule")
    val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.1"
    Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier").foreach { t =>
      val log = new VersionLog(spark, s"$root/$t")
      LakeIO.saveVersion(Tables.table(spark, sf01, t), s"$root/$t")
      check(t, Seq(log.dir(0).toString))(log.read(0))
    }
    val empty = new VersionLog(spark, s"$root/empty")
    LakeIO.saveVersion(Tables.table(spark, sf01, "orders").limit(0),
      s"$root/empty")
    check("zero-row version", Seq(empty.dir(0).toString))(empty.read(0))
    // a hand-partitioned version (files under v=0/p=.../) and a
    // shallow clone of it, which reads through its manifest
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "x")
      .write.partitionBy("p").parquet(s"$root/src/v=0")
    val src = new VersionLog(spark, s"$root/src")
    check("partitioned version", Seq(src.dir(0).toString))(src.read(0))
    LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/clone")
    val clone = new VersionLog(spark, s"$root/clone")
    check("clone manifest", clone.files(0).map(_.getPath.toString))(
      clone.read(0))
    // a multi-commit capture range
    val cdf = s"$root/cdf"
    Seq(snap((1L, 1.0), (2L, 2.0)), snap((1L, 1.5), (3L, 3.0)),
        snap((1L, 1.5), (3L, 4.0), (5L, 5.0))).foreach { v =>
      LakeIO.saveVersionCdf(v, cdf, Seq("k"))
    }
    val captures = Seq(1, 2).map(v => s"$cdf/_cdf/v=$v")
    check("capture range", captures)(
      LakeIO.capturedChanges(spark, cdf, 0, 2))
  }
}
