package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LakeIO, Tables, VersionLog}

/** The novlake-shaped user journey end-to-end: attach a database, run
  * SQL, save a derived dataset (plain / partitioned / append /
  * replace-partitions), preview, inspect meta, list tables.
  */
class LakeSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def newLake(): Lake =
    Lake(spark, Scratch.dir("lake"))
      .attachFixtures(TestSpark.sf)

  test("scd2Apply: change closes+opens, no-op is silent, insert starts at the new version") {
    import org.apache.spark.sql.functions._
    def dimOf(rows: Seq[(Long, String, Int, Option[Int], Boolean)]) =
      rows.toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val v1 = dimOf(Seq((1L, "a", 1, None, true), (2L, "b", 1, None, true),
      (3L, "c", 1, None, true)))
    val upd2 = Seq((1L, "a"), (2L, "X"), (4L, "d")).toDF("k", "attr")
    val v2 = LakeIO.scd2Apply(v1, upd2, Seq("k"), Seq("attr"), newVersion = 2)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        r.getBoolean(4))).toSet
    assert(snap(v2) === Set(
      (1L, "a", 1, None, true),        // no-op: still the v1 row
      (2L, "b", 1, Some(2), false),    // closed
      (2L, "X", 2, None, true),        // opened
      (3L, "c", 1, None, true),        // untouched
      (4L, "d", 2, None, true)))       // inserted
    // a second round stacks history: key 2 changes again
    val v3 = LakeIO.scd2Apply(v2,
      Seq((2L, "Y")).toDF("k", "attr"), Seq("k"), Seq("attr"),
      newVersion = 3)
    assert(snap(v3.filter(col("k") === 2L)) === Set(
      (2L, "b", 1, Some(2), false),
      (2L, "X", 2, Some(3), false),
      (2L, "Y", 3, None, true)))
  }

  test("query: SQL passthrough over attached tables") {
    val lake = newLake()
    val top = lake.query(
      """SELECT o_custkey, count(*) AS n FROM orders
        |GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 5""".stripMargin)
    assert(top.count() === 5)
  }

  test("saveDataset + load + preview + meta + listTables round-trip") {
    val lake = newLake()
    val derived = lake.query(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000")
    val back = lake.saveDataset(derived, "marts.big_orders")
    assert(back.count() === derived.count())
    assert(lake.load("marts.big_orders").count() === derived.count())
    assert(lake.preview("marts.big_orders", 3).count() === 3)
    assert(lake.meta("marts.big_orders")
      .filter(col("col_name") === "o_totalprice").count() === 1)
    assert(lake.listTables()
      .filter(col("table_name") === "marts_big_orders").count() === 1)
    // saved dataset is immediately SQL-addressable (Glue-registration
    // equivalent)
    assert(lake.query("SELECT count(*) AS c FROM marts_big_orders")
      .head().getLong(0) === derived.count())
  }

  test("upsert: source wins on key, unmatched target rows survive") {
    val lake = newLake()
    lake.saveDataset(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "t")
    val after = lake.upsert(Seq((2L, "B"), (4L, "d")).toDF("id", "v"),
      "t", Seq("id"))
    val m = after.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // idempotent: re-applying the same source changes nothing
    val again = lake.upsert(Seq((2L, "B"), (4L, "d")).toDF("id", "v"),
      "t", Seq("id"))
    assert(again.collect().map(r => r.getLong(0) -> r.getString(1)).toMap === m)
  }

  test("versioned snapshots: immutable history, latest resolution, time travel") {
    val lake = newLake()
    assert(lake.saveVersioned(Seq((1L, "x")).toDF("id", "v"), "snap") === 0)
    assert(lake.saveVersioned(Seq((1L, "y"), (2L, "z")).toDF("id", "v"),
      "snap") === 1)
    assert(lake.loadVersioned("snap").count() === 2) // latest = v1
    assert(lake.loadVersioned("snap", Some(0)).count() === 1) // time travel
    // published snapshots are immutable: same-version write refuses
    intercept[Exception] {
      Seq((9L, "!")).toDF("id", "v").write.parquet(
        s"${lake.warehouse}/snap/v=0")
    }
  }

  test("save modes: append accumulates, overwrite_partitions replaces only incoming") {
    val lake = newLake()
    val f = lake.query("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'")
    val o = lake.query("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'")
    lake.saveDataset(f, "t1")
    lake.saveDataset(o, "t1", mode = "append")
    assert(lake.load("t1").count() === f.count() + o.count())

    lake.saveDataset(f.union(o), "t2", partitionCols = Seq("o_orderstatus"))
    val oSmall = o.limit(10)
    lake.saveDataset(oSmall, "t2", mode = "overwrite_partitions",
      partitionCols = Seq("o_orderstatus"))
    val t2 = lake.load("t2")
    assert(t2.filter(col("o_orderstatus") === "O").count() === 10)
    assert(t2.filter(col("o_orderstatus") === "F").count() === f.count())
  }

  test("saveSorted clusters files into disjoint key ranges (scan pruning)") {
    val lake = newLake()
    val src = lake.query("SELECT o_orderkey, o_totalprice FROM orders")
    val back = lake.saveSorted(src, "sorted_orders", Seq("o_orderkey"),
      numFiles = Some(4))
    assert(back.count() === src.count())
    // each parquet file must own a non-overlapping o_orderkey range —
    // that's what lets min/max stats skip whole files at scale
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple range-clustered files")
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"file ranges overlap: hi=$hiA > lo=$loB")
      case _ =>
    }
    // and a point filter on the sort key is pushed to the scan
    val p = back.filter(col("o_orderkey") === ranges.head._1)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderkey"))
  }

  test("forUser: per-user warehouses are isolated under a shared root") {
    val root = Scratch.dir("graft_users")
    val alice = Lake.forUser(spark, "alice", Some(root))
      .attachFixtures(TestSpark.sf)
    val bob = Lake.forUser(spark, "bob", Some(root))
    assert(alice.warehouse === s"$root/user_alice")
    alice.saveDataset(alice.query("SELECT o_orderkey FROM orders LIMIT 7"), "t")
    assert(alice.load("t").count() === 7)
    intercept[Exception](bob.load("t").count()) // bob can't see alice's t
    intercept[IllegalArgumentException](
      Lake.forUser(spark, "../escape", Some(root)))
  }

  test("ctas: query-to-table in one call") {
    val lake = newLake()
    val back = lake.ctas(
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |GROUP BY o_orderstatus""".stripMargin, "marts.status_counts")
    assert(back.count() === lake.load("marts.status_counts").count())
    assert(back.columns.sorted === Array("n", "o_orderstatus"))
    assert(lake.query("SELECT sum(n) FROM marts_status_counts").head().getLong(0)
      === lake.query("SELECT count(*) FROM orders").head().getLong(0))
  }

  test("saveSorted default (AQE-sized files) round-trips with content intact") {
    val lake = newLake()
    val src = lake.query(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 500")
    val back = lake.saveSorted(src, "sorted_default", Seq("o_orderkey"))
    assert(back.count() === src.count())
    assert(back.orderBy("o_orderkey").collect().toSeq ===
      src.orderBy("o_orderkey").collect().toSeq)
  }

  test("error paths: unknown save mode refuses; missing table load raises cleanly") {
    val lake = newLake()
    val df = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException](
      lake.saveDataset(df, "t", mode = "overwite")) // typo must not overwrite
    intercept[Exception](lake.load("never_saved").count())
  }

  test("vacuum + history: retention keeps the newest snapshots, history reflects it") {
    val lake = newLake()
    (0 until 3).foreach(i =>
      lake.saveVersioned(Seq((i.toLong, s"v$i")).toDF("id", "v"), "snaps"))
    val h0 = lake.history("snaps").orderBy("version").collect()
    assert(h0.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    assert(h0.count(_.getBoolean(3)) === 1 && h0.last.getBoolean(3))
    val removed = lake.vacuum("snaps", keep = 2)
    assert(removed === Seq(0))
    // latest unchanged; a retained pinned version still readable
    assert(lake.loadVersioned("snaps").head().getString(1) === "v2")
    assert(lake.loadVersioned("snaps", Some(1)).head().getString(1) === "v1")
    intercept[Exception](lake.loadVersioned("snaps", Some(0)).count())
    intercept[IllegalArgumentException](lake.vacuum("snaps", keep = 0))
  }

  test("changes: CDF between pinned versions classifies churn; applying it to v0 reconstructs v1") {
    val root = Scratch.dir("graft_cdf")
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "x")
    // v1: key 2 deleted, key 3 repriced, key 5 inserted, 1/4 unchanged
    val v1 = Seq((1L, "a", 10.0), (3L, "c", 33.0), (4L, "d", 40.0),
      (5L, "e", 50.0)).toDF("k", "s", "x")
    LakeIO.saveVersion(v0, root)
    LakeIO.saveVersion(v1, root)
    val cdf = LakeIO.changes(spark, root, 0, 1, Seq("k"))
    val byType = cdf.collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byType("insert") === Set(5L))
    assert(byType("delete") === Set(2L))
    assert(byType("update_preimage") === Set(3L))
    assert(byType("update_postimage") === Set(3L))
    assert(cdf.count() === 4) // unchanged keys emit nothing
    assert(cdf.select("_commit_version").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(1))
    // the CDF is a complete delta: applyChanges(v0, CDF) ≡ v1 (the
    // replication contract, via the library API)
    val rebuilt = LakeIO.applyChanges(LakeIO.loadVersion(spark, root, Some(0)),
      LakeIO.changes(spark, root, 0, 1, Seq("k")),
      Seq("k"))
    assert(rebuilt.exceptAll(v1).count() === 0)
    assert(v1.exceptAll(rebuilt).count() === 0)
  }

  test("shallow clone: zero data-file copies, pins survive source " +
      "writes, clone-of-clone flattens to real files") {
    val root = Scratch.dir("graft_clone")
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    LakeIO.saveVersion(v0, s"$root/src")
    val cv = LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/c1")
    assert(cv === 0)
    // zero-copy: the clone version dir holds ONE _manifest, no parquet
    val cdir = new java.io.File(s"$root/c1/v=0")
    val names = cdir.listFiles().map(_.getName).toSeq
    assert(names.count(_ == "_manifest") === 1, s"$names")
    assert(!names.exists(_.endsWith(".parquet")), s"$names")
    // content equality through the transparent loadVersion path
    val got = LakeIO.loadVersion(spark, s"$root/c1", Some(0))
    assert(got.exceptAll(v0).count() === 0)
    assert(v0.exceptAll(got).count() === 0)
    // the source moves forward; the clone pin does not
    LakeIO.saveVersion(Seq((9L, "z")).toDF("k", "s"), s"$root/src")
    assert(LakeIO.loadVersion(spark, s"$root/c1", Some(0))
      .count() === 3)
    // clone-of-clone: the manifest chain flattens to the REAL files,
    // so a c1 deletion cannot strand c2 (only source retention can)
    LakeIO.shallowClone(spark, s"$root/c1", 0, s"$root/c2")
    val mf2 = scala.io.Source.fromFile(s"$root/c2/v=0/_manifest")
      .getLines().toList
    assert(mf2.nonEmpty && mf2.forall(_.contains("/src/v=0/")),
      s"clone-of-clone must list source data files: $mf2")
    assert(LakeIO.loadVersion(spark, s"$root/c2", Some(0))
      .count() === 3)
    // history counts the clone version through its manifest: the source
    // version's files and bytes (none of them copied — the listing above)
    val h = LakeIO.versionHistory(spark, s"$root/c1")
      .collect().head
    val srcFiles = LakeIO.dataFiles(spark, s"$root/src/v=0")
    assert(h.getInt(1) === srcFiles.size &&
      h.getLong(2) === srcFiles.map(_.getLen).sum,
      s"clone history must count the manifest's files and bytes: $h")
  }

  test("write-time CDF: per-commit attribution, directory-pruned range " +
      "read, and commit-ordered replay reconstructs the head") {
    val root = Scratch.dir("graft_wcdf")
    val keys = Seq("k")
    val v0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    // commit 1: key 2 updated; commit 2: key 2 DELETED + key 4 inserted
    // — the update→delete sequence a single multi-commit applyChanges
    // pass would corrupt (the commit-1 postimage re-added after the
    // commit-2 delete removed it), which is why replayChanges folds
    // commit-by-commit
    val v1 = Seq((1L, 10.0), (2L, 22.0), (3L, 30.0)).toDF("k", "x")
    val v2 = Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)).toDF("k", "x")
    LakeIO.saveVersionCdf(v0, root, keys)
    LakeIO.saveVersionCdf(v1, root, keys)
    LakeIO.saveVersionCdf(v2, root, keys)
    // per-commit attribution: each change row carries ITS commit
    val feed = LakeIO.capturedChanges(spark, root, 0, 2)
    val rows = feed.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[String]("_change_type"), r.getAs[Int]("_commit_version")))
    assert(rows.toSet === Set(
      (2L, "update_preimage", 1), (2L, "update_postimage", 1),
      (2L, "delete", 2), (4L, "insert", 2)), s"got ${rows.toSet}")
    // the range prunes commit 0's insert feed out (directory prune)
    assert(!rows.exists(_._3 == 0))
    // ...and the full range sees it: 3 base inserts stamped 0
    val all = LakeIO.capturedChanges(spark, root, -1, 2)
    assert(all.filter(col("_commit_version") === 0)
      .collect().forall(_.getAs[String]("_change_type") == "insert"))
    assert(all.count() === 3 + 4)
    // commit-granularity is REAL: the snapshot diff over the same range
    // cannot see commit 1 (key 2's update is erased by its deletion)
    val diff = LakeIO.changes(spark, root, 0, 2, keys)
    assert(!diff.collect().exists(_.getAs[Long]("k") == 2L)
      || diff.filter(col("k") === 2L).collect()
        .forall(_.getAs[String]("_change_type") == "delete"))
    // replay folds commit-by-commit: v0 + captured(0,2] == v2
    val rebuilt = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, root, Some(0)), feed, keys)
    assert(rebuilt.exceptAll(v2).count() === 0)
    assert(v2.exceptAll(rebuilt).count() === 0)
    // ...and a single-pass applyChanges over the same multi-commit feed
    // really does corrupt (resurrects key 2) — the documented hazard
    val naive = LakeIO.applyChanges(
      LakeIO.loadVersion(spark, root, Some(0)), feed, keys)
    assert(naive.filter(col("k") === 2L).count() > 0,
      "expected the naive single-pass apply to resurrect the deleted key")
    // a saveVersion-only table has no capture — the error says so and
    // points at both remedies (write-time capture or snapshot diff)
    val plain = Scratch.dir("graft_nocdf")
    LakeIO.saveVersion(v0, plain)
    val err = intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, plain, 0, 1)
    }
    assert(err.getMessage.contains("saveVersionCdf")
      && err.getMessage.contains("changes()"), err.getMessage)
  }

  test("facade: changes/applyChanges/restore compose through Lake (the user surface)") {
    val lake = newLake()
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val v1 = Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s")
    assert(lake.saveVersioned(v0, "t") === 0)
    assert(lake.saveVersioned(v1, "t") === 1)
    val cdf = lake.changes("t", 0, 1, Seq("k"))
    val rebuilt = lake.applyChanges(lake.loadVersioned("t", Some(0)),
      cdf, Seq("k"))
    assert(rebuilt.exceptAll(v1).count() === 0 &&
      v1.exceptAll(rebuilt).count() === 0)
    assert(lake.restore("t", 0) === 2)
    val latest = lake.loadVersioned("t", None)
    assert(latest.exceptAll(v0).count() === 0 &&
      v0.exceptAll(latest).count() === 0)
  }

  test("facade: the round-18 lake surface composes through Lake — " +
      "captured commits, clone, branch merge-back, evolved reads") {
    val lake = newLake()
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val v1 = Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s")
    assert(lake.saveVersionedCdf(v0, "u", Seq("k")) === 0)
    // dev branch forks the captured v0, takes its own edit
    assert(lake.shallowClone("u", 0, "u_dev") === 0)
    lake.saveVersioned(Seq((1L, "a"), (2L, "b"), (4L, "d"))
      .toDF("k", "s"), "u_dev")
    // the source moves forward (captured), then the branch merges back
    // through the captured path — the feed stays commit-complete
    assert(lake.saveVersionedCdf(v1, "u", Seq("k")) === 1)
    val (mv, outcome) = lake.mergeBranch("u", "u_dev", 0, Seq("k"),
      capture = true)
    assert(mv === 2)
    assert(outcome.filter(col("_merge_conflict")).count() === 0)
    val replica = lake.replayChanges(lake.loadVersioned("u", Some(0)),
      lake.capturedChanges("u", 0, 2), Seq("k"))
    val head = lake.loadVersioned("u", None)
    assert(replica.exceptAll(head).count() === 0 &&
      head.exceptAll(replica).count() === 0)
    assert(head.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // captured rollback keeps the feed whole; evolved read aligns a
    // pinned pre-evolution version to the head schema
    assert(lake.restoreCdf("u", 0, Seq("k")) === 3)
    assert(lake.capturedChanges("u", 0, 3).count() > 0)
    lake.saveVersioned(Seq((1L, "a", 9.0)).toDF("k", "s", "w"), "u")
    val evolved = lake.loadVersionedEvolved("u", 0)
    assert(evolved.columns.toSeq === Seq("k", "s", "w"))
    assert(evolved.filter(col("w").isNull).count() === 2)
  }

  test("restore: rollback is a forward publish — bad versions stay pinned-readable, CDF sees the undo") {
    val root = Scratch.dir("graft_restore")
    val v0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    val v1 = Seq((1L, 99.0), (2L, 20.0)).toDF("k", "x") // bad backfill
    LakeIO.saveVersion(v0, root)
    LakeIO.saveVersion(v1, root)
    val nv = LakeIO.restoreVersion(spark, root, 0)
    assert(nv === 2)
    // latest content == v0; the bad v1 remains pinned-readable
    val latest = LakeIO.loadVersion(spark, root, None)
    assert(latest.exceptAll(v0).count() === 0 &&
      v0.exceptAll(latest).count() === 0)
    assert(LakeIO.loadVersion(spark, root, Some(1))
      .count() === 2)
    // the CDF across the restore is exactly the undo of the bad write
    val undo = LakeIO.changes(spark, root, 1, 2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change_type")))
      .toSet
    assert(undo === Set((1L, "update_preimage"), (1L, "update_postimage"),
      (3L, "insert")), s"got $undo")
  }

  test("changes: multi-version range diffs ENDPOINTS (flip-flops vanish, version stamps the range end)") {
    val root = Scratch.dir("graft_cdf_mv")
    val v0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val v1 = Seq((1L, 99.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    val v2 = Seq((1L, 10.0), (2L, 20.0), (3L, 33.0)).toDF("k", "x")
    Seq(v0, v1, v2).foreach(LakeIO.saveVersion(_, root))
    val cdf = LakeIO.changes(spark, root, 0, 2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change_type"),
        r.getAs[Int]("_commit_version")))
    // key 1 flip-flopped (10 -> 99 -> 10): a snapshot diff sees no
    // net change — the documented contrast with write-time CDF
    assert(!cdf.exists(_._1 == 1L), s"flip-flop leaked: ${cdf.toSeq}")
    assert(!cdf.exists(_._1 == 2L))
    // key 3 was inserted inside the range: one insert, stamped v2
    assert(cdf.filter(_._1 == 3L).toSeq === Seq((3L, "insert", 2)))
  }

  test("changes: null-safe value compare emits no phantom updates") {
    val root = Scratch.dir("graft_cdf_null")
    val v0 = Seq((1L, Option.empty[String]), (2L, Some("b")))
      .toDF("k", "s")
    val v1 = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "s")
    LakeIO.saveVersion(v0, root)
    LakeIO.saveVersion(v1, root)
    val cdf = LakeIO.changes(spark, root, 0, 1, Seq("k"))
    // key 1: null == null → unchanged, no rows; key 2: b → null update
    assert(cdf.filter(col("k") === 1L).count() === 0)
    assert(cdf.filter(col("k") === 2L).count() === 2)

    // the per-column filter equals the whole-row struct compare it
    // replaced on null, NaN, -0.0 vs 0.0 and nested struct/array values
    import org.apache.spark.sql.DataFrame
    // n is a nested struct<_1: double, _2: array<double>>
    def inner(a: Option[Double], xs: Seq[Double]) = (a, xs)
    def rows(vals: (Long, Option[Double], Option[String],
        Option[(Option[Double], Seq[Double])])*) =
      vals.toDF("k", "d", "s", "n")
    val nan = Double.NaN
    val a = rows((1L, Some(nan), None, None),
      (2L, Some(-0.0), Some("x"), Some(inner(Some(-0.0), Seq(0.0)))),
      (3L, None, None, Some(inner(None, Seq(nan)))),
      (4L, Some(1.0), None, Some(inner(Some(1.0), Seq(1.0, 2.0)))),
      (5L, None, Some("y"), Some(inner(Some(nan), Nil))),
      (6L, Some(2.0), Some("gone"), None),
      (8L, Some(nan), Some("z"), Some(inner(None, Seq(1.0)))))
    val b = rows((1L, Some(nan), None, None),
      (2L, Some(0.0), Some("x"), Some(inner(Some(0.0), Seq(-0.0)))),
      (3L, None, None, Some(inner(None, Seq(nan)))),
      (4L, Some(1.0), None, Some(inner(Some(1.0), Seq(2.0, 1.0)))),
      (5L, Some(nan), Some("y"), Some(inner(Some(nan), Nil))),
      (7L, None, Some("new"), Some(inner(None, Nil))),
      (8L, Some(nan), Some("z"), None))
    val evo = Scratch.dir("cdf_values")
    LakeIO.saveVersion(a, evo)
    LakeIO.saveVersion(b, evo)
    // reference: a whole-row null-safe struct compare decides updates
    def reference(x: DataFrame, y: DataFrame): DataFrame = {
      val valCols = Seq("d", "s", "n")
      def side(df: DataFrame, t: String) = df.select(col("k") +:
        valCols.map(c => col(c).as(s"__${t}_$c")) :+
        lit(true).as(s"__${t}_present"): _*)
      val aP = col("__a_present") <=> lit(true)
      val bP = col("__b_present") <=> lit(true)
      def vals(t: String) =
        struct(valCols.map(c => col(s"__${t}_$c").as(c)): _*)
      val updated = aP && bP && !(vals("a") <=> vals("b"))
      def ev(tag: String, t: String) = struct(lit(tag).as("t"), vals(t).as("v"))
      side(x, "a").join(side(y, "b"), Seq("k"), "full_outer")
        .select(col("k"), explode(array_compact(array(
          when(!aP, ev("insert", "b")), when(!bP, ev("delete", "a")),
          when(updated, ev("update_preimage", "a")),
          when(updated, ev("update_postimage", "b"))))).as("ch"))
        .select(col("k") +: valCols.map(c => col(s"ch.v.$c").as(c)) :+
          col("ch.t").as("_change_type") :+ lit(1).as("_commit_version"): _*)
    }
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = LakeIO.changes(spark, evo, 0, 1, Seq("k"))
    val want = reference(LakeIO.loadVersion(spark, evo, Some(0)),
      LakeIO.loadVersion(spark, evo, Some(1)))
    assert(sorted(got) === sorted(want))
    // keys 4, 5, 8 update; 6 deletes; 7 inserts; 1, 2, 3 are unchanged
    assert(got.select("k").distinct().collect().map(_.getLong(0)).sorted
      .toSeq === Seq(4L, 5L, 6L, 7L, 8L))
  }

  test("append with mergeSchema evolves the dataset schema (drifted batch)") {
    val lake = newLake()
    lake.saveDataset(Seq((1L, "a")).toDF("id", "v"), "evolve")
    // a later batch gains a column; Hive-less parquet appends are
    // schema-on-read — mergeSchema reconciles at scan time
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(s"${lake.warehouse}/evolve")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"${lake.warehouse}/evolve")
    assert(merged.columns.sorted === Array("id", "score", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old rows null-fill
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) === 9.5)
  }

  test("saveDataset registration is durable: visible from a different session") {
    val lake = newLake()
    lake.saveDataset(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "durable_t")
    // a catalog TABLE (not a temp view): a sibling session on the same
    // context resolves it — a temp view would throw TABLE_OR_VIEW_NOT_FOUND
    val sibling = spark.newSession()
    assert(sibling.sql("SELECT count(*) AS c FROM durable_t")
      .head().getLong(0) === 2L)
    assert(!spark.catalog.getTable("durable_t").isTemporary)
    // overwrite through the same name still works (drop + re-create);
    // a sibling that already read it refreshes its cached file listing —
    // the standard Spark contract when underlying files change
    lake.saveDataset(Seq((9L, "z")).toDF("id", "v"), "durable_t")
    sibling.sql("REFRESH TABLE durable_t")
    assert(sibling.sql("SELECT count(*) AS c FROM durable_t")
      .head().getLong(0) === 1L)
  }

  test("attachWarehouse: a fresh process over the same warehouse sees saved tables") {
    val lake = newLake()
    lake.saveDataset(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "marts.wh_t")
    lake.saveDataset(
      Seq((1L, "x", "A"), (2L, "y", "B")).toDF("id", "v", "part"),
      "wh_part", partitionCols = Seq("part"))
    lake.saveVersioned(Seq((1L, "snap")).toDF("id", "v"), "wh_snap")
    // simulate a process restart with an in-memory catalog: the entries
    // are gone, only the warehouse directory survives
    spark.sql("DROP TABLE IF EXISTS marts_wh_t")
    spark.sql("DROP TABLE IF EXISTS wh_part")
    intercept[Exception](spark.sql("SELECT * FROM marts_wh_t").count())
    val fresh = Lake(spark.newSession(), lake.warehouse).attachWarehouse()
    assert(fresh.query("SELECT count(*) AS c FROM marts_wh_t")
      .head().getLong(0) === 2L)
    // partitioned dataset: registered at its root, partition column intact
    val part = fresh.query("SELECT id FROM wh_part WHERE part = 'B'")
    assert(part.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // v=N snapshot dirs are NOT registered as separate tables
    assert(fresh.listTables()
      .filter(col("table_name").startsWith("wh_snap")).count() === 0L)
  }

  test("clearCaches releases memoized label frames (no leak across thresholds)") {
    import graft.operators.MinHashDedup
    import org.apache.spark.storage.StorageLevel
    // start from a clean slate so other suites' memo entries don't count
    Lake.clearCaches()
    // two distinct (dir, threshold) keys → two persisted label frames
    // (dedupCluster returns the cached frame itself, so its storage
    // level observes the cache's persist/unpersist directly)
    val df1 = MinHashDedup.dedupCluster(spark, TestSpark.sf, threshold = 0.2)
    val df2 = MinHashDedup.dedupCluster(spark, TestSpark.sf, threshold = 0.3)
    df1.count(); df2.count()
    assert(df1.storageLevel != StorageLevel.NONE)
    assert(df2.storageLevel != StorageLevel.NONE)
    // 2 label entries + 1 shared pair-similarity entry; >= not === —
    // the caches are process-global, so a concurrently-running suite
    // could legitimately add entries between our clear and count
    val cleared = Lake.clearCaches()
    assert(cleared >= 3, s"expected >=3 cache entries cleared, got $cleared")
    // the persisted frames are actually released, not just forgotten —
    // repeated (dir, threshold) cycling cannot accumulate storage
    assert(df1.storageLevel === StorageLevel.NONE)
    assert(df2.storageLevel === StorageLevel.NONE)
    // and a cleared cache repopulates correctly on next use
    assert(MinHashDedup.dedupCluster(spark, TestSpark.sf, 0.2).count() > 0)
    assert(Lake.clearCaches() >= 2) // 1 label + 1 pair entry

    // every release kind gives its storage back: a persisted frame
    // (labels + pairs), checkpointed frames (the bpe, unigram and
    // wordpiece trainings, the phash frame) and the co-edge memo
    // (graph_triangles)
    val sc = spark.sparkContext
    def held: String = sc.getRDDStorageInfo
      .filter(i => i.memSize + i.diskSize > 0)
      .map(i => s"rdd ${i.id} ${i.name} ${i.memSize + i.diskSize} B " +
        i.callSite).mkString("; ")
    val before = SpecUtil.settledStorage(sc)
    val sf = TestSpark.sf
    MinHashDedup.dedupCluster(spark, sf, threshold = 0.2).count()
    graft.operators.BpeTrain.bpeTrain(spark, sf).collect()
    graft.operators.UnigramTrain.unigramTrain(spark, sf).collect()
    graft.operators.WordpieceTrain.wordpieceTrain(spark, sf).collect()
    graft.operators.Multimodal.phashPairs(spark, sf).collect()
    graft.operators.GraphOps.graphTriangles(spark, sf).collect()
    assert(SpecUtil.storageBytes(sc) > before, "the builds stored nothing")
    // label + pair + bpe + unigram + wordpiece + phash + co-edge
    val built = 7
    val released = Lake.clearCaches()
    assert(released >= built, s"released $released of $built entries")
    val after = SpecUtil.storageDownTo(sc, before)
    assert(after <= before, s"storage still held after clear: $held")
  }

  test("memo caches refresh on corpus rewrite (fingerprint-keyed, no clearCaches)") {
    import graft.operators.MinHashDedup
    val dir = Scratch.dir("graft_fp")
    val docs = Tables.documents(spark, TestSpark.sf)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n1 = MinHashDedup.dedupCluster(spark, dir, threshold = 0.2).count()
    // rewrite the corpus IN PLACE — with fingerprint-free keys this
    // served the stale labels (the documented r5 staleness assumption)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val n2 = MinHashDedup.dedupCluster(spark, dir, threshold = 0.2).count()
    assert(n1 === docs.count(), "first pass labels every doc")
    assert(n2 < n1, s"stale labels served after corpus rewrite: $n1 -> $n2")
    // the graph-search memos are fingerprinted over embeddings: after an
    // in-place rewrite the served result equals a fresh dir's result
    import graft.operators.SimSearch
    val emb = Tables.embeddings(spark, TestSpark.sf)
    emb.write.parquet(s"$dir/embeddings.parquet")
    val g1 = SimSearch.simsearchGraph(spark, dir).collect().toSeq
    val kept = emb.filter(col("vec_id") % 2 === 0)
    kept.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val freshDir = Scratch.dir("graft_fp")
    kept.write.parquet(s"$freshDir/embeddings.parquet")
    val g2 = SimSearch.simsearchGraph(spark, dir).collect().toSeq
    assert(g2 === SimSearch.simsearchGraph(spark, freshDir).collect().toSeq,
      "stale graph artifacts served after embeddings rewrite")
    assert(g2 !== g1, "the rewrite did not change the result")
  }

  test("preview works on map-typed (unorderable) columns") {
    val lake = newLake()
    val withMap = Seq((2L, "b"), (1L, "a")).toDF("id", "v")
      .withColumn("meta", map(lit("k"), col("v")))
    lake.saveDataset(withMap, "mapped")
    val p = lake.preview("mapped", 1).collect() // sorts by id,v; skips meta
    assert(p.length === 1 && p.head.getLong(p.head.fieldIndex("id")) === 1L)
    // all-unorderable schema falls back to plain limit
    lake.saveDataset(withMap.select(col("meta")), "maponly")
    assert(lake.preview("maponly", 1).collect().length === 1)
  }

  test("MERGE INTO SQL on plain parquet raises the pinned analyzer error (documented exclusion)") {
    // SURVEY §2.T documents MERGE INTO *SQL syntax* as runtime-infeasible:
    // plain parquet has no DSv2 row-level-ops catalog (no
    // Delta/Iceberg/Hudi jar ships in /opt/spark/jars), while the
    // SEMANTICS are covered and oracled at the API level (merge_upsert,
    // merge_scd2). This pins the exclusion to the exact Spark error so a
    // Spark upgrade that starts planning MERGE surfaces as a test
    // failure, not a silently stale doc (VERDICT r10 #6).
    Tables.registerAll(spark, TestSpark.sf)
    val mergeSql =
      """MERGE INTO %s t USING region s ON t.n_regionkey = s.r_regionkey
        |WHEN MATCHED THEN UPDATE SET t.n_name = s.r_name""".stripMargin
    // temp view over parquet
    val eView = intercept[UnsupportedOperationException] {
      spark.sql(mergeSql.format("nation")).collect()
    }
    assert(eView.getMessage.contains("UNSUPPORTED_FEATURE.TABLE_OPERATION") &&
      eView.getMessage.contains("MERGE INTO TABLE"), eView.getMessage)
    // catalog parquet table (saveAsTable) — same missing capability
    spark.sql("DROP TABLE IF EXISTS merge_probe_tbl")
    Tables.nation(spark, TestSpark.sf)
      .write.format("parquet").saveAsTable("merge_probe_tbl")
    val eTable = intercept[UnsupportedOperationException] {
      spark.sql(mergeSql.format("merge_probe_tbl")).collect()
    }
    assert(eTable.getMessage.contains("UNSUPPORTED_FEATURE.TABLE_OPERATION") &&
      eTable.getMessage.contains("MERGE INTO TABLE"), eTable.getMessage)
    spark.sql("DROP TABLE IF EXISTS merge_probe_tbl")
  }

  test("audit: one-pass generic DQ report with planted nulls and duplicate keys") {
    val lake = newLake()
    val df = Seq((1L, Some("a")), (2L, Some("b")), (2L, None), (3L, Some("c")))
      .toDF("k", "v")
    lake.saveDataset(df, "audit_probe")
    val rows = lake.audit("audit_probe", uniqueKeys = Seq("k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(rows(("row_count", "audit_probe")) == ((0L, 1)))
    assert(rows(("not_null", "audit_probe.k")) == ((0L, 1)))
    assert(rows(("not_null", "audit_probe.v")) == ((1L, 0)),
      "the planted null must be counted")
    assert(rows(("unique", "audit_probe.k")) == ((1L, 0)),
      "the planted duplicate key must be counted")
    // the real one-scan pin (code-review r11: per-check selects over
    // the aggregate got column-pruned into one aggregate + scan PER
    // CHECK, 1+C+K scans — the report is now built from ONE collected
    // aggregate row, so the aggregate frame itself must plan exactly
    // one scan and one aggregate pair)
    val agged = lake.auditAgg(lake.load("audit_probe"), Seq("k"))
    agged.collect()
    val scans = SpecUtil.collectPlan(agged.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        System.identityHashCode(f)
    }.toSet
    assert(scans.size == 1,
      s"audit must scan the table exactly once, got ${scans.size}")
    // dotted column names must survive (audit reads names from the
    // schema; unescaped col() would parse the dot as field access)
    lake.saveDataset(df.withColumnRenamed("v", "payload.size"), "audit_dots")
    val dotted = lake.audit("audit_dots")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(dotted("audit_dots.payload.size") == 1L,
      "the dotted column's planted null must be counted")
  }

  test("audit: range and fk check classes (round 12) count planted violations, range rides the one aggregate") {
    val lake = newLake()
    lake.saveDataset(Seq((1L, 5.0, 10L), (2L, 55.0, 20L), (3L, -1.0, 99L))
      .toDF("k", "amount", "ref_k"), "audit_facts")
    lake.saveDataset(Seq(10L, 20L, 30L).toDF("rk"), "audit_dims")
    val rows = lake.audit("audit_facts", uniqueKeys = Seq("k"),
      ranges = Seq(("amount", 0.0, 50.0)),
      fks = Seq(("ref_k", "audit_dims", "rk")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    // 55.0 and -1.0 violate [0,50]; ref_k=99 is missing from the dim
    assert(rows(("range", "audit_facts.amount in [0.0,50.0]")) == ((2L, 0)))
    assert(rows(("fk_exists", "audit_facts.ref_k->audit_dims.rk")) ==
      ((1L, 0)))
    assert(rows(("unique", "audit_facts.k")) == ((0L, 1)))
    // the range check must RIDE the single aggregate: still one scan
    val agged = lake.auditAgg(lake.load("audit_facts"), Seq("k"),
      Seq(("amount", 0.0, 50.0)))
    agged.collect()
    val scans = SpecUtil.collectPlan(agged.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        System.identityHashCode(f)
    }.toSet
    assert(scans.size == 1,
      s"range checks must not add scans, got ${scans.size}")
  }

  test("avro and delta sources raise the pinned missing-source errors (documented exclusions)") {
    // SURVEY "what's missing" #3/#4: the spark-avro connector and the
    // Delta/Iceberg/Hudi format jars are absent from /opt/spark/jars.
    // Same executable-exclusion treatment as MERGE INTO above — if a
    // future runtime ships the jars, these FAIL and the docs (and the
    // coverage ledger) must be updated instead of silently going stale.
    val eAvro = intercept[Exception] {
      spark.read.format("avro").load("/tmp/nonexistent.avro").collect()
    }
    // avro gets Spark's special-cased "external module since 2.4" hint;
    // delta gets the generic DATA_SOURCE_NOT_FOUND error class
    assert(eAvro.getMessage.contains("Failed to find data source: avro"),
      eAvro.getMessage)
    val eDelta = intercept[Exception] {
      spark.read.format("delta").load("/tmp/nonexistent_delta").collect()
    }
    assert(eDelta.getMessage.contains("DATA_SOURCE_NOT_FOUND") &&
      eDelta.getMessage.contains("Failed to find the data source: delta"),
      eDelta.getMessage)
  }

  test("Lake.report: one-pass grouping-sets card matches direct groupBy") {
    import org.apache.spark.sql.functions._
    val lake = newLake()
    val rep = lake.report("documents", Seq("lang", "source"), Seq("n_chars"))
    rep.collect() // drive the plan for the scan pin below
    val docs = spark.table("documents")
    // grand total
    val all = rep.filter(col("level") === "all").collect()
    assert(all.length === 1)
    assert(all.head.getAs[Long]("n_rows") === docs.count())
    assert(all.head.getAs[Long]("sum_n_chars") ===
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    // per-lang level equals a direct groupBy
    val perLang = rep.filter(col("level") === "lang")
      .collect().map(r => r.getString(1) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_n_chars"))).toMap
    val direct = docs.groupBy(col("lang"))
      .agg(count(lit(1)), sum(col("n_chars"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perLang === direct)
    // cell level: every (lang, source) present, level label composite
    val cells = rep.filter(col("level") === "lang+source").count()
    assert(cells === docs.select(col("lang"), col("source"))
      .distinct().count())
    // the 4-level card is ONE scan of the table
    val scans = SpecUtil.collectPlan(rep.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => 1
    }.sum
    assert(scans === 1, s"report scanned the table $scans times")
    // counts-only form (no sum columns) must also be well-formed SQL
    val plain = lake.report("documents", Seq("lang"))
    assert(plain.columns.toSeq === Seq("level", "lang", "n_rows"))
    assert(plain.filter(col("level") === "all").count() === 1)
  }

  test("Lake.report survives hostile column names (quotes, dots, backticks)") {
    import org.apache.spark.sql.functions._
    val lake = newLake()
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("it's.dim", "the`sum")
    lake.saveDataset(df, "hostile")
    val rep = lake.report("hostile", Seq("it's.dim"), Seq("the`sum"))
    val all = rep.filter(col("level") === "all").collect()
    assert(all.length === 1 && all.head.getAs[Long]("n_rows") === 3L)
    assert(all.head.getAs[Long]("sum_the`sum") === 6L)
    val perDim = rep.filter(col("level") === "it's.dim").collect()
      .map(r => r.getString(1) -> r.getAs[Long]("n_rows")).toMap
    assert(perDim === Map("a" -> 2L, "b" -> 1L))
  }

  test("clone-aware vacuum: a pinned version refuses to vacuum naming " +
      "the clone; vacuums not touching the pin proceed") {
    val root = Scratch.dir("graft_cvac")
    LakeIO.saveVersion(Seq((1L, "a")).toDF("k", "s"), s"$root/src")
    LakeIO.saveVersion(Seq((2L, "b")).toDF("k", "s"), s"$root/src")
    LakeIO.saveVersion(Seq((3L, "c"), (4L, "d")).toDF("k", "s"), s"$root/src")
    // the clone pins the LATEST version (v=2)
    LakeIO.shallowClone(spark, s"$root/src", 2, s"$root/c1")
    // vacuum keep=1 drops v0/v1 — neither pinned — and proceeds
    assert(LakeIO.vacuumVersions(spark, s"$root/src", keep = 1) === Seq(0, 1))
    // the source moves forward; now keep=1 would drop the pinned v=2
    LakeIO.saveVersion(Seq((5L, "e")).toDF("k", "s"), s"$root/src")
    val err = intercept[IllegalStateException] {
      LakeIO.vacuumVersions(spark, s"$root/src", keep = 1)
    }
    assert(err.getMessage.contains("v=2")
      && err.getMessage.contains(s"$root/c1"), err.getMessage)
    // the refusal deleted NOTHING (the guard runs before any deletion)
    assert(LakeIO.listVersions(spark, s"$root/src")
      === Seq(2, 3))
    assert(LakeIO.loadVersion(spark, s"$root/c1", Some(0))
      .count() === 2)
  }

  test("clone-aware vacuum: stale pins garbage-collect, clone-of-clone " +
      "pins the ORIGINAL source, unpinned vacuums proceed") {
    val root = Scratch.dir("graft_cvac2")
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    LakeIO.saveVersion(v0, s"$root/src")
    LakeIO.saveVersion(Seq((3L, "c")).toDF("k", "s"), s"$root/src")
    // clone pins src/v=0; clone-of-clone must pin src too (flattened)
    LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/c1")
    LakeIO.shallowClone(spark, s"$root/c1", 0, s"$root/c2")
    val pins = new java.io.File(s"$root/src/_clones").listFiles()
      .map(_.getName).filter(_.startsWith("_pin_")).toSeq
    assert(pins.size === 2, s"both clones must pin at src: $pins")
    // c1's own root carries no registry (its version dirs own no files)
    assert(!new java.io.File(s"$root/c1/_clones").exists())
    // delete c1 → its pin is stale; c2 still pins v=0, vacuum refuses
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$root/c1"))
    val err = intercept[IllegalStateException] {
      LakeIO.vacuumVersions(spark, s"$root/src", keep = 1)
    }
    assert(err.getMessage.contains(s"$root/c2"), err.getMessage)
    // the stale c1 pin was garbage-collected by that attempt
    assert(new java.io.File(s"$root/src/_clones").listFiles()
      .count(_.getName.startsWith("_pin_")) === 1)
    // delete c2 too → no live pins; the same vacuum now proceeds
    rm(new java.io.File(s"$root/c2"))
    assert(LakeIO.vacuumVersions(spark, s"$root/src", keep = 1) === Seq(0))
    assert(LakeIO.listVersions(spark, s"$root/src")
      === Seq(1))
  }

  test("shallow clone of a zero-data-file source version fails fast at " +
      "clone time, not at first read") {
    val root = Scratch.dir("graft_cempty")
    // every Spark write leaves at least one schema-bearing parquet file
    // (even a 0-row frame), so a zero-DATA-FILE version dir only arises
    // from a hand-built / externally-pruned layout — build one. Before
    // the guard, shallowClone happily published a manifest-only version
    // that every later loadVersion rejected with a cryptic 'empty clone
    // manifest'; now the CLONE call refuses, naming the cause.
    assert(new java.io.File(s"$root/src/v=0").mkdirs())
    val err = intercept[IllegalArgumentException] {
      LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/c1")
    }
    assert(err.getMessage.contains("no data files"), err.getMessage)
    // nothing was published at the clone path
    assert(LakeIO.listVersions(spark, s"$root/c1").isEmpty)
    // and a 0-ROW (but one-file) version clones and reads fine
    val empty = Seq.empty[(Long, String)].toDF("k", "s")
    LakeIO.saveVersion(empty, s"$root/src2")
    LakeIO.shallowClone(spark, s"$root/src2", 0, s"$root/c2")
    assert(LakeIO.loadVersion(spark, s"$root/c2", Some(0))
      .count() === 0)
  }

  test("capturedChanges refuses a range spanning an uncaptured commit; " +
      "restoreVersionCdf keeps the feed commit-complete") {
    val root = Scratch.dir("graft_mixcdf")
    val keys = Seq("k")
    val v0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val v1 = Seq((1L, 10.0), (2L, 22.0)).toDF("k", "x")
    LakeIO.saveVersionCdf(v0, root, keys)
    LakeIO.saveVersionCdf(v1, root, keys)
    // a plain saveVersion sneaks in an uncaptured commit v=2
    LakeIO.saveVersion(v0, root)
    val err = intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, root, 0, 2)
    }
    assert(err.getMessage.contains("v=2")
      && err.getMessage.contains("no write-time CDF"), err.getMessage)
    // a range that stops BEFORE the hole still reads fine
    assert(LakeIO.capturedChanges(spark, root, 0, 1)
      .count() === 2) // key 2's pre+postimage
    // restoreVersionCdf rolls back WITH capture: the new commit v=3
    // records the v2→v0-content diff and the (2, 3] range reads it
    val rv = LakeIO.restoreVersionCdf(spark, root, 1, keys)
    assert(rv === 3)
    val feed = LakeIO.capturedChanges(spark, root, 2, 3)
    assert(feed.collect().map(_.getAs[String]("_change_type")).toSet
      === Set("update_preimage", "update_postimage"))
    // and the replay invariant holds across the captured tail
    val rebuilt = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, root, Some(2)), feed, keys)
    val head = LakeIO.loadVersion(spark, root, Some(3))
    assert(rebuilt.exceptAll(head).count() === 0
      && head.exceptAll(rebuilt).count() === 0)
  }

  test("retention × CDF (VERDICT r17 #1): the commit log survives vacuum " +
      "— a vacuumed uncaptured commit still refuses; dropped commits' " +
      "_cdf is reaped; the retained tail keeps replaying") {
    val root = Scratch.dir("graft_cdfvac")
    val keys = Seq("k")
    def snap(xs: (Long, Double)*) = xs.toDF("k", "x")
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 20.0)), root, keys) // v0
    LakeIO.saveVersionCdf(snap((1L, 10.0), (2L, 22.0)), root, keys) // v1
    LakeIO.saveVersion(snap((1L, 10.0)), root)          // v2, UNCAPTURED
    LakeIO.saveVersionCdf(snap((1L, 11.0)), root, keys)             // v3
    LakeIO.saveVersionCdf(snap((1L, 11.0), (3L, 30.0)), root, keys) // v4
    // the hazard the r17 guard missed: vacuum drops v=2's DIRECTORY, so
    // a listVersions-based guard no longer sees the uncaptured commit
    assert(LakeIO.vacuumVersions(spark, root, keep = 1) === Seq(0, 1, 2, 3))
    // the append-only commit log still records every commit ever made
    assert(new VersionLog(spark, root).commits === Seq(0, 1, 2, 3, 4))
    // _cdf retention rode snapshot retention: dropped commits reaped,
    // the retained head's capture intact
    def cdfExists(v: Int) = new java.io.File(s"$root/_cdf/v=$v").exists()
    assert(!cdfExists(0) && !cdfExists(1) && !cdfExists(3) && cdfExists(4))
    // a range spanning the VACUUMED uncaptured commit must STILL refuse
    val err = intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, root, 1, 4)
    }
    assert(err.getMessage.contains("v=2"), err.getMessage)
    // a range spanning a vacuumed CAPTURED commit refuses too — its
    // capture was reaped with it, so the feed would be silently partial
    val err2 = intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, root, 2, 4)
    }
    assert(err2.getMessage.contains("v=3"), err2.getMessage)
    // the up-to-date incremental consumer keeps working on the retained
    // tail: (3, 4] reads commit 4's churn (the key-3 insert)
    val tail = LakeIO.capturedChanges(spark, root, 3, 4)
    assert(tail.collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("_change_type"))).toSet
      === Set((3L, "insert")))
    // and new commits number PAST the log, never reusing a vacuumed slot
    assert(LakeIO.saveVersionCdf(snap((1L, 12.0)), root, keys) === 5)
  }

  test("shallow clone pins NESTED/partitioned version layouts at the " +
      "v=* ancestor, and refuses un-pinnable sources (ADVICE r17)") {
    val root = Scratch.dir("graft_nestpin")
    // hand-build a version whose data files sit under v=0/p=.../ — the
    // old parent-only pin filter registered NOTHING for this layout
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "x")
      .write.partitionBy("p").parquet(s"$root/src/v=0")
    LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/clone")
    // the pin landed at the source root naming v=0...
    val pins = new java.io.File(s"$root/src/_clones").listFiles()
    assert(pins != null && pins.exists(_.getName.startsWith("_pin_")))
    // ...so a vacuum that would drop v=0 refuses instead of silently
    // breaking the clone
    Seq((9L, "z", 9.0)).toDF("k", "p", "x")
      .write.parquet(s"$root/src/v=1")
    val err = intercept[IllegalStateException] {
      LakeIO.vacuumVersions(spark, s"$root/src", keep = 1)
    }
    assert(err.getMessage.contains("v=0"), err.getMessage)
    assert(LakeIO.loadVersion(spark, s"$root/clone", Some(0))
      .count() === 2)
    // a manifest resolving to a file with NO v=* ancestor cannot be
    // pin-protected: the clone must fail fast, not publish unguarded
    Seq((5L, 5.0)).toDF("k", "x").write
      .parquet(s"$root/loose_data")
    val looseFile = new java.io.File(s"$root/loose_data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(new java.io.File(s"$root/bad/v=0").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/bad/v=0/_manifest"),
      looseFile.getAbsolutePath.getBytes("UTF-8"))
    val err2 = intercept[IllegalArgumentException] {
      LakeIO.shallowClone(spark, s"$root/bad", 0, s"$root/badclone")
    }
    assert(err2.getMessage.contains("not under any v=<n>"), err2.getMessage)
    // the refused clone aborted clean: no reservation, no clone dir
    assert(new VersionLog(spark, s"$root/badclone").inflight.isEmpty)
    assert(!new java.io.File(s"$root/badclone/v=0").exists())
  }

  test("history counts a partitioned version's nested files and a shallow " +
      "clone's manifest entries") {
    val root = Scratch.dir("lake_history")
    // a version whose data files sit under v=0/p=.../
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p")
      .write.partitionBy("p").parquet(s"$root/src/v=0")
    LakeIO.shallowClone(spark, s"$root/src", 0, s"$root/clone")
    val files = LakeIO.dataFiles(spark, s"$root/src/v=0")
    assert(files.size === 3, s"one file per partition: $files")
    val want = (0, 3, files.map(_.getLen).sum)
    Seq("src", "clone").foreach { t =>
      val h = LakeIO.versionHistory(spark, s"$root/$t").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      assert(h.toSeq === Seq(want), s"$t history")
    }
  }

  test("compact on a table whose head is a shallow clone reads and counts " +
      "the head through its manifest") {
    val lake = newLake()
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
    lake.saveVersioned(src.repartition(4), "csrc")
    lake.shallowClone("csrc", 0, "cdst")
    val listed = scala.io.Source
      .fromFile(s"${lake.warehouse}/cdst/v=0/_manifest").getLines()
      .count(_.nonEmpty)
    assert(listed > 1, s"the clone must list several files: $listed")
    val (before, after) = lake.compact("cdst", targetFileBytes = 1L << 20)
    assert(before === listed)
    assert(after === 1)
    assert(LakeIO.listVersions(spark, s"${lake.warehouse}/cdst") ===
      Seq(0, 1))
    val head = lake.loadVersioned("cdst")
    assert(head.exceptAll(src).count() === 0 &&
      src.exceptAll(head).count() === 0)
  }

  test("three-way merge: the full conflict matrix (update/update, " +
      "update/delete, delete/update, delete/delete, insert/insert, " +
      "one-side edits, identical edits)") {
    def t(rows: (Long, String)*) = rows.toDF("k", "v")
    val base = t(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d",
      5L -> "e", 6L -> "f", 9L -> "i")
    // ours: upd 1→A (theirs B: upd/upd conflict), del 2 (theirs upd Y:
    // del/upd conflict), keep 3 (theirs edits to C), upd 4→X (theirs
    // del: upd/del conflict), del 5 (theirs del too: agree, no
    // conflict), keep 6, upd 9→Z (theirs 9→Z too: IDENTICAL edit, no
    // conflict), ins 7→g (theirs ins G: ins/ins conflict), ins 8→h
    // (theirs h too: agree)
    val ours = t(1L -> "A", 3L -> "c", 4L -> "X", 6L -> "f",
      9L -> "Z", 7L -> "g", 8L -> "h")
    val theirs = t(1L -> "B", 2L -> "Y", 3L -> "C", 6L -> "f",
      9L -> "Z", 7L -> "G", 8L -> "h")
    val outcome = LakeIO.threeWayMergeOutcome(base, ours, theirs, Seq("k"))
    val byKey = outcome.collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) None else Some(r.getString(1))),
        r.getBoolean(2), r.getBoolean(3))).toMap
    // (merged value, present, conflict) per key — destination wins
    assert(byKey(1L) === ((Some("A"), true, true)))   // upd/upd
    assert(byKey(2L) === ((None, false, true)))       // del/upd → del
    assert(byKey(3L) === ((Some("C"), true, false)))  // theirs-only
    assert(byKey(4L) === ((Some("X"), true, true)))   // upd/del → upd
    assert(byKey(5L) === ((None, false, false)))      // del/del agrees
    assert(byKey(6L) === ((Some("f"), true, false)))  // untouched
    assert(byKey(7L) === ((Some("g"), true, true)))   // ins/ins
    assert(byKey(8L) === ((Some("h"), true, false)))  // ins/ins agrees
    assert(byKey(9L) === ((Some("Z"), true, false)))  // identical upd
    assert(byKey.size === 9)
    // mergeBranch publishes the merged snapshot on the source chain
    val root = Scratch.dir("graft_merge3")
    LakeIO.saveVersion(base, root)            // src v0 = base
    LakeIO.saveVersion(theirs, s"$root/br")   // branch head
    LakeIO.saveVersion(ours, root)            // src head
    val (v, _) = LakeIO.mergeBranch(spark, root, s"$root/br", 0, Seq("k"))
    assert(v === 2)
    val merged = LakeIO.loadVersion(spark, root, Some(v)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "A", 3L -> "C", 4L -> "X", 6L -> "f",
      7L -> "g", 8L -> "h", 9L -> "Z"))
  }

  test("merge-back on a CDF table: capture=true keeps the feed " +
      "commit-complete; a plain publish would poison every spanning range") {
    def t(rows: (Long, String)*) = rows.toDF("k", "v")
    val base = t(1L -> "a", 2L -> "b", 3L -> "c")
    val ours = t(1L -> "A", 2L -> "b", 3L -> "c")    // ours edits key 1
    val theirs2 = t(1L -> "a", 2L -> "b", 3L -> "C") // theirs edits key 3
    val root = Scratch.dir("graft_mergecdf")
    LakeIO.saveVersionCdf(base, root, Seq("k"))       // src v0 captured
    LakeIO.saveVersion(theirs2, s"$root/br")          // branch head
    LakeIO.saveVersionCdf(ours, root, Seq("k"))       // src v1 captured
    val (v, _) = LakeIO.mergeBranch(spark, root, s"$root/br", 0,
      Seq("k"), capture = true)
    assert(v === 2)
    // the captured feed spans the merge commit with no refusal, and
    // replaying it from v0 reconstructs the merged head exactly
    val feed = LakeIO.capturedChanges(spark, root, 0, 2)
    val replica = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, root, Some(0)), feed, Seq("k"))
    val head = LakeIO.loadVersion(spark, root, Some(2))
    assert(replica.exceptAll(head).count() === 0
      && head.exceptAll(replica).count() === 0)
    assert(head.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "A", 2L -> "b", 3L -> "C"))
    // the contrast: an UNCAPTURED merge on the same shape refuses
    val root2 = Scratch.dir("graft_mergecdf2")
    LakeIO.saveVersionCdf(base, root2, Seq("k"))
    LakeIO.saveVersion(theirs2, s"$root2/br")
    LakeIO.saveVersionCdf(ours, root2, Seq("k"))
    LakeIO.mergeBranch(spark, root2, s"$root2/br", 0, Seq("k"))
    val err = intercept[IllegalArgumentException] {
      LakeIO.capturedChanges(spark, root2, 0, 2)
    }
    assert(err.getMessage.contains("v=2"), err.getMessage)
  }

  test("randomized reference: three-way merge matches a literal " +
      "per-key Scala model over random churn (5 seeded corpora)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 7919L)
      val baseKeys = (0L until 60L).filter(_ => rnd.nextDouble() < 0.7)
      val base = baseKeys.map(k => k -> s"b$k${rnd.nextInt(3)}").toMap
      // per side, each base key: 0 keep / 1 update / 2 delete; plus
      // inserts on non-base keys (sides may collide — ins/ins cell)
      def head(tag: String): Map[Long, String] = {
        val edited = base.flatMap { case (k, v) =>
          rnd.nextInt(3) match {
            case 0 => Some(k -> v)
            case 1 =>
              // identical-edit cell: both sides sometimes pick the
              // same deterministic new value
              val same = rnd.nextBoolean()
              Some(k -> (if (same) s"same$k" else s"$tag$k${rnd.nextInt(3)}"))
            case _ => None
          }
        }
        val inserts = (60L until 80L)
          .filter(_ => rnd.nextDouble() < 0.3)
          .map(k => k -> (if (rnd.nextBoolean()) s"ins$k" else s"$tag$k"))
        edited ++ inserts
      }
      val ours = head("o")
      val theirs = head("t")
      // the literal model: per key over the union, the docstring rules
      val model = (base.keySet ++ ours.keySet ++ theirs.keySet).toSeq
        .map { k =>
          val (b, o, t) = (base.get(k), ours.get(k), theirs.get(k))
          val (oCh, tCh) = (o != b, t != b)
          val merged = if (!oCh) t else o // both-changed: agree or ours
          val conflict = oCh && tCh && o != t
          k -> ((merged, conflict))
        }.toMap
      def df(m: Map[Long, String]) = m.toSeq.toDF("k", "v")
      val got = LakeIO.threeWayMergeOutcome(df(base), df(ours),
        df(theirs), Seq("k")).collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getString(1))),
            r.getBoolean(3))).toMap
      assert(got.keySet === model.keySet, s"seed $seed key sets differ")
      for ((k, (mv, mc)) <- model) {
        assert(got(k) === ((mv, mc)),
          s"seed $seed key $k: engine ${got(k)} vs model ($mv, $mc) " +
            s"[base=${base.get(k)} ours=${ours.get(k)} " +
            s"theirs=${theirs.get(k)}]")
      }
    }
  }

  test("compact on a captured table records an EMPTY change set — " +
      "spanning range reads keep working instead of refusing on the " +
      "content-identical rewrite") {
    val lake = newLake()
    lake.saveVersionedCdf(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      "cc", Seq("k"))
    lake.saveVersionedCdf(Seq((1L, "a"), (2L, "B"), (3L, "c"))
      .toDF("k", "s"), "cc", Seq("k"))
    lake.compact("cc", targetFileBytes = 1L << 20) // v2: rewrite only
    // the captured feed spans the compaction commit with NO refusal,
    // carries only the real churn, and replays to the head
    val feed = lake.capturedChanges("cc", 0, 2)
    assert(feed.filter(col("_commit_version") === 2).count() === 0,
      "the rewrite commit's capture must be empty")
    val replica = lake.replayChanges(
      lake.loadVersioned("cc", Some(0)), feed, Seq("k"))
    val head = lake.loadVersioned("cc", None)
    assert(replica.exceptAll(head).count() === 0
      && head.exceptAll(replica).count() === 0)
    // a NON-captured table's compact still writes no _cdf at all
    lake.saveVersioned(Seq((9L, "z")).toDF("k", "s"), "plainv")
    lake.compact("plainv", targetFileBytes = 1L << 20)
    assert(!new java.io.File(lake.warehouse + "/plainv/_cdf").exists())
  }

  test("duplicate source keys: upsert and scd2Apply REFUSE a multi-" +
      "match batch (Delta MERGE parity) instead of landing both rows") {
    val root = Scratch.dir("graft_dupkeys")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$root/t")
    val dup = Seq((2L, "B1"), (2L, "B2"), (3L, "c")).toDF("k", "s")
    val e1 = intercept[Exception] {
      LakeIO.upsert(dup, s"$root/t", Seq("k"))
    }
    assert(e1.getMessage.contains("multiple source rows"), e1.getMessage)
    // the refusal is all-or-nothing: the target is untouched
    assert(spark.read.parquet(s"$root/t").count() === 2)
    // a deduped batch then lands normally
    LakeIO.upsert(Seq((2L, "B2"), (3L, "c")).toDF("k", "s"),
      s"$root/t", Seq("k"))
    assert(spark.read.parquet(s"$root/t").count() === 3)
    // scd2: a dup-key update would open two current rows — refused
    val dim = Seq((1L, "a", 1, None: Option[Int], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val e2 = intercept[Exception] {
      LakeIO.scd2Apply(dim, Seq((1L, "x"), (1L, "y")).toDF("k", "attr"),
        Seq("k"), Seq("attr"), 2).count()
    }
    assert(e2.getMessage.contains("multiple source rows"), e2.getMessage)
  }

  test("schema drift: diff and merge REFUSE drifted snapshots instead " +
      "of silently dropping the new column; loadVersionEvolved aligns") {
    val root = Scratch.dir("graft_schemaevo")
    LakeIO.saveVersion(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"), root)
    LakeIO.saveVersion(
      Seq((1L, 10.0, "a"), (3L, 30.0, "c")).toDF("k", "x", "tag"), root)
    // the silent hazard: a v0-schema'd diff would MISS every change in
    // `tag` and strip it from postimages — both surfaces refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      LakeIO.changes(spark, root, 0, 1, Seq("k"))
    }
    assert(e1.getMessage.contains("schemas differ"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      LakeIO.threeWayMergeOutcome(LakeIO.loadVersion(spark, root, Some(0)),
        LakeIO.loadVersion(spark, root, Some(1)),
        LakeIO.loadVersion(spark, root, Some(0)), Seq("k"))
    }
    assert(e2.getMessage.contains("schema differs"), e2.getMessage)
    // the supported path: the pinned v0 aligned to the head schema
    // (typed null fill), after which the diff works and sees the
    // tag-bearing postimages intact
    val v0e = LakeIO.loadVersionEvolved(spark, root, 0)
    assert(v0e.columns.toSeq === Seq("k", "x", "tag"))
    assert(v0e.filter(col("tag").isNull).count() === 2)
    val diff = LakeIO.snapshotDiff(v0e,
      LakeIO.loadVersion(spark, root, Some(1)), Seq("k"), 1)
    val byType = diff.collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        Option(r.getAs[String]("tag")))).toSet
    assert(byType === Set(("insert", 3L, Some("c")), ("delete", 2L, None),
      ("update_preimage", 1L, None),
      ("update_postimage", 1L, Some("a"))), s"got $byType")
  }
}
