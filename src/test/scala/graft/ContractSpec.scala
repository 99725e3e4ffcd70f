package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Driver-contract invariants: key alignment between `queries` and
  * `oracleSql`, and the t1 smoke (entry returns rows on sf0.001).
  *
  * Every plan walk COLLECTS per-query failures and asserts the full
  * list empty (VERDICT r9 #3): one query that fails analysis must not
  * abort the walk and silently disarm the product-join / driver-funnel
  * / unkeyed-window / array-output guards for the other 200+ declared
  * queries — which is exactly what happened in round 9 when the NTZ
  * fixture flip broke 4 queries and took all five guards down with
  * them.
  */
class ContractSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  /** Run `check` over every query in `qs`, turning thrown analysis
    * errors into recorded failures instead of aborting the walk;
    * `check` returns Some(message) to flag a query. Returns the full
    * failure list (exposed for the meta-test below).
    */
  private[graft] def walkFailures(
      qs: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame],
      check: (String, DataFrame) => Option[String]): Seq[String] =
    qs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try check(name, fn(spark, TestSpark.sf)).map(m => s"$name: $m")
      catch {
        case e: Throwable =>
          Some(s"$name: threw ${e.toString.linesIterator.next()}")
      }
    }

  /** Every declared query's frame, built ONCE per suite run and shared
    * by all the walk tests below: construction is analysis-only for
    * batch queries, but the round-11 streaming shadows
    * (stream_watermark_late_ok / stream_sink_ok) EXECUTE multi-second
    * harnesses at construction time, so per-walk rebuilding re-ran
    * them once per guard. Failures are recorded, not thrown, so the
    * r9 walk-disarming regression shape stays covered.
    */
  private lazy val built: Seq[(String, Either[Throwable, DataFrame])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, TestSpark.sf))
      catch { case e: Throwable => Left(e) })
    }

  private def walk(check: (String, DataFrame) => Option[String]): Unit = {
    val failures = built.flatMap {
      case (name, Left(e)) =>
        Some(s"$name: threw ${e.toString.linesIterator.next()}")
      case (name, Right(df)) =>
        (try check(name, df)
        catch {
          case e: Throwable =>
            Some(s"threw ${e.toString.linesIterator.next()}")
        }).map(m => s"$name: $m")
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed the walk:\n${failures.mkString("\n")}")
  }

  test("a broken query cannot disarm the walk for the others (r9 regression shape)") {
    // Round 9's fixture flip broke 4 queries and the old fail-fast walks
    // aborted on the first, checking NONE of the remaining 213. The walk
    // must instead record the broken query AND still evaluate the rest.
    val broken: (org.apache.spark.sql.SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted analysis failure")
    var checkedHealthy = false
    val fails = walkFailures(
      Map("aa_planted_broken" -> broken,
        "scan_parquet" -> SparkEntry.queries("scan_parquet")),
      { (name, _) => if (name == "scan_parquet") checkedHealthy = true; None })
    assert(fails.size === 1 && fails.head.startsWith("aa_planted_broken"),
      s"expected exactly the planted failure, got: $fails")
    assert(checkedHealthy,
      "the healthy query must still be checked after the broken one")
  }

  test("every oracleSql key has a queries implementation") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys with no query impl: $orphans")
  }

  test("no ConcurrentHashMap in src/main outside Memo " +
      "(memos go through graft.Memo)") {
    val allowed = Set("graft/Memo.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the cwd")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.filter { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      !allowed.contains(rel) &&
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          .contains("ConcurrentHashMap")
    }
    assert(files.size > 10, s"source walk found only ${files.size} files")
    assert(offenders.isEmpty,
      s"declare memos with graft.Memo, not a ConcurrentHashMap: " +
        offenders.mkString(", "))
  }

  /** Every code line under `under` (src/main/scala by default) that
    * contains `needle`, as (file:line, inside one of `bodies`); a body
    * is a (file, declaration) pair, spanning as [[ContractSpec.bodySpan]]
    * says.
    */
  private def codeLines(needle: String, bodies: Seq[(String, String)],
      under: String = "src/main/scala"): Seq[(String, Boolean)] = {
    val root = java.nio.file.Paths.get(under)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").toSeq
      ContractSpec.codeLinesIn(lines, needle,
        bodies.collect { case (`rel`, d) => d })
        .map { case (n, inside) => (s"$rel:$n", inside) }
    }
  }

  test("codeLines spans: a brace-less member ends before the next one, a " +
      "braced body at its own-indent close, a column-0 class at its close") {
    import ContractSpec.{bodySpan, codeLinesIn}
    val src = Seq(
      "object A {",
      "  def one(x: Int): Int = needle(x)",
      "",
      "  def two(x: Int): Int = {",
      "    needle(x)",
      "  }",
      "",
      "  def three(x: Int): Int =",
      "    needle(x) +",
      "      1",
      "  val after = needle(0)",
      "}",
      "class B(x: Int)",
      "    extends A {",
      "  def m: Int = {",
      "    1",
      "  }",
      "  val n = needle(2)",
      "}",
      "val tail = needle(3)")
    assert(bodySpan(src, "def one") === Some((1, 2)))
    assert(bodySpan(src, "def two") === Some((3, 5)))
    assert(bodySpan(src, "def three") === Some((7, 9)))
    assert(bodySpan(src, "class B") === Some((12, 18)))
    assert(bodySpan(src, "def none") === None)
    assert(codeLinesIn(src, "needle", Seq("def one", "def three")) ===
      Seq(2 -> true, 5 -> false, 9 -> true, 11 -> false, 18 -> false,
        20 -> false))
    assert(codeLinesIn(src, "needle", Seq("class B")).filter(_._2) ===
      Seq(18 -> true))
  }

  test("processAllAvailable in src/main only inside Streams.fileReplay " +
      "(streaming rows replay through the one harness)") {
    val calls = codeLines("processAllAvailable",
      Seq("graft/streaming/Streams.scala" -> "def fileReplay"))
    assert(calls.exists(_._2), "fileReplay no longer drives its query")
    val offenders = calls.filterNot(_._2).map(_._1)
    assert(offenders.isEmpty,
      "replay through Streams.fileReplay, not a hand-rolled driver " +
        s"loop: ${offenders.mkString(", ")}")
  }

  test("newSession() in src/main only inside GraphOps.fixpoint, " +
      "graphPagerankUnrolledPlan and Streams.fileReplay (graph loops " +
      "run through the one fixpoint loop)") {
    val graph = "graft/operators/GraphOps.scala"
    val calls = codeLines("newSession()", Seq(graph -> "def fixpoint",
      graph -> "def graphPagerankUnrolledPlan",
      "graft/streaming/Streams.scala" -> "def fileReplay"))
    val offenders = calls.filterNot(_._2).map(_._1)
    assert(offenders.isEmpty,
      "run graph iterations through GraphOps.fixpoint, not a " +
        s"hand-rolled session clone: ${offenders.mkString(", ")}")
    assert(calls.count(_._2) === 3, s"expected one clone per place: $calls")
  }

  test("scratch space in src/main comes only from Scratch (temp dirs, " +
      "java.io.tmpdir and /dev/shm outside Scratch and Lake.forUser)") {
    val found = Seq("createTempDirectory", "\"java.io.tmpdir\"",
      "\"/dev/shm\"").flatMap(codeLines(_,
        Seq("graft/Lake.scala" -> "def forUser")))
    assert(found.exists(_._2), "Lake.forUser no longer names its fallback")
    val offenders = found.collect {
      case (at, false) if !at.startsWith("graft/Scratch.scala:") => at
    }
    assert(offenders.isEmpty,
      s"get scratch space from Scratch.dir: ${offenders.mkString(", ")}")
  }

  /** Code lines under src/test/scala containing `needle`, outside this
    * spec (whose guards spell the needles) and outside `allowed` files.
    */
  private def testLines(needle: String, allowed: Set[String]): Seq[String] =
    codeLines(needle, Nil, "src/test/scala").map(_._1).filterNot(at =>
      (allowed + "graft/ContractSpec.scala").exists(f => at.startsWith(f + ":")))

  test("scratch space in src/test comes only from Scratch too: specs " +
      "take Scratch.dir, so a Tier-1 run leaves nothing in java.io.tmpdir") {
    val offenders = Seq("createTempDirectory", "createTempFile",
      "\"java.io.tmpdir\"", "\"/dev/shm\"")
      .flatMap(testLines(_, Set.empty))
    assert(offenders.isEmpty,
      s"get spec scratch space from Scratch.dir: ${offenders.mkString(", ")}")
  }

  test("src/test holds one main (graft.ScaleHarness) and one session " +
      "builder (TestSpark): no one-off probe builds its own SparkSession") {
    val mains = testLines("def main(", Set("graft/ScaleHarness.scala"))
    assert(mains.isEmpty, "run scale measurements through graft.ScaleHarness, " +
      s"not another test main: ${mains.mkString(", ")}")
    val builders = testLines("SparkSession.builder()", Set("graft/TestSpark.scala"))
    assert(builders.isEmpty, "specs share TestSpark.spark; mains take " +
      s"Scratch.driverSession(): ${builders.mkString(", ")}")
    assert(codeLines("def main(", Nil, "src/test/scala")
      .exists(_._1.startsWith("graft/ScaleHarness.scala:")),
      "graft.ScaleHarness no longer defines its main")
  }

  test("SimSearch's ANN core is written once: the cosine score, the " +
      "probe codebook, the artifact cent_id rebind and the IVF-PQ encode " +
      "appear only inside their helpers") {
    val sim = "graft/operators/SimSearch.scala"
    val rules = Seq(
      "dot(col(\"q_emb\"), col(\"c_emb\"))" -> Seq("def cosSim"),
      ".toDF(\"cent_id\", \"c_v\", \"cnrm\")" -> Seq("def probeCells"),
      "col(\"cent_id\").cast(\"long\")" -> Seq("def readCells"),
      // pqOverCodebook's raw-embedding encode has no coarse cell
      "posexplode(array(pqCodeCols(" ->
        Seq("def encodeIvfPq", "def pqOverCodebook"))
    val found = rules.map { case (needle, defs) =>
      needle -> codeLines(needle, defs.map(sim -> _))
        .filter(_._1.startsWith(sim + ":"))
    }
    val offenders = found.flatMap { case (needle, at) =>
      at.collect { case (line, false) => s"$line $needle" }
    }
    assert(offenders.isEmpty, "call the SimSearch helper instead of " +
      s"re-inlining it:\n${offenders.mkString("\n")}")
    found.foreach { case (needle, at) =>
      assert(at.exists(_._2), s"no helper holds $needle any more")
    }
  }

  test("Streams' stateful-processor kit is written once: the 4dp snap, " +
      "the bucket rule, the seen-store loop, the interval join and the " +
      "event-time wiring appear only inside their shared pieces") {
    val streams = "graft/streaming/Streams.scala"
    val rules = Seq(
      "setScale(4, java.math.RoundingMode.HALF_UP)" ->
        ("graft/Fixed4.scala" -> "object Fixed4"),
      "java.lang.Math.floorMod(tsUs" -> (streams -> "object ClosedBucketMonitor"),
      "seen.get().toArray" -> (streams -> "class SeenStoreDedup["),
      "click_ts <= purchase_ts" -> (streams -> "def clickPurchase("),
      "unix_micros(col(\"ts\")).as[Long], col(\"value\").as[Double])" ->
        (streams -> "def keyedMonitor["))
    val found = rules.map { case (needle, body) =>
      needle -> codeLines(needle, Seq(body))
    }
    val offenders = found.flatMap { case (needle, at) =>
      at.collect { case (line, false) => s"$line $needle" }
    }
    assert(offenders.isEmpty, "use the shared piece instead of re-copying " +
      s"it:\n${offenders.mkString("\n")}")
    found.foreach { case (needle, at) =>
      assert(at.exists(_._2), s"no shared piece holds $needle any more")
    }
  }

  test("the versioned-table layout is spelled only inside VersionLog: no " +
      "other code line names a version dir, the commit log, a capture, a " +
      "manifest or the clone pins") {
    val log = "graft/sources/VersionLog.scala"
    val bodies = Seq(log -> "final class VersionLog(", log -> "object VersionLog {")
    val found = Seq("/v=", "/_cdf", "\"v=\"", "_manifest", "\"_commits\"",
      "_inflight_v=", "\"_clones\"").flatMap(needle =>
        codeLines(needle, bodies).map { case (at, inside) =>
          (s"$at $needle", inside)
        })
    val offenders = found.collect { case (at, false) => at }
    assert(offenders.isEmpty, "name the versioned-table layout through " +
      s"VersionLog:\n${offenders.mkString("\n")}")
    assert(found.exists(_._2), "VersionLog no longer names the layout")
  }

  test("new Thread( in src/main only in VersionLog (the commit writer) " +
      "and Scratch (the shutdown hook): commit concurrency stays in one " +
      "module") {
    val allowed = Set("graft/sources/VersionLog.scala", "graft/Scratch.scala")
    val found = codeLines("new Thread(", Nil).map(_._1)
    val offenders = found.filterNot(at => allowed(at.takeWhile(_ != ':')))
    assert(offenders.isEmpty, "start threads only in VersionLog's commit " +
      s"writer or Scratch's shutdown hook:\n${offenders.mkString("\n")}")
    assert(found.map(_.takeWhile(_ != ':')).toSet === allowed,
      s"expected one thread site in each of $allowed: $found")
  }

  test("version and capture dirs are read only through VersionLog: no " +
      "other code line names a capture dir or a table log's version dir") {
    val log = "graft/sources/VersionLog.scala" -> "final class VersionLog("
    // a read outside the log would build its own DataFrame and skip the
    // log's schema rule (one footer, no inference job)
    val offenders = Seq("cdfDir(", "log.dir(").flatMap(needle =>
      codeLines(needle, Seq(log)).collect { case (at, false) =>
        s"$at $needle"
      })
    assert(offenders.isEmpty, "read versions and captures through " +
      s"VersionLog.read / readCaptures:\n${offenders.mkString("\n")}")
  }

  test("the text-corpus kit is written once: the quality gate, keep-first " +
      "dedup, content-hash anti-join, per-source pack, epoch copies, merge " +
      "loop, unit split, word pass, encode reassembly and fertility tail " +
      "appear only inside their helpers") {
    val text = "graft/operators/TextOps.scala"
    val bpe = "graft/operators/BpeTrain.scala"
    val uni = "graft/operators/UnigramTrain.scala"
    // a needle with no helper must not appear at all
    val rules = Seq(
      "between(2.0, 12.0)" -> Seq(text -> "def qualityGate("),
      "partitionBy(col(\"h\"))" -> Seq(text -> "def keepFirst("),
      "partitionBy(col(\"text_hash\"))" -> Nil,
      "Seq(\"h\"), \"left_anti\")" -> Seq(text -> "def newContent("),
      "pack_offset" -> Seq(text -> "def packBySource("),
      "e_pct" -> Seq(text -> "def epochCopies("),
      "size(t) - 1" -> Seq(bpe -> "def mergeLoop("),
      "MergeJ + b + Sep" -> Seq(bpe -> "def mergeLoop("),
      "split(col(\"s\"), Sep)" -> Seq(bpe -> "def units"),
      "val MaxWordLen" -> Seq(uni -> "object UnigramTrain"),
      "length(col(\"word\")) <= MaxWordLen" ->
        Seq(uni -> "def qualifyingWords("),
      "col(\"enc\")))" -> Seq(uni -> "def encodeDocs("),
      "20000 + n_words" -> Seq(uni -> "def fertility("),
      "size(split(normText(col(\"text\")), \" \"))" ->
        Seq(text -> "def wsTokens"))
    // SparkEntry's oracle SQL spells the same rules in DuckDB's dialect
    val found = rules.map { case (needle, bodies) =>
      (needle, bodies, codeLines(needle, bodies)
        .filterNot(_._1.startsWith("graft/SparkEntry.scala:")))
    }
    val offenders = found.flatMap { case (needle, _, at) =>
      at.collect { case (line, false) => s"$line $needle" }
    }
    assert(offenders.isEmpty, "call the text-corpus helper instead of " +
      s"re-copying it:\n${offenders.mkString("\n")}")
    found.foreach { case (needle, bodies, at) =>
      assert(bodies.isEmpty || at.exists(_._2),
        s"no helper holds $needle any more")
    }
  }

  test("the blocking-join kit is written once: the a_id < b_id self-join " +
      "rule, the o_id < n_id seen-store rule and the 4 × 16-bit band " +
      "explode appear only inside Blocking") {
    val kit = "graft/operators/Blocking.scala" -> "object Blocking {"
    // the all-pairs reference has no block key: its a < b is the join
    // condition itself
    val exact = "graft/operators/SimSearch.scala" ->
      "def dedupEmbeddingExactDocs("
    val rules = Seq(
      "col(\"a_id\") < col(\"b_id\")" -> Seq(kit, exact),
      "col(\"o_id\") < col(\"n_id\")" -> Seq(kit),
      "0xFFFFL" -> Seq(kit))
    val found = rules.map { case (needle, bodies) =>
      needle -> codeLines(needle, bodies)
    }
    val offenders = found.flatMap { case (needle, at) =>
      at.collect { case (line, false) => s"$line $needle" }
    }
    assert(offenders.isEmpty, "block through Blocking.selfPairs, " +
      s"seenPairs or bands16 instead of re-copying it:\n" +
      offenders.mkString("\n"))
    found.foreach { case (needle, at) =>
      assert(at.exists { case (line, inside) =>
        inside && line.startsWith("graft/operators/Blocking.scala:")
      }, s"Blocking no longer holds $needle")
    }
  }

  test("the time-series kit is written once: the daily and hourly series " +
      "buckets, the hourly grid explode, the fixed-point display and the " +
      "wide decimal snaps appear only inside their helpers, and no " +
      "recurrence is folded as SQL text") {
    val ts = "graft/operators/TimeSeries.scala"
    val rel = "graft/operators/Relational.scala"
    // other operators explode integer sequences (grid cells, copies,
    // frames) that are no time series: that needle is checked only in
    // the time-series family's files
    val family = Set(ts, "graft/operators/EventWindows.scala",
      "graft/streaming/Streams.scala")
    val rules = Seq(
      ("date_trunc(\"day\", col(\"ts\")).cast(\"date\")",
        Seq(ts -> "def daily("), None),
      ("date_trunc(\"hour\", col(\"ts\"))", Seq(ts -> "def hourly("), None),
      ("explode(sequence(", Seq(ts -> "def hourlyGrid("), Some(family)),
      ("aggregate(arr", Nil, None),
      ("DecimalType(28, 4)", Seq(rel -> "def dec28("), None),
      ("DecimalType(38, 4)", Seq(rel -> "def dec38("), None),
      ("/ 10000.0, 4)", Seq(ts -> "def display("), None))
    // SparkEntry's oracle SQL spells the same rules in DuckDB's dialect
    val found = rules.map { case (needle, bodies, scope) =>
      (needle, bodies, codeLines(needle, bodies).filter { case (at, _) =>
        val file = at.takeWhile(_ != ':')
        file != "graft/SparkEntry.scala" && scope.forall(_.contains(file))
      })
    }
    val offenders = found.flatMap { case (needle, _, at) =>
      at.collect { case (line, false) => s"$line $needle" }
    }
    assert(offenders.isEmpty, "build the series through TimeSeries " +
      "(and snap through Relational.dec28/dec38) instead of re-copying " +
      s"it:\n${offenders.mkString("\n")}")
    found.foreach { case (needle, bodies, at) =>
      assert(bodies.isEmpty || at.exists(_._2),
        s"no helper holds $needle any more")
    }
  }

  test("no window frame in src/main runs currentRow → unboundedFollowing " +
      "(Spark re-scans it for every row: quadratic in the partition)") {
    val found = codeLines("currentRow, Window.unboundedFollowing", Nil)
    assert(found.isEmpty, "reverse the order and use an unboundedPreceding " +
      s"→ currentRow frame: ${found.map(_._1).mkString(", ")}")
  }

  test("no catch-all Throwable handler in src/main outside VersionLog.publish's " +
      "abort-and-rethrow (failures are caught as NonFatal)") {
    val found = codeLines(": Throwable =>",
      Seq("graft/sources/VersionLog.scala" -> "def publish("))
    assert(found.exists(_._2), "VersionLog.publish no longer aborts")
    val offenders = found.collect { case (at, false) => at }
    assert(offenders.isEmpty,
      s"catch NonFatal, not Throwable: ${offenders.mkString(", ")}")
  }

  test("Verify.dump records each failed query in failures.json") {
    def failuresJson(out: String): String = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "failures.json")), "UTF-8")
    val bad = Scratch.dir("verify_failed")
    assert(Verify.dump(spark, Scratch.dir("verify_empty_sf"), bad,
      Set("agg_group_sum")) === Seq("agg_group_sum"))
    assert(failuresJson(bad).startsWith(
      "[{\"query\":\"agg_group_sum\",\"error\":\""), failuresJson(bad))
    assert(new java.io.File(bad, "oracle_sql.json").isFile)
    val good = Scratch.dir("verify_clean")
    assert(Verify.dump(spark, TestSpark.sf, good, Set("agg_group_sum"))
      .isEmpty)
    assert(failuresJson(good) === "[]")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query analyzes (schema resolvable)") {
    // analysis only — execution is the driver's Verify pass
    walk { (_, df) =>
      if (df.schema.fields.nonEmpty) None else Some("produced empty schema")
    }
  }

  test("no declared query plans a driver-side funnel (SURVEY §7.6)") {
    // A distributed operator must not pull the dataset through the
    // driver: no CollectLimit / toLocalIterator shape in any optimized
    // plan. (Verify's coalesce(1) is the driver-mandated dump format and
    // lives outside the query definitions.)
    walk { (_, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      // `preview`-style bounded limits are fine; whole-table collects are
      // what the executed plan would show as CollectLimit over all rows —
      // also reject obvious local relations materialized from collects
      if (plan.contains("CollectLimit")) Some("funnels through the driver")
      else if (plan.contains("toLocalIterator")) Some("iterates locally")
      else None
    }
  }

  test("no declared query plans a product join (VERDICT r2 #3)") {
    // A CartesianProduct / BroadcastNestedLoopJoin is O(|L|·|R|) pair
    // work — the scale-killer that made round 2's exact dedup_embedding
    // weak. Every declared plan must join keyed, except:
    //   join_cross     — the operator IS a (guarded, 25×5) cross join
    //   simsearch_knn  — corpus × broadcast BOUNDED query set (documented
    //                    O(|corpus|·|queries|) baseline; the scale paths
    //                    are simsearch_lsh / simsearch_ivf)
    //   text_tfidf     — corpus × broadcast ONE-ROW global doc count (the
    //                    standard scalar-attach shape; O(|corpus|·1))
    //   agg_histogram  — corpus × broadcast ONE-ROW min/max bounds (same
    //                    scalar-attach shape)
    //   dq_freshness   — SERIES-SIZED rollup × broadcast ONE-ROW global
    //                    max (both sides bounded; the same scalar
    //                    attach — the lit-key equi-join folds to BNLJ)
    //   ann_recall     — scores the approximate searchers AGAINST the
    //                    exact KNN baseline, so it necessarily contains
    //                    simsearch_knn's documented corpus × bounded
    //                    query-set product; everything downstream of the
    //                    three searches is report-sized and keyed
    //   stream_watermark_late_ok — window rows × broadcast ONE-ROW
    //                    late-drop cardinality (the same scalar-attach
    //                    shape as text_tfidf/agg_histogram)
    //   lake_merge_branch — merged rows × broadcast ONE-ROW conflict
    //                    count (the same scalar-attach shape); the
    //                    merge itself is two keyed full-outer joins
    //   simsearch_hybrid — its dense side IS simsearch_knn's documented
    //                    corpus × bounded-query product, and its BM25
    //                    side attaches the ONE-ROW (n_docs, avgdl)
    //                    stats (both shapes already allowed above);
    //                    fusion itself is a keyed full-outer join of
    //                    two report-sized rank lists
    //   simsearch_hybrid_lsh — dense side is the KEYED lsh bucket join;
    //                    only the ONE-ROW (n_docs, avgdl) scalar attach
    //                    remains as a product shape
    //   simsearch_hybrid_ivf — dense side is the KEYED ivf cell-probe
    //                    join (inlined codebook, no corpus product);
    //                    same ONE-ROW stats scalar attach as _lsh
    //   simsearch_pq / simsearch_pq_rotated / simsearch_opq_pca /
    //   simsearch_ivfpq /
    //   simsearch_ivfpq_residual /
    //   simsearch_rerank / simsearch_ivf — the PQ lookup
    //                    table and the query→probe-cell assignment are
    //                    bounded-queries × broadcast codebook rows
    //                    (both sides bounded by construction; the
    //                    CORPUS side joins keyed on (s, code) / cent_id
    //                    and never products; the residual form's LUT
    //                    and coarse-dot sides are bounded local
    //                    relations computed on the driver)
    //   ngram_pmi        — VOCAB-sized surviving-pair stream × broadcast
    //                    ONE-ROW (n1, n2) totals (the text_tfidf
    //                    scalar-attach shape; corpus never products)
    //   graph_pagerank   — ONE-ROW collected edge aggregate × ONE-ROW
    //                    node list feeding the in-task solve (1×1; the
    //                    corpus-sized work is all keyed upstream)
    //   graph_pagerank_dist — per-iteration ONE-ROW dangling-mass and
    //                    ONE-ROW node-count scalar attaches (|nodes|×1,
    //                    graph-sized); the corpus-sized edge aggregation
    //                    is keyed and cached once
    //   simsearch_filtered_ivf / simsearch_ivf_kmeans — the SAME
    //                    bounded query→probe-cell assignment as
    //                    simsearch_ivf (nQueries × broadcast codebook
    //                    rows); the corpus side joins keyed on
    //                    (cent_id, label) / cent_id and never products
    //   simsearch_range — knn's documented corpus × broadcast BOUNDED
    //                    query-set product, minus the rank window (the
    //                    radius test is row-local); the scale path is
    //                    simsearch_range_ivf
    //   simsearch_range_ivf — only the bounded query→probe-cell
    //                    assignment products (simsearch_ivf's shape);
    //                    the corpus joins keyed on cent_id
    //   simsearch_index_persisted / simsearch_index_incremental /
    //   simsearch_index_delete / simsearch_index_compact —
    //                    simsearch_ivfpq's bounded LUT and probe-cell
    //                    products on the QUERY side; the index scan
    //                    joins keyed on cent_id with dynamic partition
    //                    pruning (IndexPersistSpec); the delete form
    //                    adds only a KEYED c_id anti-join for the
    //                    tombstone mask, never a product; the compact
    //                    form's rewrite pass is the same keyed
    //                    anti-join and its serve has no mask join
    //   stream_index_append_ok — serves through the SAME
    //                    simsearch_index_persisted read path (bounded
    //                    LUT + probe-cell products on the query side;
    //                    the streamed artifact joins keyed on cent_id)
    //   simsearch_index_rebuild — ann_recall's documented judge shape
    //                    (exact-KNN ground truth = corpus × broadcast
    //                    BOUNDED 20-query set) + simsearch_ivf's
    //                    bounded query→probe-cell products for BOTH
    //                    codebooks + ONE-ROW health/balance scalar
    //                    attaches; both index serves join keyed on
    //                    cent_id, and the corpus never self-products
    //   simsearch_index_rebuild_tuned — the same rebuild shapes (exact
    //                    KNN judge, bounded query→cell products) + a
    //                    ONE-ROW old-hits scalar attach gating the
    //                    probe choice; the sweep itself is ONE keyed
    //                    cent_id join exploded to ≤6 probe levels
    //   simsearch_graph — the same exact-KNN judge (corpus × broadcast
    //                    BOUNDED 10-query set) + the bounded
    //                    query→entry-point product; the graph BUILD is
    //                    keyed band self-joins + a per-src window and
    //                    the beam hops join keyed on src
    //                    (IndexPersistSpec pins the build plan)
    val allowProduct =
      Set("join_cross", "simsearch_knn", "text_tfidf", "agg_histogram",
        "simsearch_graph", "simsearch_graph_incremental",
        "simsearch_graph_delete", "simsearch_graph_filtered",
        "simsearch_graph_persisted",
        "dq_freshness",
        "ann_recall", "stream_watermark_late_ok", "lake_merge_branch",
        "simsearch_hybrid",
        "simsearch_hybrid_lsh", "simsearch_hybrid_ivf", "simsearch_pq",
        "simsearch_ivfpq", "simsearch_ivfpq_residual", "simsearch_ivf",
        "simsearch_rerank", "simsearch_pq_rotated", "simsearch_opq_pca",
        "simsearch_filtered_ivf", "simsearch_ivf_kmeans",
        "simsearch_range", "simsearch_range_ivf",
        "simsearch_index_persisted", "simsearch_index_incremental",
        "simsearch_index_delete", "simsearch_index_compact",
        "simsearch_index_rebuild", "simsearch_index_rebuild_tuned",
        "stream_index_append_ok",
        "ngram_pmi", "graph_pagerank", "graph_pagerank_dist")
    walk { (name, df) =>
      if (allowProduct(name)) None
      else {
        val plan = df.queryExecution.sparkPlan.toString
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .find(plan.contains)
          .map(bad => s"plans a product join ($bad)")
      }
    }
  }

  test("no declared query plans an un-keyed window (SCALE.md invariant #2)") {
    // A Window with an empty partitionSpec funnels every row through ONE
    // task for the sort — the quiet single-node bottleneck. Global
    // ordering in declared queries must come from the final orderBy
    // (range-partitioned) or TakeOrderedAndProject, never a global
    // window.
    walk { (_, df) =>
      val unkeyed = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (unkeyed.isEmpty) None else Some("plans an un-keyed Window")
    }
  }

  test("no declared query outputs an array/map column (driver comparator contract)") {
    // The driver sorts result rows by EVERY column before hashing —
    // collection-typed outputs are unhashable there and turned 5 queries
    // into ERRs in round 1. Library APIs may return arrays; DECLARED
    // query outputs must serialize them.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    walk { (_, df) =>
      val bad = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType] => f.name
      }
      if (bad.isEmpty) None
      else Some(s"outputs collection columns ${bad.mkString(",")} — " +
        "serialize with array_join/to_json before declaring")
    }
  }
}

object ContractSpec {
  /** The 0-based (first, last) lines of the member declared on the first
    * line that contains `decl`, or None when no line does. A braced body
    * ends at the first later line that is `}` at the declaration's own
    * indentation; a brace-less one ends before the next non-blank line
    * indented no deeper than the declaration.
    */
  def bodySpan(lines: Seq[String], decl: String): Option[(Int, Int)] = {
    def indent(l: String): Int = l.indexWhere(_ != ' ')
    val from = lines.indexWhere(_.contains(decl))
    if (from < 0) None
    else {
      val at = indent(lines(from))
      val next = lines.indexWhere(l =>
        l.trim.nonEmpty && indent(l) <= at, from + 1)
      Some(from -> (
        if (next < 0) lines.size - 1
        else if (indent(lines(next)) == at && lines(next).trim.startsWith("}"))
          next
        else next - 1))
    }
  }

  /** The code lines (comment lines skipped) of one source that contain
    * `needle`, as (1-based line, inside the body of one of `decls`).
    */
  def codeLinesIn(lines: Seq[String], needle: String,
      decls: Seq[String]): Seq[(Int, Boolean)] = {
    val spans = decls.flatMap(bodySpan(lines, _))
    lines.zipWithIndex.collect {
      case (l, i) if l.contains(needle) &&
          !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
        (i + 1, spans.exists { case (a, b) => i >= a && i <= b })
    }
  }
}
