package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, TextOps}

/** Contracts for `graph_triangles` and `mix_curriculum`. */
class TriangleCurriculumSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def literalTriangles(
      edges: Set[(Long, Long)]): Set[(Long, Long, Long)] = {
    val adj = edges ++ edges.map { case (u, v) => (v, u) }
    val nodes = adj.map(_._1).toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b && edges((a, b))
      c <- nodes if b < c && edges((b, c)) && edges((a, c))
    } yield (a, b, c)).toSet
  }

  test("triangleEnum equals the literal triple scan on random graphs " +
      "(orientation theorem: each triangle exactly once)") {
    val rnd = new scala.util.Random(5)
    (1 to 8).foreach { trial =>
      val n = 12 + rnd.nextInt(30)
      val p = 0.08 + rnd.nextDouble() * 0.3
      val edges = (for {
        u <- 0L until n.toLong; v <- (u + 1) until n.toLong
        if rnd.nextDouble() < p
      } yield (u, v)).toSet
      if (edges.nonEmpty) {
        val got = GraphOps.triangleEnum(edges.toSeq.toDF("u", "v"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(got.length === got.toSet.size,
          s"trial $trial: a triangle was emitted more than once")
        assert(got.toSet === literalTriangles(edges), s"trial $trial")
      }
    }
  }

  test("triangleEnum emits ZERO wedges at a hub (degree orientation " +
      "kills the star blowup the naive u<v orientation pays)") {
    // star K1,200 + one distant triangle: naive orientation wedges at
    // the hub = C(200,2) ≈ 20k; degree orientation gives the hub no
    // out-pairs, so the wedge join output is exactly the triangle set
    val star = (1L to 200L).map(leaf => (0L, leaf))
    val tri = Seq((500L, 501L), (500L, 502L), (501L, 502L))
    val res = GraphOps.triangleEnum((star ++ tri).toDF("u", "v"))
    res.collect()
    val joinRows = SpecUtil.collectPlan(res.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value)
    }.flatten
    assert(res.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))) === Seq((500L, 501L, 502L)))
    // every join in the enumeration stays graph-sized, not hub²-sized
    assert(joinRows.nonEmpty && joinRows.forall(_ < 1000),
      s"a join blew up on the hub: $joinRows")
  }

  test("graph_triangles matches the naive co-purchase triple scan " +
      "on the fixture") {
    import scala.jdk.CollectionConverters._
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .collectAsList().asScala.map(r => (r.getLong(0), r.getLong(1)))
    val co = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size)
    val edges = co.filter(_._2 >= 2).keys.toSet
    val got = GraphOps.graphTriangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === literalTriangles(edges))
    assert(got.nonEmpty, "fixture co-purchase graph has no triangles")
  }

  test("plan pins: triangle edge lineage is cut once; dedup_semantic " +
      "pair sides share one Exchange; event_pattern scans events once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan,
        table: String): Int =
      SpecUtil.collectPlan(p) {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains(table)) => 1
      }.sum
    val tri = graft.operators.GraphOps.graphTriangles(spark, sf)
    tri.collect()
    // the eager edge cut means the four edge consumers replay NOTHING:
    // the returned plan reads the checkpoint, not lineitem
    assert(scans(tri.queryExecution.executedPlan, "lineitem") === 0,
      "triangleEnum recomputed the corpus edge pass")
    val sem = graft.operators.SimSearch.semDedup(spark, sf)
    sem.collect()
    val semPlan = sem.queryExecution.executedPlan
    assert(SpecUtil.collectPlan(semPlan) {
      case _: ReusedExchangeExec => 1 }.sum >= 1,
      "dedup_semantic pair sides no longer share the cent_id Exchange")
    assert(scans(semPlan, "embeddings") <= 2,
      "dedup_semantic re-scans the corpus per consumer again")
    val pat = graft.operators.EventWindows.eventPattern(spark, sf)
    pat.collect()
    assert(scans(pat.queryExecution.executedPlan, "events") === 1)
    // the 4-level dataset card is ONE aggregation pass, not four
    val rep = graft.operators.TextOps.corpusReport(spark, sf)
    rep.collect()
    assert(scans(rep.queryExecution.executedPlan, "documents") === 1,
      "corpus_report re-scans the corpus per grouping level")
  }

  test("mix_curriculum_approx: a boundary-safe SUBSET of the exact " +
      "schedule — phases and ranks agree on every kept doc") {
    val exact = TextOps.mixCurriculum(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    val approx = TextOps.mixCurriculumApprox(spark, sf).collect()
    assert(approx.nonEmpty && approx.length < exact.size,
      "approx must drop the boundary interval (and only that)")
    approx.foreach { r =>
      assert(exact(r.getLong(0)) === ((r.getInt(2), r.getLong(3))),
        s"doc ${r.getLong(0)} disagrees with the exact schedule")
    }
    // the cutoff path (the actual 100 TB form) covers the FULL corpus
    // and agrees with the exact phases away from boundaries too
    val cutoff = TextOps.mixCurriculumCutoff(spark, sf).collect()
    assert(cutoff.length === exact.size)
    val approxIds = approx.map(_.getLong(0)).toSet
    cutoff.filter(r => approxIds(r.getLong(0))).foreach { r =>
      assert(exact(r.getLong(0)) === ((r.getInt(2), r.getLong(3))))
    }
  }

  test("mix_curriculum: phases are quality_lm_bucket's terciles and " +
      "rank is the md5-prefix hash") {
    val buckets = TextOps.qualityLmBucket(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val phaseName = Map(1 -> "head", 2 -> "middle", 3 -> "tail")
    val rows = TextOps.mixCurriculum(spark, sf).collect()
    assert(rows.length === buckets.size)
    rows.foreach { r =>
      val (id, phase, rank) = (r.getLong(0), r.getInt(2), r.getLong(3))
      assert(phaseName(phase) === buckets(id), s"phase mismatch doc $id")
      assert(rank === SpecUtil.md5Rank(id), s"rank mismatch doc $id")
    }
    // the schedule is emitted in (phase, rank, doc_id) order
    val key = rows.map(r => (r.getInt(2), r.getLong(3), r.getLong(0)))
    assert(key.sameElements(key.sorted), "schedule out of order")
  }
}
