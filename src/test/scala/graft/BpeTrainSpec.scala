package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.operators.BpeTrain

/** `bpe_train` — word-level BPE merge training. The property test
  * re-implements greedy BPE literally (mutable vectors, explicit
  * left-to-right scan) and asserts the distributed
  * replace-with-flanked-boundaries formulation produces the identical
  * merge table on random corpora — including overlap chains ([a,a,a])
  * and nested merges (a merged token merging again).
  */
class BpeTrainSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val M = ""

  /** Literal greedy BPE: count adjacent pairs, take the (count DESC,
    * lhs ASC, rhs ASC) argmax, merge occurrences left-to-right
    * consuming both tokens, repeat.
    */
  private def refBpe(docs: Seq[Seq[String]], k: Int)
      : Seq[(Int, String, String, Long)] = {
    var state = docs.map(_.toVector).filter(_.nonEmpty)
    val out = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var i = 1
    var stop = false
    while (i <= k && !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      state.foreach { t =>
        var j = 0
        while (j + 1 < t.length) { counts((t(j), t(j + 1))) += 1; j += 1 }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((x, y), n) => (-n, x, y) }
        out += ((i, a, b, c))
        val m = a + M + b
        state = state.map { t =>
          val r = Vector.newBuilder[String]
          var j = 0
          while (j < t.length) {
            if (j + 1 < t.length && t(j) == a && t(j + 1) == b) {
              r += m; j += 2
            } else { r += t(j); j += 1 }
          }
          r.result()
        }
        i += 1
      }
    }
    out.toSeq.map { case (s, a, b, c) =>
      (s, a.replace(M, " "), b.replace(M, " "), c)
    }
  }

  private def run(docs: Seq[Seq[String]], k: Int)
      : Seq[(Int, String, String, Long)] = {
    val df = docs.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    BpeTrain.bpeTrainDocs(df, k)
      .as[(Int, String, String, Long)].collect().toSeq
  }

  test("planted corpus: nested merges build multi-word units deterministically") {
    val docs = Seq(
      Seq("new", "york", "city", "is", "big"),
      Seq("new", "york", "city", "is", "old"),
      Seq("new", "york", "is", "cold"))
    val got = run(docs, 4)
    assert(got === refBpe(docs, 4))
    assert(got.head === ((1, "new", "york", 3L)),
      s"first merge must be the dominant pair: $got")
    // a later merge must involve an already-merged (space-joined) unit
    assert(got.exists(r => r._2.contains(" ") || r._3.contains(" ")),
      s"nested merge expected in $got")
  }

  test("overlap chain merges greedily left-to-right ([a,a,a,a] -> [aa,aa])") {
    val docs = Seq(Seq("a", "a", "a", "a"), Seq("a", "a", "a"))
    val got = run(docs, 2)
    // step 1: (a,a) counted 3+2=5 times; greedy merge leaves
    // [aa,aa] and [aa,a]; step 2 ties (aa,aa) vs (aa,a) at count 1 and
    // the rhs tie-break picks the raw "a" (binary-prefix order)
    assert(got === refBpe(docs, 2))
    assert(got.head === ((1, "a", "a", 5L)))
    assert(got(1) === ((2, "a a", "a", 1L)),
      s"greedy residue pairs diverge: $got")
  }

  test("bpeTrainDocs gives its final state's checkpoint blocks back: " +
      "storage settles to where it started") {
    val sc = spark.sparkContext
    val before = SpecUtil.settledStorage(sc)
    BpeTrain.bpeTrainDocs(
      graft.sources.Tables.documents(spark, TestSpark.sf), 2).collect()
    val after = SpecUtil.storageDownTo(sc, before)
    assert(after <= before,
      s"bpeTrainDocs left $after B stored (started at $before B)")
  }

  test("single-token and empty docs exhaust cleanly") {
    assert(run(Seq(Seq("only"), Seq("one"), Seq()), 3).isEmpty)
    val got = run(Seq(Seq("x", "y"), Seq("solo")), 5)
    assert(got === Seq((1, "x", "y", 1L)),
      "one mergeable pair, then exhaustion")
  }

  test("bpe_encode: segmentation is conservative and merge-table-derived (fixture, shared memo)") {
    val merges = graft.operators.BpeTrain.bpeTrain(spark, TestSpark.sf)
      .as[(Int, String, String, Long)].collect()
    val enc = graft.operators.BpeTrain.bpeEncode(spark, TestSpark.sf)
      .as[(Long, Int, Int, String)].collect()
    assert(merges.nonEmpty && enc.nonEmpty)
    // every merged unit's surface must be buildable from a merge row
    val legalMerged = merges.map { case (_, lhs, rhs, _) =>
      lhs.replace(" ", "_") + "_" + rhs.replace(" ", "_")
    }.toSet
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"),
        graft.operators.TextOps.normText(col("text")).as("t"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").count(_.nonEmpty) }.toMap
    enc.foreach { case (docId, nMerged, nUnits, encoded) =>
      val units = encoded.split(" ").filter(_.nonEmpty)
      assert(units.length == nUnits, s"doc $docId unit count")
      assert(units.count(_.contains("_")) == nMerged, s"doc $docId merged count")
      units.filter(_.contains("_")).foreach(u =>
        assert(legalMerged.contains(u),
          s"doc $docId: unit '$u' not derivable from the merge table"))
      // conservation: units re-expand to the original token count
      assert(units.map(u => u.count(_ == '_') + 1).sum == docs(docId),
        s"doc $docId: merged units must re-expand to the original tokens")
    }
    // both queries rode ONE memoized training
    assert(graft.operators.BpeTrain.trainMemo.clear() >= 1)
  }

  test("bpe_fertility equals the per-language aggregate of bpe_encode (third memo view)") {
    val enc = graft.operators.BpeTrain.bpeEncode(spark, TestSpark.sf)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2.toLong, r._3.toLong)).toMap
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .as[(Long, String, Long)].collect()
      .filter(d => enc.contains(d._1)) // zero-token docs drop from both
    val expect = docs.groupBy(_._2).map { case (lang, rows) =>
      lang -> (rows.size.toLong,
        rows.map(r => enc(r._1)._2).sum, // total_units
        rows.map(r => enc(r._1)._1).sum, // merged_units
        rows.map(_._3).sum)              // total_chars
    }
    val got = graft.operators.BpeTrain.bpeFertility(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expect)
    got.foreach { case (lang, (_, units, _, chars)) =>
      // the emitted ratio is exactly the one IEEE division of the sums
      val ratio = graft.operators.BpeTrain.bpeFertility(spark, TestSpark.sf)
        .filter(col("lang") === lang).select(col("chars_per_unit"))
        .as[Double].head()
      assert(ratio == chars.toDouble / units.toDouble, s"lang=$lang ratio")
    }
    assert(graft.operators.BpeTrain.trainMemo.clear() >= 1)
  }

  test("pipeline_tokenize packs BPE units under pack_sequences' " +
      "boundary rule (fourth memo view, one training)") {
    val enc = graft.operators.BpeTrain.bpeEncode(spark, TestSpark.sf)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r._3).toMap
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("source")).as[(Long, String)].collect()
      .filter(d => enc.contains(d._1)) // zero-token docs drop from both
    // literal greedy packing: per source in doc_id order, a doc goes to
    // the pack its first unit falls in
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._1).toSeq.map { case (id, _) =>
        val n = enc(id)
        val row = (src, id, n, cum / 512L, cum % 512L)
        cum += n
        row
      }
    }.toSet
    val got = graft.operators.BpeTrain.pipelineTokenize(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === expect)
    // non-vacuous: the budget binds (every source fills >1 pack) and
    // some doc straddles a boundary (nonzero offset exists)
    val packsPerSrc = got.groupBy(_._1).map(_._2.map(_._4).max)
    assert(packsPerSrc.forall(_ >= 1L), s"budget never bound: $packsPerSrc")
    assert(got.exists(_._5 > 0L), "no doc ever started mid-pack")
    // encode + tokenize rode ONE memoized training
    assert(graft.operators.BpeTrain.trainMemo.clear() >= 1)
  }

  test("bpe_train equals the literal greedy merger on random corpora") {
    val genCase = for {
      vocab <- Gen.choose(2, 5)
      nDocs <- Gen.choose(1, 25)
      docs <- Gen.listOfN(nDocs,
        Gen.choose(0, 8).flatMap(len =>
          Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"t$i"))))
      k <- Gen.choose(1, 6)
    } yield (docs, k)
    val prop = Prop.forAll(genCase) { case (docs, k) =>
      run(docs, k) == refBpe(docs, k)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
  }
}
