package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.WordpieceTrain

/** The WordPiece family: likelihood-scored merges (the property that
  * distinguishes it from BPE) and greedy longest-match inference (the
  * property that distinguishes it from merge replay).
  */
class WordpieceSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("merge choice is likelihood, not raw count: a moderately-" +
      "frequent pair of rare units beats a frequent pair of ubiquitous ones") {
    // pair (a,b) occurs 10 times but a and b are inflated to 110 each
    // by single-char words (which contribute NO pairs); pair (x,y)
    // occurs 8 times and x, y occur nowhere else. Raw-count BPE picks
    // (a,b) (10 > 8); WordPiece's score picks (x,y):
    //   (a,b): 10/(110*110) = 8.3e-4   (x,y): 8/(8*8) = 0.125
    val words = Seq(("ab", 10L), ("xy", 8L), ("a", 100L), ("b", 100L))
      .toDF("word", "wf")
    val (merges, st) = WordpieceTrain.trainWords(words, k = 1)
    graft.operators.GraphOps.unpersistCheckpoint(st)
    assert(merges.size === 1)
    val m = merges.head
    assert((m._2, m._3) === ("x", "y"), s"expected the rare pair, got $m")
    assert(m._4 === 8L) // its pair count really is the SMALLER one
    // exact fixed-point score: (8 * 1e12) div (8 * 8) = 1.25e11
    assert(m._7 === 125000000000L, s"score_fp drifted: $m")
  }

  test("greedy longest-match is maximal munch, NOT merge replay; " +
      "segmentation is total and round-trips") {
    // vocab {ab, bcd}: greedy on "abcd" takes ab first and ends at
    // [ab, c, d]; a merge REPLAY that built bcd (b+c, then bc+d) would
    // give [a, bcd] — the documented divergence
    val vocab = Seq("a", "b", "c", "d", "ab", "bcd")
    val got = Seq("abcd").toDF("w")
      .select(WordpieceTrain.greedyPieces(col("w"), vocab).as("ps"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("ab", "c", "d"), s"got $got")
    assert(got !== Seq("a", "bcd"))
    // randomized totality + longest-match property vs a Scala reference
    def ref(w: String, voc: Set[String], maxLen: Int): Seq[String] = {
      var i = 0; val out = Seq.newBuilder[String]
      while (i < w.length) {
        val l = (math.min(maxLen, w.length - i) to 1 by -1)
          .find(n => voc.contains(w.substring(i, i + n))).get
        out += w.substring(i, i + l); i += l
      }
      out.result()
    }
    val rnd = new scala.util.Random(16)
    val voc2 = Seq("p", "q", "r", "s", "pq", "qr", "rs", "pqr", "srs")
    val wordsR = (1 to 60).map(_ =>
      (1 to (3 + rnd.nextInt(10))).map(_ => "pqrs"(rnd.nextInt(4)))
        .mkString)
    val outR = wordsR.toDF("w")
      .select(col("w"), WordpieceTrain.greedyPieces(col("w"), voc2).as("ps"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    outR.foreach { case (w, ps) =>
      assert(ps.mkString("") === w, s"round trip broke on $w: $ps")
      assert(ps === ref(w, voc2.toSet, voc2.map(_.length).max),
        s"greedy drifted from maximal munch on $w: $ps")
    }
  }

  test("with the training memo warm, constructing wordpiece_encode and " +
      "wordpiece_fertility starts no Spark job (the vocabulary is memoized)") {
    val sf = TestSpark.sf
    WordpieceTrain.wordpieceTrain(spark, sf).collect() // warm the memo
    val (_, jobs) = SpecUtil.jobsDuring(spark) {
      WordpieceTrain.wordpieceEncode(spark, sf)
      WordpieceTrain.wordpieceFertility(spark, sf)
    }
    assert(jobs === 0L, s"construction started $jobs job(s)")
  }

  test("fixture training: merges are non-trivial, encode covers every " +
      "qualifying doc, fertility >= 1 per language") {
    val sf = TestSpark.sf
    val tr = WordpieceTrain.wordpieceTrain(spark, sf).collect()
    assert(tr.length >= 1 && tr.length <= 6)
    // scores are positive fixed-point and steps are 1..n
    assert(tr.map(_.getInt(0)).toSeq === (1 to tr.length))
    assert(tr.forall(_.getLong(6) > 0L))
    val enc = WordpieceTrain.wordpieceEncode(spark, sf)
    val rows = enc.agg(count(lit(1)), sum(col("n_pieces")),
      sum(col("n_words"))).collect().head
    assert(rows.getLong(0) > 0)
    // pieces never exceed per-word char counts and at least match words
    assert(rows.getLong(1) >= rows.getLong(2))
    val fert = WordpieceTrain.wordpieceFertility(spark, sf).collect()
    assert(fert.nonEmpty)
    fert.foreach(r => assert(r.getDouble(3) >= 1.0,
      s"fertility below 1 piece/word: $r"))
  }
}
