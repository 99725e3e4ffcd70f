package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** `wordpiece_train` — the THIRD production tokenizer family
  * (Schuster & Nakajima's WordPiece, the BERT tokenizer; joins the
  * word-level BPE merges of [[BpeTrain]] and the unigram-LM EM of
  * [[UnigramTrain]]): char-level merges over words, scored by the
  * LIKELIHOOD ratio count(ab) / (count(a)·count(b)) instead of BPE's
  * raw pair count — WordPiece merges the pair whose union most
  * improves corpus likelihood under a unigram factorization, which
  * prefers a moderately-frequent pair of RARE units over a frequent
  * pair of ubiquitous ones (the distinction WordpieceSpec plants).
  *
  * Training state is the DISTINCT-WORD frequency table, not the
  * corpus ([[UnigramTrain]]'s discipline and the real trainer's
  * shape — HuggingFace/SentencePiece trainers operate on word counts):
  * the one corpus-proportional stage is the (word, wf) aggregate;
  * every merge iteration runs over the Heaps-sublinear distinct-word
  * frame (SCALE.md: CONSTANT on the saturated fixture while tokens
  * grow 10×). The iterations run in [[BpeTrain.mergeLoop]] (its
  * engine-exact boundary-flanked re-segmentation, here at char
  * granularity — normText chars can never contain the control-char
  * markers); this trainer supplies only the score: TWO keyed
  * aggregates (unit counts + adjacent-pair counts, both wf-weighted)
  * ranked for the loop's 1-row argmax collect. The word pass, the
  * per-doc encode and the fertility tail are [[UnigramTrain]]'s
  * shared ones.
  *
  * Determinism (SURVEY §5.3): the score is exact fixed-point —
  * score_fp = (c_ab · 10¹²) div (c_a · c_b) — ties broken (c DESC,
  * a ASC, b ASC). The oracle unrolls the k iterations as chained CTEs
  * re-deriving every argmax independently. Overflow discipline
  * (ADVICE r16): the numerator c_ab·10¹² is BIGINT-safe only while
  * c_ab ≤ ~9.2e6 (true at every fixture SF: ≤1.6e6 at sf0.1), and the
  * DENOMINATOR c_a·c_b is BIGINT-safe only while unit counts stay
  * under ~3e9 — on a larger corpus Spark's non-ANSI BIGINT would wrap
  * SILENTLY and could pick a wrong argmax while DuckDB errors loudly.
  * So the engine computes the score in DECIMAL(38,0) (exact, same
  * floored quotient, headroom to ~1e26-weighted pair counts), keeping
  * the engine/oracle pair either both-correct or loudly divergent,
  * never silently wrong.
  */
object WordpieceTrain {

  private[graft] val Sep = BpeTrain.Sep
  private[graft] val MergeJ = BpeTrain.MergeJ
  private[graft] val ScoreScale = 1000000000000L // 1e12 fixed point
  private[graft] val DefaultK = 6

  /** Memo of a finished training — (merge table rows, final
    * (word, wf, s) state frame — checkpointed, the learned vocabulary)
    * keyed by k: train/encode/fertility are three views of ONE
    * training, and the encoders read the vocabulary without a job.
    */
  private val trainMemo = graft.Memo[(Seq[(Int, String, String, Long,
    Long, Long, Long)], DataFrame, Seq[String])]()

  private def cachedTraining(spark: SparkSession, sfDir: String, k: Int)
      : (Seq[(Int, String, String, Long, Long, Long, Long)], DataFrame,
        Seq[String]) =
    trainMemo(spark, sfDir, k) {
      val (merges, st) = trainWords(wordCounts(spark, sfDir), k)
      (merges, st, vocabOf(merges, st))
    }

  /** Bench-warmup hook (the warmBpe/warmUnigram discipline): the one
    * memoized training feeds three timed views; its cost reports as
    * warm_ms.wordpiece, never hidden.
    */
  private[graft] def warmWordpiece(spark: SparkSession,
      sfDir: String): Unit = {
    cachedTraining(spark, sfDir, DefaultK)
    ()
  }

  /** ONE corpus pass: the qualifying distinct-word frequency table. */
  private[graft] def wordCounts(spark: SparkSession,
      sfDir: String): DataFrame =
    UnigramTrain.qualifyingWords(Tables.documents(spark, sfDir), Nil)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))

  /** The chars of word `w`, in order. */
  private def charsOf(w: Column): Column =
    transform(sequence(lit(1), length(w)), j => w.substr(j, lit(1)))

  /** The k-iteration likelihood-merge loop over an explicit (word, wf)
    * frame — the planted-corpus harness for WordpieceSpec. Returns
    * (merge rows (step, lhs, rhs, pair_count, unit_lhs, unit_rhs,
    * score_fp), final state — checkpointed, caller releases).
    */
  private[graft] def trainWords(words: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long, Long, Long, Long)], DataFrame) = {
    val (top, st) = BpeTrain.mergeLoop(
      words.select(col("word"), col("wf"), charsOf(col("word")).as("u")),
      Seq("word", "wf"), k) { (base, pairs) =>
      // wf-weighted unit counts — the likelihood denominator
      val uc = base
        .select(col("wf"), explode(col("t")).as("u"))
        .groupBy(col("u")).agg(sum(col("wf")).as("c"))
      // wf-weighted adjacent-pair counts — the numerator
      pairs.groupBy(col("a"), col("b")).agg(sum(col("wf")).as("c"))
        .join(uc.select(col("u").as("a"), col("c").as("ua")), Seq("a"))
        .join(uc.select(col("u").as("b"), col("c").as("ub")), Seq("b"))
        .select(col("a"), col("b"), col("c"), col("ua"), col("ub"),
          // DECIMAL(38,0) operands: the BIGINT form wraps silently on
          // corpora past ~3e9 units (header note) — decimal is exact
          // and div floors identically, so fixture scores are bit-equal
          expr(s"(CAST(c AS DECIMAL(38,0)) * $ScoreScale) div " +
            "(CAST(ua AS DECIMAL(38,0)) * ub)").as("score_fp"))
        .orderBy(col("score_fp").desc, col("c").desc,
          col("a").asc, col("b").asc)
    }
    (top.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }, st)
  }

  /** The learned vocabulary: every corpus character plus the k merged
    * spans — bounded (alphabet + k), the bounded-collect class. The
    * greedy encoder and its oracle both read exactly this set.
    */
  private def vocabOf(
      merges: Seq[(Int, String, String, Long, Long, Long, Long)],
      st: DataFrame): Seq[String] = {
    // single chars come from the WORDS, not the final state: a char
    // absorbed into merges in every occurrence would vanish from the
    // state's units, and the greedy fold must stay TOTAL (some vocab
    // piece matches at every position)
    val chars = st.select(explode(charsOf(col("word"))).as("u"))
      .distinct().collect().map(_.getString(0)).toSeq
    (chars ++ merges.map(m => (m._2 + m._3).replace(MergeJ, ""))).distinct
  }

  def wordpieceTrain(spark: SparkSession, sfDir: String,
      k: Int = DefaultK): DataFrame = {
    val (merges, _, _) = cachedTraining(spark, sfDir, k)
    import spark.implicits._
    merges.map { case (step, a, b, c, ua, ub, s) =>
      (step, a.replace(MergeJ, ""), b.replace(MergeJ, ""), c, ua, ub, s)
    }.toDF("step", "lhs", "rhs", "pair_count", "unit_lhs", "unit_rhs",
        "score_fp")
      .orderBy(col("step").asc)
  }

  /** Greedy longest-match-first segmentation of `w` under a bounded
    * vocabulary — WordPiece's ACTUAL inference rule (maximal munch),
    * which is NOT merge replay: a span learned late can be unreachable
    * by replay order yet preferred by longest-match, and vice versa
    * (WordpieceSpec plants the divergence). One fold step per char
    * bound; every step consumes ≥ 1 char because all corpus single
    * chars are in the vocab (so the same-corpus encode never UNKs —
    * the position-independent-vocab simplification is documented
    * here: continuation `##` is presentational, not a separate vocab
    * namespace).
    */
  private[graft] def greedyPieces(w: Column,
      vocab: Seq[String]): Column = {
    val maxLen = vocab.map(_.length).max
    val m = typedLit(vocab.map(_ -> 1).toMap)
    aggregate(sequence(lit(1), length(w)),
      struct(lit(0).as("i"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val i = acc.getField("i"); val ps = acc.getField("ps")
        val pick = (maxLen to 1 by -1).map { l =>
          when(i + l <= length(w) &&
            element_at(m, w.substr(i + 1, lit(l))).isNotNull, lit(l))
        }.reduce((x, y) => coalesce(x, y))
        when(i >= length(w), acc).otherwise(
          struct((i + pick).as("i"),
            array_append(ps, w.substr(i + 1, pick)).as("ps")))
      },
      acc => acc.getField("ps"))
  }

  /** The shared per-word greedy segmentation frame (word, wf, pieces)
    * — vocabulary-sized downstream joins key on `word`, the
    * unigram_encode shape.
    */
  private def segFrame(spark: SparkSession, sfDir: String,
      k: Int): DataFrame = {
    val (_, st, vocab) = cachedTraining(spark, sfDir, k)
    st.select(col("word"), col("wf"),
      greedyPieces(col("word"), vocab).as("pieces"))
  }

  /** `wordpiece_encode` — the inference half: per-doc word count,
    * piece count, and the encoded surface with `##` continuation
    * marks, reading order preserved ([[UnigramTrain.encodeDocs]]).
    */
  def wordpieceEncode(spark: SparkSession, sfDir: String,
      k: Int = DefaultK): DataFrame =
    UnigramTrain.encodeDocs(spark, sfDir, segFrame(spark, sfDir, k),
      array_join(transform(col("pieces"),
        (p, j) => when(j === 0, p).otherwise(concat(lit("##"), p))), "_"))

  /** `wordpiece_fertility` — per-language pieces-per-word (the
    * bpe_fertility/unigram_fertility shape): wf-weighted piece totals
    * from the same memoized training ([[UnigramTrain.fertility]]).
    */
  def wordpieceFertility(spark: SparkSession, sfDir: String,
      k: Int = DefaultK): DataFrame =
    UnigramTrain.fertility(UnigramTrain.langWordCounts(spark, sfDir),
      segFrame(spark, sfDir, k)
        .select(col("word"), size(col("pieces")).as("np")))
}
