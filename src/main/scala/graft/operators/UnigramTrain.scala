package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** `unigram_train` — unigram-LM (SentencePiece-family) tokenizer
  * training (VERDICT r14 #4: BPE is declared; this is the other
  * production tokenizer family — Kudo 2018's subword-regularization
  * trainer, whose vocabulary is SELECTED by EM over a seeded candidate
  * set rather than GROWN by greedy merges). The deterministic integer
  * formulation here:
  *
  *  1. SEED: every character substring of length 1–3 of every distinct
  *     corpus word, counted with corpus word frequency; the multi-char
  *     candidates cap to the top 64 by (count DESC, piece ASC), and
  *     single chars are always kept (full segmentation coverage —
  *     every DP position is reachable, so Viterbi never dead-ends).
  *  2. SCORE: unigram log-probabilities against the seed totals,
  *     s(p) = round(ln(c(p)/total), 6) in micro-units — the
  *     `lm_doc_score` fixed-point discipline (ln rounded to 6 dp
  *     matches across engines; DECIMAL(18,6)×1e6 → BIGINT is exact),
  *     so DP sums are pure BIGINT adds with no float drift.
  *  3. E-STEP (Viterbi): each distinct word segments to maximize the
  *     summed piece scores — a row-local DP over char positions with a
  *     FIXED tie rule (candidates evaluated shortest-piece-first,
  *     replaced only on STRICT improvement), then a back-pointer walk
  *     recovers the argmax segmentation.
  *  4. M-STEP/PRUNE: pieces recount under the Viterbi segmentation
  *     (weighted by word frequency); candidates the EM never uses drop
  *     from the table — the prune half of EM-prune (further rounds
  *     re-score and re-segment; one round is the declared contract).
  *
  * The DuckDB oracle replays all four stages: the DP as a recursive
  * CTE carrying (dp, back) LISTS through the recursion (the
  * ts_forecast_seasonal technique) and the backtrace as a second
  * recursive walk — every score, comparison, and tie-break re-derived
  * independently.
  *
  * Scale shape (100 TB corpus): ONE corpus pass builds the (lang,
  * word) frequency aggregate; everything after runs on DISTINCT words
  * (vocabulary-sized — sublinear in the corpus by Heaps' law, 31 words
  * on the fixture), candidate generation explodes substrings of
  * distinct words only, the score table is bounded (≤ 64 + alphabet —
  * collected as a map literal, the bounded-collect class), and the DP
  * is row-local per distinct word. Qualification: words longer than 24
  * chars are out of training scope (bounds the oracle recursion depth;
  * mirrored in SQL — never binding on the fixture, max word length 8).
  *
  * The word-table tokenizers ([[WordpieceTrain]] too) share three
  * pieces written here once: [[qualifyingWords]] (the normText word
  * pass and its length qualification), [[encodeDocs]] (the per-doc
  * encode reassembly) and [[fertility]] (the 4dp pieces-per-word tail).
  */
object UnigramTrain {

  private val MaxWordLen = 24
  private val SeedMulti = 64

  /** Memo of one finished training — (score table rows, per-word
    * segmentation frame): `unigram_train` and `unigram_fertility` are
    * two views of ONE training.
    */
  private val trainMemo =
    graft.Memo[(Seq[(String, Long, Long)], DataFrame)]()

  private def cachedTraining(spark: SparkSession, sfDir: String)
      : (Seq[(String, Long, Long)], DataFrame) =
    trainMemo(spark, sfDir)(trainWords(langWordCounts(spark, sfDir)))

  /** ONE corpus pass: (lang, word, wfl) frequency aggregate under the
    * normText word model and the length qualification.
    */
  private[graft] def langWordCounts(spark: SparkSession,
      sfDir: String): DataFrame =
    qualifyingWords(Tables.documents(spark, sfDir), Seq(col("lang")))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("wfl"))

  /** The qualifying words of `docs`: one (keep…, word) row per non-empty
    * normText word of at most [[MaxWordLen]] chars, with its position
    * `pos` in the doc before `word` when `withPos`.
    */
  private[graft] def qualifyingWords(docs: DataFrame, keep: Seq[Column],
      withPos: Boolean = false): DataFrame = {
    val words = split(TextOps.normText(col("text")), " ")
    val word =
      if (withPos) posexplode(words).as(Seq("pos", "word"))
      else explode(words).as("word")
    docs.select(keep :+ word: _*)
      .filter(col("word") =!= "" && length(col("word")) <= MaxWordLen)
  }

  /** The trainer over an explicit (lang, word, wfl) aggregate — the
    * planted-corpus harness for UnigramSpec. Returns (score table rows
    * (piece, seed_count, score_fp), per-word segmentation frame
    * (word, pieces array) — checkpointed, caller releases via memo).
    */
  private[graft] def trainWords(langWords: DataFrame)
      : (Seq[(String, Long, Long)], DataFrame) = {
    val words = langWords.groupBy(col("word"))
      .agg(sum(col("wfl")).as("wf"))
      .localCheckpoint(true)
    // seed candidates: substrings 1..3 of distinct words, corpus-
    // frequency weighted
    val cand = words
      .select(col("wf"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        pos => filter(
          transform(array(lit(1), lit(2), lit(3)), n =>
            when(pos + n - 1 <= length(col("word")),
              col("word").substr(pos, n))),
          x => x.isNotNull)))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("c"))
    val vocab = cand.filter(length(col("piece")) === 1)
      .unionByName(cand.filter(length(col("piece")) >= 2)
        .orderBy(col("c").desc, col("piece").asc).limit(SeedMulti))
      .localCheckpoint(true)
    // scores in Spark SQL so ln/round match the oracle's engine
    // arithmetic (the lm_doc_score 6dp-ln precedent); vocab is bounded
    // (<= 64 + alphabet), so the collect is the bounded-collect class
    val total = vocab.agg(sum(col("c"))).head().getLong(0)
    val scored = vocab.select(col("piece"), col("c"),
        (round(log(col("c").cast("double") / total.toDouble), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (-r._2, r._1)).toSeq
    val scoreMap = scored.map(r => (r._1, r._3)).toMap
    val m = typedLit(scoreMap)
    val w = col("word")
    // Viterbi DP: dp[k+1] = best score for the length-k prefix; back
    // stores the prefix length before the chosen piece. Candidates
    // evaluated shortest-first, strict > replaces (the pinned tie rule)
    val dp0 = struct(array(lit(0L)).as("dp"),
      array(lit(0).cast("int")).as("back"))
    val vit = aggregate(sequence(lit(1), length(w)), dp0, (acc, p) => {
      val dp = acc.getField("dp"); val back = acc.getField("back")
      val v1 = element_at(dp, p) + element_at(m, w.substr(p, lit(1)))
      val s2 = element_at(m, w.substr(p - 1, lit(2)))
      val v2 = when(p >= 2 && s2.isNotNull, element_at(dp, p - 1) + s2)
      val s3 = element_at(m, w.substr(p - 2, lit(3)))
      val v3 = when(p >= 3 && s3.isNotNull, element_at(dp, p - 2) + s3)
      val b12 = when(v2.isNotNull && v2 > v1, v2).otherwise(v1)
      val j12 = when(v2.isNotNull && v2 > v1, p - 2).otherwise(p - 1)
      val best = when(v3.isNotNull && v3 > b12, v3).otherwise(b12)
      val bj = when(v3.isNotNull && v3 > b12, p - 3).otherwise(j12)
      struct(array_append(dp, best).as("dp"),
        array_append(back, bj.cast("int")).as("back"))
    })
    // backtrace: walk the pointers from position len; one fold step per
    // char bound suffices (each step consumes >= 1 char or no-ops)
    val pieces = aggregate(sequence(lit(1), length(w)),
      struct(length(w).cast("int").as("i"),
        col("vb").getField("back").as("back"),
        array().cast("array<string>").as("ps")),
      (acc, _) => {
        val i = acc.getField("i"); val back = acc.getField("back")
        val j = element_at(back, i + 1)
        when(i > 0, struct(j.as("i"), back.as("back"),
          array_append(acc.getField("ps"),
            w.substr(j + 1, i - j)).as("ps")))
          .otherwise(acc)
      },
      // the walk runs end-to-start; restore reading order
      acc => reverse(acc.getField("ps")))
    val seg = words
      .withColumn("vb", vit)
      .withColumn("pieces", pieces)
      .select(col("word"), col("wf"), col("pieces"))
      .localCheckpoint(true)
    // seg is now an independent LogicalRDD: the intermediate words/vocab
    // checkpoint blocks are superseded — release them eagerly instead of
    // pinning two extra block sets per training until GC (ADVICE r15;
    // the GraphOps fixpoint-loop release discipline).
    GraphOps.unpersistCheckpoint(words)
    GraphOps.unpersistCheckpoint(vocab)
    (scored, seg)
  }

  /** Bench-warmup hook (the warmBpe discipline): run the memoized
    * training once so the two timed views measure their read-side
    * plans only.
    */
  private[graft] def warmUnigram(spark: SparkSession, sfDir: String): Unit = {
    cachedTraining(spark, sfDir)
    ()
  }

  /** `unigram_train` — the trained piece table: seed candidates the
    * Viterbi EM actually uses, with seed counts, EM counts, and the
    * fixed-point unigram scores.
    */
  def unigramTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val (scored, seg) = cachedTraining(spark, sfDir)
    import spark.implicits._
    val scoreDf = scored.toDF("piece", "seed_count", "score_fp")
    val em = seg
      .select(col("wf"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("em_count"))
    scoreDf.join(em, "piece")
      .select(col("piece"), col("seed_count"), col("em_count"),
        col("score_fp"))
      .orderBy(col("em_count").desc, col("piece").asc)
  }

  /** `unigram_encode` — the INFERENCE half: the corpus re-segmented by
    * the trained unigram vocabulary (what the tokenizer does to every
    * shard after training; `bpe_encode`'s counterpart for this
    * family). Per doc: qualifying word count, total piece count, and
    * the encoded surface (pieces joined by `_` within a word, words by
    * space — reading order restored via a position sort, never
    * collection order). Third view of the ONE memoized training.
    */
  def unigramEncode(spark: SparkSession, sfDir: String): DataFrame =
    encodeDocs(spark, sfDir, cachedTraining(spark, sfDir)._2,
      array_join(col("pieces"), "_"))

  /** The per-doc encode of a (word, pieces) segmentation frame `seg`,
    * each word's surface written by `enc` (an expression over
    * `pieces`): per doc, the qualifying word count `n_words`, the piece
    * count `n_pieces` and the word surfaces joined by space in reading
    * order as `encoded`.
    *
    * Scale shape: the corpus explodes to (doc_id, pos, word) rows once,
    * joins the DISTINCT-WORD segmentation frame KEYED on word
    * (vocabulary-sized right side — a keyed join, not a broadcast
    * literal, so an arbitrarily large vocabulary still co-locates), and
    * one doc_id-keyed aggregate restores reading order by sorting the
    * collected (pos, enc) structs.
    */
  private[graft] def encodeDocs(spark: SparkSession, sfDir: String,
      seg: DataFrame, enc: Column): DataFrame = {
    val segStr = seg.select(col("word"),
      size(col("pieces")).cast("long").as("np"), enc.as("enc"))
    qualifyingWords(Tables.documents(spark, sfDir), Seq(col("doc_id")),
        withPos = true)
      .join(segStr, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("enc")))),
          s => s.getField("enc")), " ").as("encoded"))
      .orderBy(col("doc_id").asc)
  }

  /** `unigram_fertility` — pieces-per-word under the trained unigram
    * segmentation, per language (the `bpe_fertility` counterpart for
    * the other tokenizer family): how many units the tokenizer spends
    * per word of each language — THE publishable tokenizer-quality
    * number.
    */
  def unigramFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, seg) = cachedTraining(spark, sfDir)
    fertility(langWordCounts(spark, sfDir),
      broadcast(seg.select(col("word"), size(col("pieces")).as("np"))))
  }

  /** Per-language fertility of (lang, word, wfl) word counts under a
    * (word, np) piece-count frame: words, pieces and pieces-per-word at
    * 4 dp via the corpus_report exact-integer rounding trick (no float
    * division on the hash path).
    */
  private[graft] def fertility(langWords: DataFrame,
      np: DataFrame): DataFrame =
    langWords.join(np, "word")
      .groupBy(col("lang"))
      .agg(sum(col("wfl")).as("n_words"),
        sum(col("np").cast("long") * col("wfl")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        (expr("(n_pieces * 20000 + n_words) div (2 * n_words)")
          .cast("double") / 10000).as("fertility"))
      .orderBy(col("lang").asc)
}
