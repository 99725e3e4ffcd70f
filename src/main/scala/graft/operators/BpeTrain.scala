package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** `bpe_train` — byte-pair-encoding-style merge training (Sennrich et
  * al.'s BPE applied at the word level): k iterations of "count every
  * adjacent token pair, pick the most frequent, merge its occurrences
  * greedily left-to-right" — the tokenizer-CONSTRUCTION step that
  * `vocab_topk` only approximates. The output is the merge table
  * ((step, lhs, rhs, pair_count)) a tokenizer trainer publishes; lhs/
  * rhs are surface forms (earlier merges appear space-joined).
  *
  * Iteration shape (the dedup_cluster iterative dataflow): each step is
  * ONE distributed pair-count aggregation (explode adjacent pairs —
  * row-local, no window — then a keyed count) + ONE row-local
  * re-segmentation map over the state; the argmax is a 1-row
  * `limit(1).collect()` per step — the bounded-collect class (k rows
  * total). State is eagerly localCheckpoint'd per step, so lineage
  * stays one-step deep (the graph_pagerank_dist treatment). At 100 TB
  * the cost is k sequential corpus passes — inherent to BPE (every
  * merge changes the segmentation the next count sees); production
  * trainers bound it by sampling, which composes here as
  * `bpeTrainDocs(sampleHash(docs), k)`.
  *
  * Determinism (SURVEY §5.3): counts are exact integers; the argmax
  * tie-breaks (count DESC, lhs ASC, rhs ASC) on binary string order —
  * identical in both engines. Re-segmentation is engine-exact by
  * construction: writing U for the u001f boundary char and R for the
  * u001e merge-join char, the state string carries DOUBLE boundaries
  * (`UU a UU b UU`), and a merge of pair (a, b) replaces `U a UU b U`
  * with `U a R b U` — the match takes one boundary char from each
  * flank and the replacement puts it back, so boundaries stay exactly
  * double forever, while the flanking chars make a token PREFIX or
  * SUFFIX collision impossible. Plain `replace()` is left-to-right
  * non-overlapping and resumes scanning right after the replacement
  * in both engines, which reproduces greedy BPE exactly: [a,a,a]
  * merges to [aa, a] (the overlap is consumed), and [a,b,a,b] merges
  * both occurrences (the restored flank seeds the next match). Tokens
  * are normText words, so they cannot contain U or R. The DuckDB
  * oracle unrolls the k iterations as chained CTEs (the pagerank
  * technique) and re-derives every argmax independently.
  *
  * The loop itself is [[mergeLoop]], shared with [[WordpieceTrain]]
  * (which merges chars of words by a likelihood score); [[units]] is
  * the one split of a state string into its units.
  */
object BpeTrain {

  /** Token boundary (doubled between tokens) and merge-join chars —
    * control characters normText output can never contain. ONE
    * definition, mirrored character-for-character in the oracle SQL.
    */
  private[graft] val Sep = "\u001f"
  private[graft] val MergeJ = "\u001e"

  /** Memo of a finished training run — (merge table, final
    * segmentation state) — keyed by k: `bpe_train` (the merge table)
    * and `bpe_encode` (the segmented corpus) are two views of ONE
    * training, so the second consumer must not re-run the k
    * iterations. The state frame is already localCheckpoint'd (lineage
    * one step deep).
    */
  private[graft] val trainMemo =
    graft.Memo[(Seq[(Int, String, String, Long)], DataFrame)]()

  private def cachedTraining(spark: SparkSession, sfDir: String,
      k: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    trainMemo(spark, sfDir, k)(trainDocs(Tables.documents(spark, sfDir), k))

  def bpeTrain(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val (merges, _) = cachedTraining(spark, sfDir, k)
    mergeTable(spark, merges)
  }

  /** Bench-warmup hook: run the memoized training once so the three
    * timed views of it (`bpe_train`, `bpe_encode`, `bpe_fertility`)
    * measure their own read-side plans, not the 17 inherently
    * sequential training passes — the `warmMemos`/`warmLm` discipline
    * (cost emitted as warm_ms.bpe, never hidden).
    */
  private[graft] def warmBpe(spark: SparkSession, sfDir: String): Unit = {
    cachedTraining(spark, sfDir, 8)
    ()
  }

  /** `bpe_encode` — the INFERENCE half: the corpus re-segmented by the
    * trained merge table (what a tokenizer does to every shard after
    * training). Emitted per doc: the unit count before/after merging
    * and the encoded surface (merge joins shown as `_`) — the
    * compression a k-merge vocabulary buys. Shares ONE training with
    * `bpe_train` via the memo (two views of one computation — the
    * dedup_cluster / dedup_cluster_stats discipline); the
    * re-segmentation itself already happened inside the training loop
    * (the final state IS the encoded corpus), so this query adds only
    * a row-local projection.
    */
  def bpeEncode(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val (_, state) = cachedTraining(spark, sfDir, k)
    state.select(col("doc_id"), units.as("u"))
      .select(col("doc_id"),
        size(filter(col("u"),
          x => x.contains(MergeJ))).as("n_merged_units"),
        size(col("u")).as("n_units"),
        array_join(transform(col("u"),
          x => call_function("replace", x, lit(MergeJ), lit("_"))), " ")
          .as("encoded"))
      .orderBy(col("doc_id").asc)
  }

  /** `bpe_fertility` — per-language tokenizer fertility from the SAME
    * memoized training: docs, post-merge unit totals, and the
    * chars-per-unit compression ratio (the dashboard number a tokenizer
    * team watches per language — a language whose fertility stays near
    * 1 char/unit is under-served by the learned vocabulary). Third view
    * of the one training (after `bpe_train`/`bpe_encode`): a row-local
    * unit count over the checkpointed state, one keyed join to the
    * documents dim for lang/n_chars, one language-keyed aggregate —
    * report is language-count-sized. All sums are exact BIGINT; the
    * ratio is a single IEEE division at the output boundary.
    */
  def bpeFertility(spark: SparkSession, sfDir: String,
      k: Int = 8): DataFrame = {
    val (_, state) = cachedTraining(spark, sfDir, k)
    val perDoc = state.select(col("doc_id"), units.as("u"))
      .select(col("doc_id"),
        size(col("u")).cast("long").as("nu"),
        size(filter(col("u"), x => x.contains(MergeJ)))
          .cast("long").as("nm"))
    perDoc
      .join(Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nu")).as("total_units"),
        sum(col("nm")).as("merged_units"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("lang"), col("n_docs"), col("total_units"),
        col("merged_units"), col("total_chars"),
        (col("total_chars").cast("double") /
          col("total_units").cast("double")).as("chars_per_unit"))
      .orderBy(col("lang").asc)
  }

  /** `pipeline_tokenize` — the tokenize-and-pack capstone composing
    * the three individually-declared steps into the production shape:
    * `bpe_train` (the SAME memoized k-iteration training — this query
    * adds zero training passes, the fourth view of one memo),
    * `bpe_encode`'s post-merge unit counts per document, and
    * `pack_sequences`' fixed-budget greedy packing — but packing BPE
    * UNITS, not whitespace tokens. That swap is the composition point
    * a real pipeline cares about: sequence budgets are TOKENIZER
    * units, and a whitespace-packed corpus mis-sizes every sequence by
    * the merge rate. Boundary rule is pack_sequences' documented one
    * (a document belongs to floor(cum_before / budget) — the pack its
    * first unit falls in; a straddling doc is not split).
    *
    * Scale shape: after the memoized training this is ONE row-local
    * unit-count projection + a doc_id-keyed join + pack_sequences'
    * per-source window ([[TextOps.packBySource]]).
    */
  def pipelineTokenize(spark: SparkSession, sfDir: String, k: Int = 8,
      budget: Int = 512): DataFrame = {
    val (_, state) = cachedTraining(spark, sfDir, k)
    TextOps.packBySource(
      state.select(col("doc_id"), size(units).as("n_tok"))
        .join(Tables.documents(spark, sfDir).select("doc_id", "source"),
          Seq("doc_id")),
      "n_tok", budget)
  }

  private def mergeTable(spark: SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges
      .map { case (step, a, b, c) =>
        (step, a.replace(MergeJ, " "), b.replace(MergeJ, " "), c)
      }
      .toDF("step", "lhs", "rhs", "pair_count")
      .orderBy(col("step").asc)
  }

  /** Core of [[bpeTrain]] over any (doc_id, text) frame. */
  def bpeTrainDocs(docs: DataFrame, k: Int): DataFrame = {
    val (merges, state) = trainDocs(docs, k)
    GraphOps.unpersistCheckpoint(state)
    mergeTable(docs.sparkSession, merges)
  }

  /** The k-iteration training loop over the docs' non-empty normText
    * tokens, pairs scored by raw count: returns (merge table, final
    * segmentation state (doc_id, s) — checkpointed, caller releases).
    */
  private def trainDocs(docs: DataFrame,
      k: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val toks = filter(split(TextOps.normText(col("text")), " "),
      t => t =!= lit(""))
    val (top, st) = mergeLoop(
      docs.select(col("doc_id"), toks.as("u")).filter(size(col("u")) >= 1),
      Seq("doc_id"), k) { (_, pairs) =>
      pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
    }
    (top.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getString(0), r.getString(1), r.getLong(2))
    }, st)
  }

  /** The units of a state string `s`: split on [[Sep]], empties dropped. */
  private[graft] def units: Column =
    filter(split(col("s"), Sep), x => x =!= lit(""))

  /** The boundary-flanked merge loop (object scaladoc). `seed` holds the
    * `keep` columns and each row's initial units `u`; the state is
    * (keep…, s). Each of up to k steps hands `argmax` the state's units
    * (keep…, t) and its adjacent pairs (keep…, a, b); `argmax` scores
    * them and orders the winner first, with `a` and `b` its first two
    * columns. The winning row is recorded, its pair is merged with the
    * flanked `replace`, and the superseded state's checkpoint is
    * released. Stops early when no row has two units left. Returns (the
    * winning rows in step order, the final state — checkpointed, caller
    * releases).
    */
  private[graft] def mergeLoop(seed: DataFrame, keep: Seq[String], k: Int)(
      argmax: (DataFrame, DataFrame) => DataFrame): (Seq[Row], DataFrame) = {
    val ss = Sep + Sep
    val keepCols = keep.map(col)
    var st = seed
      .select(keepCols :+
        concat(lit(ss), array_join(col("u"), ss), lit(ss)).as("s"): _*)
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer[Row]()
    var exhausted = false
    while (merges.size < k && !exhausted) {
      val base = st.select(keepCols :+ units.as("t"): _*)
      val pairs = base
        .filter(size(col("t")) >= 2) // sequence(1, 0) would descend
        .select(keepCols :+ explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "j -> named_struct('a', element_at(t, j), " +
            "'b', element_at(t, j + 1)))")).as("p"): _*)
        .select(keepCols ++ Seq(col("p.a").as("a"), col("p.b").as("b")): _*)
      val top = argmax(base, pairs).limit(1).collect()
      if (top.isEmpty) exhausted = true // no row has a pair left
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += top(0)
        // the pattern and replacement pass as literal COLUMNS — never
        // spliced into an expr string (token text is corpus data)
        val next = st
          .withColumn("s", call_function("replace", col("s"),
            lit(Sep + a + ss + b + Sep), lit(Sep + a + MergeJ + b + Sep)))
          .localCheckpoint(true)
        // the superseded state's blocks are dead once next is
        // materialized (eager checkpoint): release them now, not at GC
        GraphOps.unpersistCheckpoint(st)
        st = next
      }
    }
    (merges.toSeq, st)
  }
}
