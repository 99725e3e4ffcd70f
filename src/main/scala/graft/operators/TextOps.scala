package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines (SURVEY.md §2.K; mandated extension beyond the reference's
  * own surface — BASELINE.json "LLM-data-pipeline operators").
  *
  * All operators are pure relational compositions (explode / groupBy /
  * window / join): every one shuffles on a real key and none collects to
  * the driver, so they scale linearly with corpus size. Hash-based ops use
  * deterministic hashes (sha2/md5/xxhash64 with fixed seed), never
  * `rand()`.
  *
  * The curation rules are written once and shared by every operator
  * that applies them: [[qualityGate]] (the quality predicates),
  * [[keepFirst]] (keep-first exact dedup), [[curatedSurvivorsOf]] (gate
  * → dedup → decontaminate), [[newContent]] (the content-hash anti-join
  * of the incremental dedup family, also used by Streams and
  * SinkQueries), [[packBySource]] (per-source token packing, also used
  * by `pipeline_tokenize`) and [[epochCopies]] (fractional-epoch
  * copies).
  */
object TextOps {

  /** Deterministic text normalization: lowercase + collapse whitespace +
    * trim. The canonical form for exact dedup and fingerprints.
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** The exact-dedup content key: sha2-256 of the normalized text. */
  private[graft] def contentHash(text: Column): Column =
    sha2(normText(text), 256)

  /** The key-pure md5-prefix selection rank (the
    * [[graft.functions.ScalarFns.sampleHash]] idiom in its 8-hex form):
    * a pure function of the key, independent of partition layout and
    * cluster size, bit-identical to the oracle's
    * `('0x' || substring(md5(id::VARCHAR), 1, 8))::BIGINT`. ONE
    * definition shared by every budget/mix consumer — a drifted copy
    * would break cross-engine bit-identity for just that operator.
    */
  private[graft] def hashRank(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** `dedup_exact` — exact dedup on normalized text hash; the survivor is
    * the lowest doc_id per hash group (deterministic). One shuffle on the
    * 256-bit hash — at 100 TB this is the cheapest dedup pass and always
    * runs first.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    keepFirst(Tables.documents(spark, sfDir), contentHash(col("text")))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id").asc)

  /** Keep-first exact dedup: of the rows sharing `hash` (kept as `h`),
    * only the one with the lowest doc_id survives.
    */
  private def keepFirst(docs: DataFrame, hash: Column): DataFrame =
    docs.withColumn("h", hash)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id").asc)))
      .filter(col("rn") === 1)

  /** `text_stats` — per-(source,lang) corpus statistics: doc count, token
    * count, char count, average tokens per doc. Token = whitespace-split
    * word (fixture text is space-separated — FIXTURES.md).
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", wsTokens)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"))
      .orderBy(col("source").asc, col("lang").asc)

  /** `token_count` — per-document token counting two ways: whitespace
    * split and a BPE-ish segmentation count (alphanumeric runs + each
    * non-space punctuation char as its own token — the standard
    * pre-tokenizer shape, expressed without lookarounds so the oracle
    * SQL stays RE2-compatible).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        wsTokens.as("ws_tokens"),
        (size(filter(split(col("text"), "[^a-zA-Z0-9]+"),
          t => length(t) > 0)) +
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
          .as("bpeish_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id").asc)

  /** `text_tfidf` — top terms per language by tf-idf. Pure relational
    * (explode → counts → df join → log weight): deterministic, unlike
    * feature-hashing approaches, and every stage is a keyed shuffle.
    */
  def textTfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // ONE materialized Exchange on term that both consumers reuse via a
    // shared per-(doc, term) count (r11, the simsearch_hybrid
    // treatment): raw tokens fed tf and docFreq directly before, and
    // column pruning pushed DIFFERENT projections below each branch's
    // shuffle — two full scan+explode passes. The dt rollup needs the
    // identical (doc_id, lang, term) subtree in both branches (reused
    // exchange), and HashPartitioning(term) is a subset of every
    // grouping here, so dt, tf and docFreq all aggregate shuffle-free.
    val dt = docs
      .select(col("doc_id"), col("lang"),
        explode(split(normText(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .repartition(col("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("dtf"))
    val tf = dt.groupBy(col("lang"), col("term"))
      .agg(sum(col("dtf")).as("tf"))
    // dt is unique per (doc_id, term) — lang is a per-doc attribute —
    // so document frequency is a plain count
    val docFreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus size as a 1-row broadcast cross join, not a driver action —
    // keeps the whole operator one lazy DAG (SURVEY.md §7.6 no-collect)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("term"), col("tfidf"), col("rn"))
      .orderBy(col("lang").asc, col("rn").asc)
  }

  /** `quality_filter` — document quality gates for training-data curation:
    * length bounds, language allowlist, mean word length, alpha ratio,
    * stopword-ish ratio (presence of high-frequency glue words). Returns
    * scored survivors.
    */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    qualityGate(Tables.documents(spark, sfDir))
      .withColumn("alpha_ratio",
        round(length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
          .cast("double") / length(col("text")), 4))
      .withColumn("has_glue",
        when(col("text").rlike("\\b(the|and|of|to|in)\\b"), 1).otherwise(0))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("mean_word_len"), col("alpha_ratio"), col("has_glue"))
      .orderBy(col("doc_id").asc)

  /** The whitespace token count of the normalized `text` (an int). */
  private def wsTokens: Column = {
    size(split(normText(col("text")), " "))
  }

  /** The quality gate: adds `t` (the normalized text), `n_tokens` and
    * `mean_word_len`, and keeps the documents inside the language
    * allowlist and the token, char and mean-word-length bounds.
    */
  private def qualityGate(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", normText(col("text")))
      .withColumn("n_tokens", size(split(col("t"), " ")))
      .withColumn("mean_word_len",
        round(length(regexp_replace(col("t"), " ", "")).cast("double") /
          size(split(col("t"), " ")), 4))
      .filter(col("lang").isin("en", "de", "es", "fr") &&
        col("n_tokens").between(3, 10000) &&
        col("n_chars").between(20, 100000) &&
        col("mean_word_len").between(2.0, 12.0))

  /** `lang_id` — n-gram-heuristic language identification: score each doc
    * against tiny per-language marker lexicons (function words / character
    * patterns), pick the argmax. A real pipeline would load fastText-style
    * profiles; the Spark shape (score columns → greatest → case) is
    * identical. Scores are integer match counts → deterministic.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    def hits(pat: String) =
      size(filter(split(normText(col("text")), " "),
        t => t.rlike(pat)))
    Tables.documents(spark, sfDir)
      .withColumn("sc_en", hits("^(the|and|of|to|in|is|that|for)$"))
      .withColumn("sc_de", hits("^(der|die|das|und|ist|nicht|ein|zu)$"))
      .withColumn("sc_es", hits("^(el|la|los|de|que|es|en|por)$"))
      .withColumn("sc_fr", hits("^(le|la|les|de|est|et|un|que)$"))
      .withColumn("best_score",
        greatest(col("sc_en"), col("sc_de"), col("sc_es"), col("sc_fr")))
      .withColumn("pred_lang",
        when(col("best_score") === 0, lit("und"))
          .when(col("sc_en") === col("best_score"), lit("en"))
          .when(col("sc_de") === col("best_score"), lit("de"))
          .when(col("sc_es") === col("best_score"), lit("es"))
          .otherwise(lit("fr")))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("best_score"))
      .orderBy(col("doc_id").asc)
  }

  /** `text_normalize` — the normalization pass a corpus goes through
    * before hashing/dedup, as a declared operator: lowercase, collapse
    * whitespace, trim, plus a punctuation-stripped variant ([a-z0-9 ]
    * charset — same class in Java regex and RE2, so oracle-stable).
    * Row-local, no shuffle beyond the final sort.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        length(col("text")).as("len_raw"),
        normText(col("text")).as("norm"),
        regexp_replace(normText(col("text")), "[^a-z0-9 ]", "")
          .as("norm_alnum"))
      .withColumn("len_norm", length(col("norm")))
      .orderBy(col("doc_id").asc)

  /** `pii_scrub` — PII redaction for training-data curation: emails and
    * phone-number-shaped digit runs replaced with typed placeholder
    * tokens, with per-doc redaction counts. Patterns are RE2-compatible
    * (no backrefs/lookarounds) so Spark and the DuckDB oracle compile
    * them identically. Row-local; planted-PII behavior is spec-tested
    * (the fixture corpus is synthetic prose and mostly clean).
    */
  private val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val phonePat = "\\+?[0-9][0-9() -]{6,}[0-9]"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubDocs(Tables.documents(spark, sfDir))

  /** Core of `pii_scrub` over any (doc_id, text) frame. */
  def piiScrubDocs(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phonePat), lit(0)))
          .as("n_phones"),
        regexp_replace(
          regexp_replace(col("text"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>").as("scrubbed"))
      .orderBy(col("doc_id").asc)

  /** `pack_sequences` — token-budget sequence packing for LLM training:
    * documents are concatenated in a deterministic order (doc_id) within
    * each source and chunked into fixed token-budget packs; each doc gets
    * its pack id and token offset. This is the "concat-then-chunk" layout
    * (docs may straddle pack boundaries — standard for causal-LM token
    * streams).
    *
    * Scale: one window shuffle on source (the same key the data is
    * naturally grouped by); the running sum is a single sort-based
    * window, no self-join, no driver state. For sources too large for
    * one task, pre-split on (source, doc_id range) — pack ids stay
    * deterministic because the order key is global.
    */
  def packSequences(spark: SparkSession, sfDir: String,
      budget: Int = 512): DataFrame =
    packBySource(Tables.documents(spark, sfDir)
      .withColumn("n_tok", wsTokens),
      "n_tok", budget)

  /** Per-source packing: within each source, documents in doc_id order
    * fill consecutive `budget`-token packs by their token count column
    * `n`; each gets the pack its first token falls in and its offset
    * there (a straddling document is not split). Output (source,
    * doc_id, n, pack_id, pack_offset).
    */
  private[graft] def packBySource(docs: DataFrame, n: String,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("cum_before",
        coalesce(sum(col(n).cast("long")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col(n),
        floor(col("cum_before") / budget).as("pack_id"),
        (col("cum_before") % budget).as("pack_offset"))
      .orderBy(col("source").asc, col("doc_id").asc)
  }

  /** `doc_chunking` — fixed token-window chunking with overlap: each
    * document becomes ceil(max(n_tok − window, 0) / stride) + 1 chunks;
    * chunk i covers tokens [i·stride, i·stride + window), the last one
    * truncated at the document end. The standard context-window prep
    * for LLM training (stride < window ⇒ overlap = window − stride
    * tokens carried between consecutive chunks).
    *
    * Scale: entirely row-local (split → sequence-explode → slice) — no
    * shuffle except the declared orderBy; output volume is input tokens
    * × (window/stride) ≈ 1.33×, and chunk ids are a pure function of
    * (doc_id, position) so re-runs/retries are deterministic.
    */
  def docChunk(spark: SparkSession, sfDir: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    docChunkDocs(Tables.documents(spark, sfDir), window, stride)

  /** Core of `doc_chunking` over any (doc_id, text) frame. */
  def docChunkDocs(documents: DataFrame,
      window: Int = 64, stride: Int = 48): DataFrame =
    docChunkRaw(documents, window, stride)
      .orderBy(col("doc_id").asc, col("chunk_id").asc)

  /** [[docChunkDocs]] without the declared ordering — the composition
    * entry point (dedup_semantic_chunk keys the chunks downstream; a
    * global pre-sort would be a wasted corpus shuffle).
    */
  def docChunkRaw(documents: DataFrame,
      window: Int = 64, stride: Int = 48): DataFrame =
    documents
      .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .select(col("doc_id"), col("n_tok"), col("toks"),
        explode(sequence(lit(0),
          greatest(ceil((col("n_tok") - window).cast("double") / stride),
            lit(0)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        (least(col("chunk_id") * stride + window, col("n_tok"))
          - col("chunk_id") * stride).as("chunk_len"),
        array_join(slice(col("toks"), col("chunk_id") * stride + 1,
          lit(window)), " ").as("chunk_text"))

  /** `sample_stratified` — deterministic per-stratum sampling: each
    * language keeps a different rate via the same md5-prefix bucket as
    * `sample_hash` (seedless, engine-portable, stable under re-runs —
    * the property cluster re-executions need; `rand()`-based sampleBy
    * can't give that). Row-local filter, no shuffle.
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val rate = when(col("lang") === "en", 20L)
      .when(col("lang") === "de", 10L)
      .otherwise(5L)
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket.cast("int"))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy(col("doc_id").asc)
  }

  /** `decontaminate` — benchmark decontamination, the training-data hygiene
    * pass every LLM pipeline runs before training: flag corpus documents
    * that share any word k-gram with a held-out benchmark/eval set (here a
    * deterministic pseudo-split: doc_id ≡ 0 mod `benchMod` plays the
    * benchmark). Output: each contaminated corpus doc with its count of
    * distinct shared k-grams — the evidence a curation run reviews before
    * dropping.
    *
    * Scale: grams are row-local kernel output; the benchmark gram
    * universe is ONE distinct aggregate (benchmarks are tiny next to the
    * corpus — at 100 TB it broadcasts); the flagging join is keyed on the
    * gram hash. The corpus side never self-joins and never goes
    * quadratic — cost ∝ corpus grams + shared-gram matches.
    */
  def decontaminate(spark: SparkSession, sfDir: String, k: Int = 3,
      benchMod: Int = 97): DataFrame =
    decontaminateDocs(Tables.documents(spark, sfDir), k, benchMod)

  /** Core of `decontaminate` over any (doc_id, text) frame. */
  def decontaminateDocs(documents: DataFrame, k: Int = 3,
      benchMod: Int = 97): DataFrame = {
    val grams = documents
      .withColumn("sh",
        graft.functions.ShingleKernel.shingleHashes(col("text"), k))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val bench = grams.filter(col("doc_id") % benchMod === 0)
      .select(col("h")).distinct()
    grams.filter(col("doc_id") % benchMod =!= 0)
      .join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id").asc)
  }

  /** `decontaminate_bloom` — the 100 TB shape of [[decontaminateDocs]]:
    * the benchmark gram set is compacted into a Bloom filter (Spark's
    * native `BloomFilterAggregate`, the same machinery AQE's runtime
    * bloom pruning uses) and corpus grams pass a codegen'd
    * `BloomFilterMightContain` prefilter BEFORE the confirm join. No
    * false negatives, so the exact semi-join over survivors returns the
    * identical result — the oracle is decontaminate's, verbatim — while
    * the join's shuffled volume drops from |corpus grams| to
    * |true hits| + fpp·|corpus grams|. The benchmark bloom is the one
    * driver-side materialization: bounded by definition (benchmark
    * suites are ~1e6 grams → a few hundred KB of bits), the same
    * bounded-collect class as the IVF codebook, and it ships to
    * executors as a literal in the task binary exactly like a broadcast
    * runtime filter. The full gram set is NEVER broadcast.
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String, k: Int = 3,
      benchMod: Int = 97): DataFrame =
    decontaminateBloomDocs(Tables.documents(spark, sfDir), k, benchMod)

  /** Core of `decontaminate_bloom` over any (doc_id, text) frame. */
  def decontaminateBloomDocs(documents: DataFrame, k: Int = 3,
      benchMod: Int = 97): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val grams = documents
      .withColumn("sh",
        graft.functions.ShingleKernel.shingleHashes(col("text"), k))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val bench = grams.filter(col("doc_id") % benchMod === 0)
      .select(col("h")).distinct()
    val bfBytes = bench.agg(ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(col("h")), 1000000L)
        .toAggregateExpression()).as("bf")).head().getAs[Array[Byte]](0)
    // empty benchmark split → no bloom; result is empty either way, but
    // a null literal would fail might_contain's type check
    val pre =
      if (bfBytes == null) grams.filter(lit(false))
      else grams.filter(col("doc_id") % benchMod =!= 0)
        .filter(ColumnBridge.column(BloomFilterMightContain(
          CatLit(bfBytes, BinaryType),
          ColumnBridge.expression(col("h")))))
    pre.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id").asc)
  }

  /** `dedup_url` — URL canonicalization dedup, the web-corpus step that
    * precedes content dedup in every public crawl pipeline: the same
    * logical page arrives as scheme/host case variants, shuffled query
    * params, tracking params (`utm_*`), trailing slashes, and
    * fragments. Canonical form = lowercase scheme://host + path minus
    * trailing slash + sorted non-tracking params; grouping on it
    * collapses the variants (survivor = min event_id, the
    * dedup-family rule). Fixture URLs are BUILT with deterministic
    * messiness (modulus-planted case/order/tracking/slash/fragment
    * variants over a 50-id target space, so real collisions exist at
    * every SF).
    *
    * Scale: construction + canonicalization are row-local codegen'd
    * string ops; the dedup is one keyed shuffle on the canonical
    * string — identical shape to `dedup_exact`.
    */
  def dedupUrl(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val shard = col("user_id") % 4
    val tid = col("event_id") % 50
    val raw = concat(
      when(col("event_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("event_id") % 3 === 0,
        concat(lit("Shard"), shard, lit(".Example.COM")))
        .otherwise(concat(lit("shard"), shard, lit(".example.com"))),
      lit("/"), col("event_type"), lit("/item"),
      when(col("event_id") % 7 === 0, lit("/")).otherwise(lit("")),
      when(col("event_id") % 5 === 0,
        concat(lit("?ref=home&id="), tid))
        .otherwise(concat(lit("?id="), tid, lit("&ref=home"))),
      when(col("event_id") % 2 === 0, lit("&utm_source=feed"))
        .otherwise(lit("")),
      when(col("event_id") % 11 === 0, lit("#section")).otherwise(lit("")))
    val withCanon = ev.withColumn("raw_url", raw)
      .withColumn("nofrag", regexp_replace(col("raw_url"), "#.*$", ""))
      .withColumn("schemehost",
        lower(regexp_extract(col("nofrag"), "^([^:]+://[^/]+)", 1)))
      .withColumn("path", regexp_replace(
        regexp_extract(col("nofrag"), "^[^:]+://[^/]+([^?]*)", 1),
        "/$", ""))
      .withColumn("qs", regexp_extract(col("nofrag"), "\\?(.*)$", 1))
      .withColumn("params", filter(split(col("qs"), "&"),
        p => p =!= "" && !p.startsWith("utm_")))
      .withColumn("canon", concat(col("schemehost"), col("path"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(array_sort(col("params")), "&")))
          .otherwise(lit(""))))
    withCanon.groupBy(col("canon"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("raw_url")).as("n_raw_variants"),
        min(col("event_id")).as("survivor_id"))
      .orderBy(col("canon").asc)
  }

  /** `repetition_score` — Gopher-style repetition signals for quality
    * filtering: per-doc duplicate-token fraction (1 − |distinct| / |all|)
    * and the fraction of all bigrams taken by the single most frequent
    * bigram. High values mark degenerate/boilerplate text ("batch batch
    * batch…") that survives length filters but poisons training.
    *
    * Scale: token stats are row-local array ops; the top-bigram count is
    * an explode + two keyed aggregations (doc_id,gram) → (doc_id) with
    * map-side partial agg — one narrow shuffle per doc, never a
    * self-join.
    */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame =
    repetitionScoreDocs(Tables.documents(spark, sfDir))

  /** Core of `repetition_score` over any (doc_id, text) frame. */
  def repetitionScoreDocs(documents: DataFrame): DataFrame = {
    val docs = documents
      .withColumn("toks", graft.functions.ShingleKernel
        .shingleHashes(col("text"), 1, distinct = false))
      .withColumn("bi", graft.functions.ShingleKernel
        .shingleHashes(col("text"), 2, distinct = false))
      .filter(size(col("toks")) > 0)
    val topBigram = docs
      .select(col("doc_id"), explode(col("bi")).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_bigram_cnt"),
        sum(col("cnt")).as("n_bigrams"))
    docs
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"))
      .join(topBigram, "doc_id")
      .select(
        col("doc_id"),
        round(lit(1.0) - col("n_uniq").cast("double") /
          col("n_tokens").cast("double"), 4).as("dup_token_frac"),
        round(col("top_bigram_cnt").cast("double") /
          col("n_bigrams").cast("double"), 4).as("top_bigram_frac"))
      .orderBy(col("doc_id").asc)
  }

  /** `quality_classifier` — model-based quality scoring, the shape of a
    * fastText/logistic quality gate: a fixed, documented weight vector
    * over exact integer/rational features (token count, distinct-token
    * ratio, glue-word presence, mean word length) through a logistic
    * link. A production run would load trained weights; the dataflow —
    * row-local featurize → dot → sigmoid, zero shuffles before the
    * output sort — is identical. Feature arithmetic stays in exact
    * int/rational form until one final double expression evaluated in
    * the same order on both engines (oracle-stable at 4 dp).
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", graft.functions.ShingleKernel
        .shingleHashes(col("text"), 1, distinct = false))
      .filter(size(col("toks")) > 0)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") /
          col("n_tokens").cast("double"))
      .withColumn("has_glue",
        when(normText(col("text"))
          .rlike("(^| )(the|and|of|to|in)( |$)"), 1.0).otherwise(0.0))
      .withColumn("mean_word_len",
        length(regexp_replace(normText(col("text")), " ", ""))
          .cast("double") / col("n_tokens").cast("double"))
    val z = lit(-3.0) +
      col("n_tokens").cast("double") * lit(0.01) +
      col("uniq_ratio") * lit(2.5) +
      col("has_glue") * lit(0.5) +
      col("mean_word_len") * lit(0.2)
    docs
      .select(col("doc_id"),
        col("n_tokens"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("quality_score"))
      .orderBy(col("doc_id").asc)
  }

  /** `dedup_incremental` — incremental corpus dedup, the daily-crawl
    * pattern: a new batch lands and only documents whose (normalized)
    * content is NOT already in the existing corpus survive. Here the
    * deterministic pseudo-split doc_id % 10 < 8 plays the existing
    * corpus and the rest the incoming batch. Batch-internal duplicates
    * are kept — the operator's contract is against the corpus; chain
    * `dedup_exact` on the survivors for full dedup.
    *
    * Scale: the existing side reduces to a distinct hash set (32 B/doc —
    * at 100 TB this is the bloom/anti-join input, NOT the corpus text);
    * the batch anti-joins on the hash key. One keyed shuffle each side,
    * no text ever re-shuffles.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    newContent(docs.filter(col("doc_id") % 10 >= 8),
      contentHashes(docs.filter(col("doc_id") % 10 < 8)))
      .orderBy(col("doc_id").asc)
  }

  /** The distinct content hashes (`h`) of a corpus — the existing side
    * of [[newContent]].
    */
  private[graft] def contentHashes(corpus: DataFrame): DataFrame =
    corpus.select(contentHash(col("text")).as("h")).distinct()

  /** The incremental dedup rule: the `batch` documents whose content
    * hash is not in `existingHashes` (an `h` frame), as (doc_id, lang,
    * source). Batch-internal duplicates are kept.
    */
  private[graft] def newContent(batch: DataFrame,
      existingHashes: DataFrame): DataFrame =
    batch
      .withColumn("h", contentHash(col("text")))
      .join(existingHashes, Seq("h"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))

  /** `ngram_lm` — bigram language-model counts: c(w₁w₂), c(w₁·) and the
    * conditional probability p(w₂|w₁), top 50 bigrams by count — the
    * count-collection step of KenLM-style n-gram model training and the
    * standard corpus-statistics probe. Bigrams form by a per-doc
    * lead() window over token positions (keyed on doc_id — the shuffle
    * key is the document, token order comes from posexplode, no
    * self-join); both count aggregations are partial+final keyed.
    */
  def ngramLm(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    ngramLmDocs(Tables.documents(spark, sfDir), k)

  /** `lm_doc_score` — CCNet-style per-document LM quality score: the
    * mean log-probability of the doc's word bigrams under the corpus's
    * own MLE bigram model (p(w2|w1) = c12/c1 — the `ngram_lm` counts,
    * consumed). Low scores flag disfluent/degenerate text; the standard
    * perplexity-bucket signal for training-data filtering.
    *
    * Determinism (SURVEY §5.3): per-bigram ln(p) is rounded to 6dp and
    * summed as DECIMAL — double summation is order-dependent under
    * partial aggregation, decimal summation is exact/associative — then
    * one double division + 4dp round. Docs with fewer than 2 tokens
    * have no bigrams and no row.
    *
    * Scale shape: token explode → two keyed count aggs → one keyed join
    * back to the bigram stream → per-doc agg. No corpus self-join; the
    * model side (c12/c1) is vocabulary-sized, not corpus-sized.
    */
  def lmDocScore(spark: SparkSession, sfDir: String): DataFrame =
    cachedLmScores(spark, sfDir)

  /** Memo of the LM scoring pass — `lm_doc_score` and
    * `quality_lm_bucket` are both views of ONE scored frame (the
    * compute-once/report-many shape of the ngram pair memo). The frame
    * is one row per ≥2-token document.
    */
  private val lmMemo = graft.Memo[DataFrame]()

  private def cachedLmScores(spark: SparkSession, sfDir: String): DataFrame =
    lmMemo(spark, sfDir) {
      lmDocScoreDocs(Tables.documents(spark, sfDir)).persist()
    }

  /** Materialize the LM-score memo — Bench's untimed warmup calls this
    * (the `warmBucketed` pattern, VERDICT r6 #1) so `lm_doc_score` and
    * `quality_lm_bucket` time their steady-state view cost, not the
    * shared scoring pass that the first family member would otherwise
    * absorb and mis-attribute.
    */
  private[graft] def warmLm(spark: SparkSession, sfDir: String): Unit = {
    cachedLmScores(spark, sfDir).count()
    ()
  }

  /** Core of `lm_doc_score` over any (doc_id, text) frame.
    *
    * Bigrams are built ROW-LOCAL (zip the token array with its own
    * 2-suffix) — adjacency is a per-row fact, so there is no doc_id
    * Window shuffle (the first cut used posexplode + lead() and paid a
    * full-volume sort shuffle before any counting). The plan's only
    * full-volume operations are the row-local scan pipelines: both
    * count aggregates collapse map-side to model-size (vocab) rows
    * before their exchanges, the model side broadcasts back onto the
    * bigram stream while it fits (AQE falls back to a keyed shuffle
    * join when a 100 TB vocabulary doesn't), and the final per-doc
    * aggregate partial-aggregates to one row per document before its
    * exchange. Deliberately NO explicit repartition: the three
    * consumers prune different columns, so a forced common Exchange
    * cannot be reused and would only add a full-volume shuffle.
    */
  def lmDocScoreDocs(documents: DataFrame): DataFrame = {
    val toksCol = split(normText(col("text")), " ")
    val bigrams = documents
      .select(col("doc_id"),
        explode(zip_with(toksCol, slice(toksCol, lit(2),
            greatest(size(toksCol) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull && length(col("w1")) > 0)
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val probs = c12.join(c1, "w1")
      .select(col("w1"), col("w2"),
        (col("c12").cast("double") / col("c1").cast("double")).as("p"))
    bigrams.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(log(col("p")), 6).cast("decimal(28,6)")).as("s"))
      // The final 4dp round runs in EXACT INTEGER arithmetic: the 6dp
      // decimal sum scales to an exact BIGINT x, and round(x/1e6/n, 4)
      // half-up = sign · ((|x| + 50n) DIV (100n)). A double division
      // here let a half-boundary quotient flip between Spark's
      // BigDecimal HALF_UP and DuckDB's multiply-round — caught by the
      // r7 sf0.1 cross-check (one doc in 5,000 flipped −3.4063 vs
      // −3.4064); integer DIV is bit-identical in both engines.
      .withColumn("x", (col("s") * 1000000).cast("long"))
      .withColumn("r",
        expr("(abs(x) + 50L * n_bigrams) DIV (100L * n_bigrams)"))
      .select(col("doc_id"), col("n_bigrams"),
        (when(col("x") < 0, -col("r")).otherwise(col("r"))
          .cast("double") / 10000.0).as("avg_logp"))
      .orderBy(col("doc_id").asc)
  }

  /** Core of `ngram_lm` over any (doc_id, text) frame. */
  def ngramLmDocs(documents: DataFrame, k: Int = 50): DataFrame = {
    val toks = documents
      .select(col("doc_id"),
        posexplode(split(normText(col("text")), " ")).as(Seq("pos", "w1")))
      .filter(length(col("w1")) > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val bigrams = toks
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    c12.join(c1, "w1")
      .withColumn("p_cond",
        round(col("c12").cast("double") / col("c1").cast("double"), 4))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("p_cond"))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** `quality_lm_bucket` — CCNet's perplexity bucketing: per-LANGUAGE
    * terciles of the `lm_doc_score` signal — head (most fluent),
    * middle, tail — the split CCNet uses to keep/downsample/drop crawl
    * text. Buckets are per-language (a Wikipedia-trained LM scores
    * languages incomparably), which also keeps the ntile window KEYED:
    * the sort funnels one language per task, never the whole corpus.
    * Ties are broken by doc_id so the tercile assignment — and the
    * oracle hash — is total-order deterministic.
    */
  def qualityLmBucket(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logp").desc, col("doc_id").asc)
    lmDocScore(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "doc_id")
      .withColumn("t", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id").asc)
  }

  /** Scale variant of [[qualityLmBucket]]: a window partition cannot be
    * split across tasks, so at 100 TB a dominant language would funnel
    * its whole score set through one ntile sort. Here the two tercile
    * cut values come from an approx_percentile sketch per language
    * (keyed partial agg — mergeable, no sort), and bucket assignment is
    * a row-local comparison after a langs-sized broadcast join. Same
    * exact-declared/approximate-at-scale pairing as simsearch_knn vs
    * LSH/IVF; DedupSpec-style agreement with the exact terciles is
    * asserted in FunctionSpec (buckets differ only near cut boundaries).
    */
  def qualityLmBucketCutoff(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame = {
    val scored = cachedLmScores(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "doc_id")
    val cuts = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("avg_logp"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("cuts"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(col("avg_logp") >= element_at(col("cuts"), 2), "head")
          .when(col("avg_logp") >= element_at(col("cuts"), 1), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id").asc)
  }

  /** `quality_lm_bucket_approx` — [[qualityLmBucketCutoff]] as a
    * DECLARED, oracled query (VERDICT r6 #4: the dominant-language
    * ntile funnel needed a driver-gated scale path). The sketch cuts
    * aren't bit-reproducible cross-engine, so the verified rows are the
    * cutoff variant's output restricted to docs PROVABLY away from the
    * tercile boundaries: per language, take the score values at ranks
    * r±W around each tercile rank (W = 3 + n/accuracy ≥ sketch rank
    * error n/accuracy + any discrete-percentile convention offset ±1,
    * with margin) and drop docs inside those closed value intervals.
    * Any cut value either engine picks lies inside the dropped
    * interval, so every kept doc's `score >= cut` comparison — and
    * therefore its bucket — is engine-independent. The rank window is
    * VERIFICATION scaffolding (it reuses the same keyed window shape as
    * the declared exact `quality_lm_bucket`); the library scale path is
    * [[qualityLmBucketCutoff]] itself, which has no window at all.
    */
  def qualityLmBucketApprox(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame = {
    val scored = cachedLmScores(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_logp"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logp").asc, col("doc_id").asc)
    val ranked = scored.withColumn("rk", row_number().over(wRank))
    // n/3 has fractional part 0, 1/3, or 2/3 — round() never sees a
    // .5, so Spark HALF_UP and DuckDB both land on the same rank
    val bounds = ranked.groupBy(col("lang"))
      .agg(max(col("rk")).as("n"))
      .withColumn("w", (lit(3) + col("n") / lit(accuracy)).cast("int"))
      .withColumn("r1", round(col("n") / 3.0, 0).cast("int"))
      .withColumn("r2", round(col("n") * 2.0 / 3.0, 0).cast("int"))
    val iv = ranked.join(broadcast(bounds), "lang")
      .groupBy(col("lang"))
      .agg(
        min(when(col("rk") === greatest(lit(1), col("r1") - col("w")),
          col("avg_logp"))).as("lo1"),
        min(when(col("rk") === least(col("n"), col("r1") + col("w")),
          col("avg_logp"))).as("hi1"),
        min(when(col("rk") === greatest(lit(1), col("r2") - col("w")),
          col("avg_logp"))).as("lo2"),
        min(when(col("rk") === least(col("n"), col("r2") + col("w")),
          col("avg_logp"))).as("hi2"))
    qualityLmBucketCutoff(spark, sfDir, accuracy)
      .join(broadcast(iv), "lang")
      .filter(!col("avg_logp").between(col("lo1"), col("hi1")) &&
        !col("avg_logp").between(col("lo2"), col("hi2")))
      .select(col("doc_id"), col("lang"), col("avg_logp"), col("bucket"))
      .orderBy(col("doc_id").asc)
  }

  /** `vocab_topk` — corpus vocabulary statistics: the 100 most frequent
    * tokens with counts — the first step of tokenizer/vocab construction
    * and corpus drift monitoring. Explode → one keyed count with
    * map-side partial agg → TakeOrderedAndProject (per-partition heads,
    * no global sort).
    */
  def vocabTopk(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(normText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** `vocab_topk_approx` — the SKETCH form of [[vocabTopk]]
    * (`approx_top_k`, a datasketches frequent-items aggregate — the
    * Presto `approx_most_frequent` surface): fixed-size mergeable state
    * per partition, no exact keyed count — at a 100 TB vocab (billions
    * of distinct tokens) the exact groupBy's shuffle carries the whole
    * vocabulary while the sketch ships maxTracked items per partition.
    *
    * Oracle-declared EXACTLY, not as a shadow: a frequent-items sketch
    * evicts nothing while distinct items ≤ its capacity, so counts are
    * exact — the fixture vocab (31 tokens ≪ 1024 tracked ≪ k=40) pins
    * the sketch's exact regime against the true counts, with the output
    * re-sorted deterministically (the sketch's own tie order is
    * engine-internal). The eviction regime — overestimates bounded by
    * ~N/maxTracked, heavy hitters still surfaced — is spec-asserted on
    * a planted heavy-hitter corpus (FunctionSpec).
    */
  def vocabTopkApprox(spark: SparkSession, sfDir: String,
      k: Int = 40, maxTracked: Int = 1024): DataFrame =
    approxTopKTokens(
      Tables.documents(spark, sfDir)
        .select(explode(split(normText(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0),
      k, maxTracked)

  /** The sketch aggregation over any single-column (token) frame. */
  def approxTopKTokens(tokens: DataFrame, k: Int, maxTracked: Int): DataFrame =
    tokens
      .agg(expr(s"approx_top_k(token, $k, $maxTracked)").as("topk"))
      .select(explode(col("topk")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)

  /** `pipeline_curate` — the operators composed as ONE curation
    * pipeline, the way a user actually runs them: quality gate
    * (the `quality_filter` predicates) → exact dedup AMONG the
    * survivors (min-doc_id per normalized-text hash) → drop the
    * benchmark split and everything contaminated by it
    * (`decontaminate`'s 3-gram overlap) → token-budget sequence
    * packing of what remains. The whole thing is one lazy DAG —
    * Catalyst sees every stage, so pruning/pushdown cross stage
    * boundaries and nothing materializes between steps.
    *
    * Scale: the stages add exactly three keyed shuffles (dedup hash,
    * contamination gram join, packing window) on top of row-local
    * predicates — the same shuffles the standalone operators pay;
    * composition adds none.
    */
  def pipelineCurate(spark: SparkSession, sfDir: String,
      budget: Int = 512, benchMod: Int = 97): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    packBySource(curatedSurvivors(docs, docs, benchMod), "n_tokens", budget)
  }

  /** The curation chain: `gate` (which adds the normalized text `t` and
    * `n_tokens`) → keep-first exact dedup on the hash of `t` → drop the
    * benchmark split (doc_id ≡ 0 mod `benchMod`) and every doc_id in
    * `contaminated`. The ONE definition every capstone runs; a drifted
    * copy would silently diverge the capstones from each other and
    * their shared oracle fragments.
    */
  private def curatedSurvivorsOf(candidates: DataFrame,
      gate: DataFrame => DataFrame, contaminated: DataFrame,
      benchMod: Int): DataFrame =
    keepFirst(gate(candidates), sha2(col("t"), 256))
      .filter(col("doc_id") % benchMod =!= 0)
      .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** The standing chain as (doc_id, source, lang, n_tokens): the
    * [[qualityGate]] over `candidates` (the whole corpus for the
    * from-scratch capstones; a day's near-dup-surviving delta for
    * [[pipelineCurateV4]] and [[curateDayFromCdf]]), decontaminated
    * against the benchmark split of the full corpus `docs` —
    * contamination doesn't care which batch a document arrived in.
    */
  private def curatedSurvivors(docs: DataFrame, candidates: DataFrame,
      benchMod: Int): DataFrame =
    curatedSurvivorsOf(candidates, qualityGate,
      decontaminateDocs(docs, benchMod = benchMod), benchMod)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"))

  /** `pipeline_curate_v2` — the round-8 capstone: the same
    * gate→dedup→decontaminate→pack lazy DAG as [[pipelineCurate]],
    * rebuilt from this round's operators — the quality gate is the
    * SPAN-DUPLICATION gate (dedup_span_mask accounting: drop docs whose
    * duplicated-span positions cover the majority of their tokens — the
    * boilerplate filter exact-substring pipelines actually use), and
    * decontamination takes the BLOOM-prefilter path. Still one lazy
    * DAG: every stage is a keyed shuffle or row-local compute, and
    * Catalyst plans it end-to-end (nothing materializes between
    * stages).
    */
  def pipelineCurateV2(spark: SparkSession, sfDir: String,
      budget: Int = 512, benchMod: Int = 97): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tooDup = graft.operators.MinHashDedup.dedupSpanMaskDocs(docs)
      .filter(col("n_masked") * 2 > col("n_tokens"))
      .select(col("doc_id"))
    def spanGate(d: DataFrame): DataFrame = d
      .withColumn("t", normText(col("text")))
      .withColumn("n_tokens", size(split(col("t"), " ")))
      .filter(col("n_tokens") >= 3)
      .join(tooDup, Seq("doc_id"), "left_anti")
    packBySource(curatedSurvivorsOf(docs, spanGate,
      decontaminateBloomDocs(docs, benchMod = benchMod), benchMod),
      "n_tokens", budget)
  }

  /** `pipeline_curate_v3` — the round-11 capstone: the curation DAG
    * ending in the round's new PROPORTIONING stage — quality gate →
    * exact dedup → decontaminate → per-LANGUAGE token-budget mix
    * ([[mixBudget]]'s hash-ordered prefix replaces `pipeline_curate`'s
    * source-keyed pack). This is the cut a pretraining pipeline
    * actually ships: a quality-gated, deduped, decontaminated corpus
    * trimmed to a reproducible per-language token budget. Still ONE
    * lazy DAG — every stage is a keyed shuffle or row-local compute,
    * and Catalyst plans it end-to-end; the mix stage runs
    * [[budgetPrefixPruned]] (VERDICT r11 #1), so even here the
    * per-language window input is ≤ budget + one bucket of tokens,
    * never the corpus: the prune rollup re-evaluates the curation
    * subtree (a 2× constant on fully parallel work) instead of
    * feeding a single-task corpus-sized sort.
    */
  def pipelineCurateV3(spark: SparkSession, sfDir: String,
      budget: Long = 3000L, benchMod: Int = 97): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    budgetPrefixPruned(curatedSurvivors(docs, docs, benchMod)
      .select(col("doc_id"), col("lang"), col("n_tokens")),
      lit(budget), buckets = 256)
  }

  /** `pipeline_curate_v4` — the round-13 capstone: the DAILY-UPDATE
    * cut. The earlier capstones curate a full corpus from scratch;
    * what a production pipeline runs every day is the DELTA: today's
    * crawl first near-dup-dedups against yesterday's persisted
    * signature store (`dedup_minhash_incremental`'s seen-store — a
    * delta doc similar to anything already seen never enters
    * curation), and only the survivors run the standing chain —
    * quality gate → exact dedup within the batch → decontaminate
    * (benchmark split from the WHOLE corpus) → per-language
    * token-budget mix of the delta. One lazy DAG; everything after
    * the store's band join is delta-sized, which is the entire
    * economics of incremental curation at 100 TB: the full corpus is
    * touched only through the (band, bhash)-bucketed signature store
    * and the decontamination gram index.
    */
  def pipelineCurateV4(spark: SparkSession, sfDir: String,
      budget: Long = 1500L, benchMod: Int = 97): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val survivors = graft.operators.MinHashDedup
      .dedupMinhashIncremental(spark, sfDir)
      .select(col("doc_id"))
    budgetPrefixPruned(
      curatedSurvivors(docs, docs.join(survivors, Seq("doc_id")), benchMod)
        .select(col("doc_id"), col("lang"), col("n_tokens")),
      lit(budget), buckets = 256)
  }

  /** `pipeline_curate_v5` — the RELEASE-PREP capstone composing the
    * round-14 pieces into the step that actually ships a training
    * corpus: quality gate → exact content dedup → NEAR-DUP
    * decontamination ([[graft.operators.MinHashDedup.decontaminateMinhash]]
    * — paraphrased benchmark text drops too, not just verbatim
    * copies) → leakage-free train/val/test assignment
    * ([[graft.functions.ScalarFns.sampleSplitDocs]]'s content-hash
    * rule, so exact dups that survived as one representative still
    * split deterministically) → fractional-epoch UP-sampling of the
    * TRAIN split only ([[mixEpochs]]'s table; val/test always emit
    * exactly one copy — upsampling an eval split would double-count
    * evaluation, the production rule this composition exists to
    * encode). Output: one row per SHIPPED sequence source
    * (doc_id, lang, source, split, copy_id).
    *
    * Scale shape: every stage is row-local or keyed — quality gate
    * row-local, exact dedup one content-hash window, decontamination
    * the cross-set broadcast band join (corpus never self-joins),
    * split + epochs row-local CASE/md5/explode. One lazy DAG,
    * Catalyst plans it end-to-end.
    */
  def pipelineCurateV5(spark: SparkSession, sfDir: String,
      benchMod: Int = 19): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val contaminated = graft.operators.MinHashDedup
      .decontaminateMinhash(spark, sfDir, benchMod = benchMod)
    // content-keyed split BEFORE upsampling (a doc's copies must all
    // land in one split; the key survives the dedup representative)
    val withSplit = curatedSurvivorsOf(docs, qualityGate, contaminated,
        benchMod)
      .withColumn("bucket",
        (conv(substring(md5(col("t")), 1, 8), 16, 10)
          .cast("long") % 100).cast("int"))
      .withColumn("split",
        when(col("bucket") === 0, lit("test"))
          .when(col("bucket") === 1, lit("val"))
          .otherwise(lit("train")))
    // val/test always ship exactly one copy; a dropped domain's val/test
    // rows drop too
    epochCopies(withSplit, DefaultEpochs, col("split") =!= "train")
      .select(col("doc_id"), col("lang"), col("source"), col("split"),
        col("copy_id"))
      .orderBy(col("doc_id").asc, col("copy_id").asc)
  }

  /** `pipeline_curate_v6` — the INCREMENTAL-DAY capstone (VERDICT r18
    * #4): the corpus lives as a VERSIONED LAKE TABLE with write-time
    * CDF, and each day's curation input is the day's CAPTURED churn —
    * the full production loop the earlier capstones only fragment:
    *
    *   day N: capturedChanges(N−1, N) inserts        (lake CDF)
    *     → near-dup dedup vs the table AS OF day N−1  (the versioned
    *       table IS the seen-store — loadVersion(N−1) is yesterday's
    *       signature source, dedup_minhash_incremental's contract)
    *     → quality gate → exact dedup → decontaminate (the standing
    *       per-doc chain, pipeline_curate_v4's stages verbatim)
    *   then the per-language token-budget mix RE-BALANCES over the
    *   curated corpus TO DATE (day-1 ∪ day-2 survivors), not the last
    *   delta alone — the re-balance is what a daily release actually
    *   ships.
    *
    * COMPOSITION LAW (PipelineSpec, the seen-store associativity law
    * lifted to the whole pipeline): day-2 ∘ day-1 ≡ the two-day batch
    * — every per-doc stage is day-local given the seen-store, the
    * ordered day cut makes intra-delta keep-first agree across the
    * split, and the mix reads only the cumulative survivor set; so
    * the declared output equals pipeline_curate_v4's one-batch chain
    * over the same split, which is exactly how the oracle recomputes
    * it. A CDF capture that drops/duplicates churn, a version read
    * that resolves the wrong day, or a seen-store miss all
    * hash-mismatch.
    *
    * Scale: planting is 3 corpus-slice commits (each ONE keyed
    * full-outer diff, the saveVersionCdf cost); each day's curation
    * is delta-sized except the (band, bhash) store join and the
    * decontamination gram index — the incremental-curation economics
    * at 100 TB. The curation chain from the captured read onward is
    * ONE lazy DAG per day; Catalyst plans it end-to-end.
    */
  def pipelineCurateV6(spark: SparkSession, sfDir: String,
      budget: Long = 2000L, benchMod: Int = 97): DataFrame = {
    val (_, curated) = curatedCorpusToDate(spark, sfDir, benchMod)
    budgetPrefixPruned(
      curated.select(col("doc_id"), col("lang"), col("n_tokens")),
      lit(budget), buckets = 256)
  }

  /** Memoized (planted table, day-1 ∪ day-2 curated survivors) per
    * fixture dir — the incremental-corpus build feeds TWO declared
    * queries (`pipeline_curate_v6` and `pipeline_takedown` differ
    * only in the final mix input), so per the warm-phase policy the
    * shared plant + two curation days run once (warm_ms.curate in
    * Bench); each row then times its own mix/propagation side.
    * Non-default benchMod computes fresh. The planted table's run dir
    * is the entry's scratch dir.
    */
  private val curateMemo = graft.Memo[(graft.Memo.ScratchDir, DataFrame)]()

  private[graft] def curatedCorpusToDate(spark: SparkSession,
      sfDir: String, benchMod: Int = 97): (String, DataFrame) = {
    def build(): (graft.Memo.ScratchDir, DataFrame) = {
      val tbl = plantCorpusDays(spark, sfDir)
      val curated =
        curateDayFromCdf(spark, sfDir, tbl, 0, 1, benchMod)
          .unionByName(curateDayFromCdf(spark, sfDir, tbl, 1, 2, benchMod))
          .localCheckpoint(true)
      (graft.Memo.ScratchDir(tbl), curated)
    }
    val (tbl, curated) =
      if (benchMod == 97) curateMemo(spark, sfDir)(build()) else build()
    (tbl.path, curated)
  }

  def warmCurate(spark: SparkSession, sfDir: String): Unit = {
    curatedCorpusToDate(spark, sfDir); ()
  }

  /** `pipeline_takedown` — the DELETES day the v6 capstone's churn
    * lacks (day-1/2 are insert-only): day 3 REMOVES rows from the
    * corpus table (takedowns / robots revocations — the
    * right-to-be-forgotten path every production corpus needs), and
    * the deletion propagates through the curated corpus via the
    * captured feed: capturedChanges(2, 3)'s delete rows anti-join the
    * curated-to-date survivor set, and the token-budget mix
    * RE-BALANCES over what remains (a takedown frees budget — other
    * docs of that language re-enter the shipped prefix).
    *
    * POLICY (deliberate, documented): the near-dup SEEN-STORE is NOT
    * retracted — a re-crawled copy of taken-down content must stay
    * suppressed, so dedup memory outlives the content (the same
    * reason Delta's CDF delete doesn't erase history). Only the
    * SHIPPED set forgets.
    *
    * Oracle: the one-batch v4 chain minus the deleted ids, re-mixed
    * at this budget — a capture that misses a delete, a curated set
    * that keeps a taken-down doc, or a mix that fails to re-balance
    * hash-mismatches.
    */
  def pipelineTakedown(spark: SparkSession, sfDir: String,
      budget: Long = 2000L, benchMod: Int = 97,
      takeMod: Long = 41, takeResidue: Long = 5): DataFrame = {
    import graft.sources.LakeIO
    val (tbl, curated) = curatedCorpusToDate(spark, sfDir, benchMod)
    // day 3: the takedown batch — remove the planted residue class
    // (idempotent on the shared fixture: a re-run commits a
    // content-identical snapshot whose capture is empty, and the
    // (2, 3] feed below pins the FIRST takedown commit)
    val taken = LakeIO.loadVersion(spark, tbl)
      .filter(pmod(col("doc_id"), lit(takeMod)) =!= lit(takeResidue))
    LakeIO.saveVersionCdf(taken, tbl, Seq("doc_id"))
    val deleted = LakeIO.capturedChanges(spark, tbl, 2, 3)
      .filter(col("_change_type") === "delete")
      .select(col("doc_id"))
    budgetPrefixPruned(
      curated.join(deleted, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_tokens")),
      lit(budget), buckets = 256)
  }

  /** Plant the v6 corpus as three captured lake commits: v0 = the
    * standing corpus (doc_id % 10 < 8), v1 = +day-1's crawl, v2 =
    * +day-2's (the dedup_incremental delta split at its median id —
    * an ORDERED cut, which the keep-first intra-delta rule needs for
    * day-composition to be exact). Returns the table path.
    */
  private[graft] def plantCorpusDays(spark: SparkSession,
      sfDir: String): String = {
    val out = graft.Scratch.dir("pipeline_curate_v6")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
    val store = docs.filter(col("doc_id") % 10 < 8)
    val delta = docs.filter(col("doc_id") % 10 >= 8)
    val cut = delta.agg(
      percentile_approx(col("doc_id"), lit(0.5), lit(1000000)))
      .head().getLong(0)
    val keys = Seq("doc_id")
    graft.sources.LakeIO.saveVersionCdf(store.repartition(8), out, keys)
    graft.sources.LakeIO.saveVersionCdf(
      store.unionByName(delta.filter(col("doc_id") < cut))
        .repartition(8), out, keys)
    graft.sources.LakeIO.saveVersionCdf(docs.repartition(8), out, keys)
    out
  }

  /** One curated day, pre-mix: the (fromV, toV] captured inserts run
    * near-dup dedup against the table as of fromV, then the standing
    * quality → exact dedup → decontaminate chain (decontamination's
    * benchmark suite comes from the FULL fixture corpus — the
    * benchmark is external and time-invariant, which is also what
    * makes the stage day-composable).
    */
  private[graft] def curateDayFromCdf(spark: SparkSession, sfDir: String,
      tbl: String, fromV: Int, toV: Int, benchMod: Int): DataFrame = {
    import graft.sources.LakeIO
    val delta = LakeIO.capturedChanges(spark, tbl, fromV, toV)
      .filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version")
    val seen = LakeIO.loadVersion(spark, tbl, Some(fromV))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val survivors = graft.operators.MinHashDedup
      .dedupMinhashIncrementalDocs(seen,
        delta.select(col("doc_id"), col("lang"), col("source"),
          col("text")))
      .select(col("doc_id"))
    curatedSurvivors(Tables.documents(spark, sfDir),
      delta.join(survivors, Seq("doc_id")), benchMod)
  }

  /** `doc_fingerprint` — rolling/content-defined fingerprinting: per-doc
    * polynomial rolling hash over word 3-grams, plus the minimum 3-gram
    * hash (a 1-permutation MinHash — the dedup_minhash building block).
    * xxhash64 with fixed seed 42 → deterministic across runs/executors.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("gh", graft.functions.ShingleKernel
        .shingleHashes(col("text"), 3, distinct = false))
      .filter(size(col("gh")) > 0)
      .select(
        col("doc_id"),
        xxhash64(col("text")).as("full_hash"),
        array_min(col("gh")).as("min_gram_hash"),
        size(col("gh")).as("n_grams"))
      .orderBy(col("doc_id").asc)

  /** `ngram_pmi` — collocation (phrase) mining: the corpus's top word
    * bigrams by pointwise mutual information, PMI = ln(p(w1w2) /
    * (p(w1)·p(w2))) — the standard phrase-detection signal used to
    * merge multi-word expressions before tokenizer training (word2vec's
    * phrase pass uses the same statistic with a discount).
    *
    * ONE corpus pass feeds every statistic (the `text_tfidf` rollup
    * treatment, applied from the start): the zip-with-own-suffix
    * explode ([[lmDocScoreDocs]] — adjacency is a per-row fact, no
    * doc_id window shuffle) emits each token exactly once as `w1` with
    * its nullable successor `w2`, and ONE (w1, w2)-keyed count rollup
    * — null w2 rows are the doc-final tokens, kept as their own groups
    * — is the only full-volume aggregate. Bigram counts are the
    * non-null-w2 rows of that rollup verbatim; unigram counts re-group
    * it by w1 (every token counted exactly once — vocab-sized input);
    * the two totals are SUMS of those frames. Both consumers see the
    * identical partial-agg Exchange subtree (consumer-specific pruning
    * happens in the final-agg projections ABOVE it), so it
    * canonicalizes to one ReusedExchange and the corpus is scanned
    * once — spec-pinned, because the first cut of this operator (and
    * of text_tfidf, per its round-11 note) let pruning push DIFFERENT
    * projections below per-branch shuffles and silently re-scanned.
    * The `minCount` floor is applied BEFORE the c1/c2 joins, so the
    * joined stream is the surviving-pair set, not the full bigram
    * vocabulary. At 100 TB the only full-volume work is the single
    * scan→explode→rollup pipeline; all joins are vocabulary-sized.
    *
    * Determinism (SURVEY §5.3): the PMI double is computed with the
    * SAME IEEE expression tree in Spark and the DuckDB oracle
    * ((c12/N2) / ((c1/N1)·(c2/N1)), one ln), rounded to 6dp, and the
    * top-k ranks on the ROUNDED value with a (w1, w2) tie-break.
    */
  def ngramPmi(spark: SparkSession, sfDir: String,
      minCount: Int = 5, k: Int = 100): DataFrame =
    ngramPmiDocs(Tables.documents(spark, sfDir), minCount, k)

  /** Core of [[ngramPmi]] over any (text) frame. */
  def ngramPmiDocs(docs: DataFrame,
      minCount: Int = 5, k: Int = 100): DataFrame = {
    val toksCol = split(normText(col("text")), " ")
    // Each token once as w1; w2 = successor, or the "" sentinel at doc
    // end. Both columns COALESCE-non-nullable and the emptiness guard
    // is DOC-level (identical in every branch, below the rollup) — so
    // no branch has a derivable IsNotNull/length constraint, which is
    // what keeps the per-branch subtrees canonically identical: the
    // first cut filtered tokens per-branch, the c12→c1 joins inferred
    // length(w2)>0 onto one branch only, pushdown sank it below the
    // rollup, and the "shared" pass silently became three scans.
    val pairCounts = docs
      .filter(length(normText(col("text"))) > 0)
      .select(explode(zip_with(toksCol, slice(toksCol, lit(2),
          greatest(size(toksCol) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(coalesce(col("bg.w1"), lit("")).as("w1"),
        coalesce(col("bg.w2"), lit("")).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pc"))
    val c1 = pairCounts.groupBy(col("w1")).agg(sum(col("pc")).as("c"))
      .select(col("w1").as("w"), col("c"))
    val tot = pairCounts.agg(
      sum(col("pc")).cast("double").as("n1"),
      sum(when(col("w2") =!= "", col("pc")).otherwise(lit(0L)))
        .cast("double").as("n2"))
    // the w2 join drops the sentinel rows (no "" key exists in c1 —
    // tokens of non-empty docs are never empty), so no w2 filter is
    // needed anywhere
    pairCounts.filter(col("pc") >= minCount)
      .select(col("w1"), col("w2"), col("pc").as("c12"))
      .join(c1.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(c1.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log((col("c12").cast("double") / col("n2")) /
          ((col("c1").cast("double") / col("n1")) *
            (col("c2").cast("double") / col("n1")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** `mix_budget` — data-mixing by token budget: for each language,
    * keep a deterministic pseudo-random subset of documents whose
    * whitespace-token counts fill a fixed budget — the proportioning
    * step of training-data curation (hit a target token count per
    * domain/language, reproducibly). Selection order is the md5-prefix
    * hash of doc_id (the [[graft.functions.ScalarFns.sampleHash]]
    * key-pure idiom: a pure function of the key, independent of
    * partition layout, identical across engines and cluster sizes),
    * doc_id tie-broken; a doc is kept iff the tokens BEFORE it in that
    * order are under budget, so the budget overshoots by at most one
    * document and the first document per language always survives.
    *
    * Scale shape: one row-local token count + hash, one keyed window
    * (per-language running sum). A single language's partition is
    * corpus-sized at 100 TB — the documented scale path is the
    * [[qualityLmBucketApprox]] treatment: pre-aggregate token sums per
    * hash bucket, find the budget-crossing bucket from the (tiny)
    * bucket rollup, and run the exact window only inside that boundary
    * bucket.
    */
  def mixBudget(spark: SparkSession, sfDir: String,
      budget: Long = 5000L): DataFrame =
    mixBudgetDocs(Tables.documents(spark, sfDir), budget)

  /** `mix_budget_approx` — the SCALE form of [[mixBudget]], and "approx"
    * only in plan shape: the output is BIT-IDENTICAL (same oracle SQL).
    * [[mixBudget]]'s per-language window sorts the whole corpus; here
    * the 32-bit hash-rank space is pre-cut into `buckets` ranges, a
    * per-(lang, bucket) token rollup (tiny: |langs|·buckets rows) finds
    * the budget-crossing bucket per language, every bucket past it is
    * PRUNED BEFORE the window — so the exact sort+cumsum runs only
    * over the kept prefix (≤ budget + one bucket of tokens per
    * language, independent of corpus size). The quality_lm_bucket_approx
    * sketch-cut treatment applied to a running-sum cutoff. A doc in a
    * fully-kept bucket satisfies before_doc < budget by construction
    * (its prefix is bounded by the bucket rollup's own prefix), so the
    * final per-doc rule only ever trims inside the crossing bucket.
    */
  def mixBudgetApprox(spark: SparkSession, sfDir: String,
      budget: Long = 5000L, buckets: Int = 256): DataFrame =
    mixBudgetApproxDocs(Tables.documents(spark, sfDir), budget, buckets)

  /** Core of [[mixBudgetApprox]] over any (doc_id, lang, text) frame. */
  def mixBudgetApproxDocs(docs: DataFrame,
      budget: Long, buckets: Int): DataFrame =
    budgetPrefixPruned(docs.select(col("doc_id"), col("lang"),
      wsTokens.cast("long").as("n_tokens")),
      lit(budget), buckets)

  /** The bucket-pruned form of [[budgetPrefixCol]] — same selection
    * rule, scale plan shape (VERDICT r11 #1: ONE pruning treatment,
    * consumed by [[mixBudgetApproxDocs]], [[mixWeightedDocs]] and
    * [[pipelineCurateV3]]'s mix stage alike). The 32-bit hash-rank
    * space is pre-cut into `buckets` ranges; a per-(lang, bucket)
    * token rollup (tiny: |langs|·buckets rows) finds the
    * budget-crossing bucket per language, and every bucket past it is
    * PRUNED BEFORE the window, so the exact per-language sort+cumsum
    * runs only over the kept prefix (≤ budget + one bucket of tokens
    * per language, independent of corpus size). A doc in a fully-kept
    * bucket satisfies before_doc < budget by construction (its prefix
    * is bounded by the bucket rollup's own prefix), so the final
    * per-doc rule only ever trims inside the crossing bucket — the
    * output is BIT-IDENTICAL to the unpruned window.
    *
    * `budget` must be a function of `lang` alone (a literal, or
    * [[weightBudget]]'s CASE over lang): the rollup groups by
    * (lang, bucket), so a budget that varied WITHIN a language would
    * make the crossing-bucket filter ill-defined. The input subtree is
    * evaluated twice (rollup + join probe) — two fully parallel passes
    * in exchange for never sorting a corpus-sized language partition;
    * for a plain scan input that is two pushdown-pruned scans, and for
    * a composed input (v3's curation DAG) it is a 2× constant on
    * embarrassingly parallel work, vs. the single-task corpus sort the
    * unpruned window degenerates to at 100 TB.
    */
  private def budgetPrefixPruned(t: DataFrame,
      budget: org.apache.spark.sql.Column, buckets: Int): DataFrame = {
    val bucketWidth = 4294967296L / buckets // rank space is 8 hex digits
    val t2 = t.withColumn("rk", hashRank(col("doc_id")))
      .withColumn("b", expr(s"rk DIV ${bucketWidth}L"))
    val wb = Window.partitionBy(col("lang")).orderBy(col("b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val keptBuckets = t2.groupBy(col("lang"), col("b"))
      .agg(sum(col("n_tokens").cast("long")).as("bt"))
      .withColumn("before_b", coalesce(sum(col("bt")).over(wb), lit(0L)))
      .filter(col("before_b") < budget)
      .select(col("lang"), col("b"))
    budgetPrefixCol(
      t2.join(broadcast(keptBuckets), Seq("lang", "b"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("rk")),
      budget, rkPrecomputed = true)
  }

  /** Core of [[mixBudget]] over any (doc_id, lang, text) frame. */
  def mixBudgetDocs(docs: DataFrame, budget: Long): DataFrame =
    budgetPrefix(docs.select(col("doc_id"), col("lang"),
      wsTokens.cast("long").as("n_tokens")),
      budget)

  /** The hash-ordered per-language budget prefix — the ONE definition
    * of the selection rule, shared by [[mixBudgetDocs]],
    * [[mixBudgetApproxDocs]] (post-pruning), [[mixWeightedDocs]]
    * (per-language budgets from a mixture spec) and
    * [[pipelineCurateV3]] (post-curation): rank by [[hashRank]]
    * (doc_id tie-broken), keep a doc iff the tokens before it are
    * under the (possibly per-row) budget. Preserves the incoming
    * `n_tokens` type; extra input columns are projected away.
    */
  private def budgetPrefix(t: DataFrame, budget: Long): DataFrame =
    budgetPrefixCol(t, lit(budget))

  /** `rkPrecomputed = true` lets a caller that ALREADY ranked by
    * [[hashRank]] (mix_budget_approx, for its bucketing) skip the
    * second per-row md5 — an EXPLICIT opt-in, not name-sniffing: a
    * frame that happened to carry an unrelated `rk` column must not
    * silently replace the selection order the oracle SQL encodes.
    */
  private def budgetPrefixCol(t: DataFrame,
      budget: org.apache.spark.sql.Column,
      rkPrecomputed: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("rk").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    (if (rkPrecomputed) t
     else t.withColumn("rk", hashRank(col("doc_id"))))
      .withColumn("before_toks",
        coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .filter(col("before_toks") < budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("before_toks") + col("n_tokens").cast("long"))
          .as("cum_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** `mix_weighted` — data-mixing against a TARGET MIXTURE: the usual
    * curation input is not one uniform per-domain budget but a mixture
    * spec ("40% en, 25% de, …") plus a total token budget; each
    * language's budget is its share of the total, and selection within
    * a language is [[mixBudget]]'s hash-ordered prefix (same
    * [[budgetPrefixCol]] rule, per-row budget). Weights that don't
    * mention a language give it budget 0 — it is excluded entirely,
    * which is how a mixture drops a domain. Integer share arithmetic
    * (totalBudget·num DIV den) keeps the per-language budgets exact
    * and oracle-replicable.
    */
  def mixWeighted(spark: SparkSession, sfDir: String,
      totalBudget: Long = 10000L): DataFrame =
    mixWeightedDocs(Tables.documents(spark, sfDir), totalBudget,
      DefaultMixWeights)

  /** The default mixture: per-mille weights (sum 1000) over the five
    * fixture languages — en-heavy with a zh tail, the typical
    * multilingual-pretraining shape. ONE definition, consumed by both
    * the operator and SparkEntry's oracle-SQL generator.
    */
  val DefaultMixWeights: Seq[(String, Int)] =
    Seq("en" -> 400, "de" -> 250, "es" -> 200, "fr" -> 100, "zh" -> 50)

  /** The per-language budget of `lang` under `weights` (per-mille) as a
    * CASE column: `totalBudget·w DIV 1000`, 0 for unlisted languages.
    */
  private def weightBudget(totalBudget: Long,
      weights: Seq[(String, Int)]): org.apache.spark.sql.Column =
    weights.foldLeft(when(lit(false), lit(0L))) { case (acc, (lg, w)) =>
      acc.when(col("lang") === lg, lit(totalBudget * w / 1000))
    }.otherwise(lit(0L))

  /** Core of [[mixWeighted]] over any (doc_id, lang, text) frame.
    * Routed through [[budgetPrefixPruned]] (VERDICT r11 #1): the
    * per-language budget is a CASE over lang — exactly the
    * lang-functional budget the pruned rollup supports — so the
    * mixture selection never sorts past the crossing bucket either.
    * A language with weight 0 (unlisted) keeps NO buckets
    * (before_b < 0 is never true), reproducing the drop-domain rule.
    */
  def mixWeightedDocs(docs: DataFrame, totalBudget: Long,
      weights: Seq[(String, Int)], buckets: Int = 256): DataFrame =
    budgetPrefixPruned(
      docs.select(col("doc_id"), col("lang"),
        wsTokens.cast("long").as("n_tokens")),
      weightBudget(totalBudget, weights), buckets)

  /** `mix_epochs` — fractional-epoch UP-sampling, the one mixing
    * direction the family still lacked (every other mix op SUBSETS):
    * pretraining mixture tables quote per-dataset epoch counts
    * ("2.5 epochs of wiki, 1.0 of web, 0.5 of forums" — the
    * GPT-3/LLaMA table form), and a repeated dataset must emit
    * MULTIPLE COPIES of each document into the shuffled corpus. A doc
    * from a source with e epochs emits floor(e) copies, plus one more
    * iff its deterministic md5 coin falls under frac(e) — so the
    * EXPECTED per-source volume is exactly e·n while every individual
    * doc's copy count is a pure function of its id (the sample_hash
    * discipline: reproducible across engines, runs, partition layouts,
    * and cluster sizes, unlike rand()-based upsampling). The coin is
    * ID-keyed, not content-keyed, deliberately: upsampling is a token
    * BUDGET device, and duplicate-content docs still count separately
    * toward their source's budget (leakage policy is [[sampleSplit]]'s
    * job, applied downstream on content).
    *
    * Epochs are integer PERCENT (250 = 2.5 epochs) in an explicit
    * spec-as-data list ([[DefaultEpochs]], the [[DefaultMixWeights]]
    * pattern — one definition consumed by operator and oracle);
    * unlisted sources get 0 epochs and drop entirely (the mixture's
    * drop-domain rule).
    *
    * Scale shape: one row-local CASE + md5 + explode(sequence) — no
    * join, no shuffle before the output ORDER BY; output volume is
    * Σ eₛ·nₛ by construction, the caller's stated budget.
    */
  def mixEpochs(spark: SparkSession, sfDir: String): DataFrame =
    mixEpochsDocs(Tables.documents(spark, sfDir), DefaultEpochs)

  /** The default epoch table: percent epochs over the 20 fixture
    * sources, cycling 1.0×/1.5×/2.0×/2.5× — one definition, consumed
    * by both the operator and SparkEntry's oracle-SQL generator.
    */
  val DefaultEpochs: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" -> (100 + (i % 4) * 50))

  /** Core of [[mixEpochs]] over any (doc_id, lang, source) frame. */
  def mixEpochsDocs(docs: DataFrame,
      epochs: Seq[(String, Int)]): DataFrame =
    epochCopies(docs, epochs, lit(false))
      .select(col("doc_id"), col("lang"), col("source"), col("copy_id"))
      .orderBy(col("doc_id").asc, col("copy_id").asc)

  /** The epoch-copy rule: a document of a source with p percent epochs
    * gets floor(p / 100) copies, plus one more iff its md5 coin
    * ([[hashRank]] mod 100) is under p mod 100, numbered by `copy_id`; a
    * row where `once` holds gets exactly one. A source absent from
    * `epochs` drops entirely.
    */
  private def epochCopies(docs: DataFrame, epochs: Seq[(String, Int)],
      once: Column): DataFrame = {
    val ePct = epochs.foldLeft(when(lit(false), lit(0))) {
      case (acc, (src, p)) => acc.when(col("source") === src, lit(p))
    }.otherwise(lit(0))
    docs
      .withColumn("e_pct", ePct)
      .filter(col("e_pct") > 0)
      .withColumn("coin", (hashRank(col("doc_id")) % 100).cast("int"))
      .withColumn("n_copies", when(once, lit(1)).otherwise(
        floor(col("e_pct") / 100).cast("int") +
          when(col("coin") < col("e_pct") % 100, 1).otherwise(0)))
      .filter(col("n_copies") > 0)
      .withColumn("copy_id", explode(sequence(lit(0), col("n_copies") - 1)))
  }

  /** `mix_temperature` — exponent-smoothed multilingual sampling: the
    * mixture WEIGHTS are derived from the corpus itself as
    * w_l ∝ n_l^α with α = 1/2 (the mBERT/XLM-R smoothing that
    * up-samples tail languages relative to their raw share), then the
    * per-language budgets (totalBudget·w_l ÷ Σw) feed the SAME
    * bucket-pruned hash-prefix selection as [[mixWeighted]]. Where
    * `mix_weighted` takes the mixture as a given spec, this derives it
    * — the curation pipeline's "balance the crawl" step.
    *
    * Determinism: w_l = ⌊√n_l⌋ — IEEE-754 sqrt and floor are exactly
    * specified, so both engines integer-floor the SAME double (exact
    * for n_l < 2^53; a corpus past 9·10¹⁵ tokens per language would
    * widen to isqrt over DECIMAL); budgets are pure integer shares
    * from there. The per-language raw totals are a language-count-sized
    * aggregate COLLECTED to the driver (the IVF-codebook
    * bounded-collect class: |langs| rows, never corpus rows) because
    * the budget column must be a lang-functional CASE for
    * [[budgetPrefixPruned]]'s crossing-bucket rule.
    *
    * Scale shape: three fully-parallel passes over the token frame
    * (lang totals, bucket rollup, pruned probe) and never a
    * corpus-sized sort — the [[budgetPrefixPruned]] guarantee.
    */
  def mixTemperature(spark: SparkSession, sfDir: String,
      totalBudget: Long = 10000L): DataFrame =
    mixTemperatureDocs(Tables.documents(spark, sfDir), totalBudget)

  /** Core of [[mixTemperature]] over any (doc_id, lang, text) frame. */
  def mixTemperatureDocs(docs: DataFrame, totalBudget: Long,
      buckets: Int = 256): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
      wsTokens.cast("long").as("n_tokens"))
    val langTotals = t.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("tot"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val ws = langTotals.map { case (lg, n) =>
      (lg, math.floor(math.sqrt(n.toDouble)).toLong)
    }
    val sumW = ws.map(_._2).sum
    // Σ⌊√n_l⌋ = 0 ⟺ every language's token total is 0 (or the corpus
    // is empty): no document can be selected, so return the empty
    // schedule (the selection's output shape) instead of dividing by
    // zero in the budget shares
    if (sumW == 0L)
      return t.select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_tokens").as("cum_tokens")).limit(0)
    val budgetCol = ws.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (lg, w)) =>
        acc.when(col("lang") === lg, lit(totalBudget * w / sumW))
    }.otherwise(lit(0L))
    budgetPrefixPruned(t, budgetCol, buckets)
  }

  /** `corpus_report` — the dataset-card rollup every released corpus
    * ships (docs / tokens / chars per language, per source, per cell,
    * and overall): ONE scan through GROUPING SETS — the multi-level
    * report is a single aggregation, not four (Catalyst expands the
    * sets in the same hash-agg pass; grouped nulls label their level).
    * Whitespace tokens use `token_count`'s normalization so the card's
    * token column reconciles with the per-doc query.
    *
    * avg_chars is EXACT HALF-UP to 4 dp in integer arithmetic —
    * `(sum*20000 + n) div (2n)` then ONE IEEE division by 10000 — so
    * both engines land on the same bits even when a group's mean sits
    * on an exact .5 ten-thousandth boundary (two sf0.1 groups do).
    * Headroom: sum*20000 fits a BIGINT while Σn_chars < 4.6e14
    * (~460 TB of text per report cell).
    */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame = {
    // tokenization goes through the ONE shared normText definition
    // (an inline SQL copy of the regex was a review finding: any
    // future normalization change would silently desynchronize the
    // card's token column from token_count's) — the normalized frame
    // registers under a per-call view the GROUPING SETS SQL reads
    val v = "__graft_corpus_report_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), col("n_chars"),
        wsTokens.cast("long").as("n_tokens"))
      .createOrReplaceTempView(v)
    val df = spark.sql(
      raw"""SELECT CASE WHEN grouping(lang) = 0 AND grouping(source) = 0
        |              THEN 'cell'
        |            WHEN grouping(lang) = 0 THEN 'lang'
        |            WHEN grouping(source) = 0 THEN 'source'
        |            ELSE 'corpus' END AS level,
        |  coalesce(lang, '(all)') AS lang,
        |  coalesce(source, '(all)') AS source,
        |  COUNT(1) AS n_docs,
        |  SUM(n_tokens) AS n_tokens,
        |  SUM(n_chars) AS n_chars,
        |  CAST((SUM(n_chars) * 20000 + COUNT(1)) div (2 * COUNT(1))
        |    AS DOUBLE) / 10000 AS avg_chars
        |FROM $v
        |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        |ORDER BY level ASC, lang ASC, source ASC""".stripMargin)
    spark.catalog.dropTempView(v) // plan already analyzed
    df
  }

  /** `mix_curriculum` — the curriculum SCHEDULE a pretraining pipeline
    * emits (curriculum learning: present fluent text first, noisy text
    * last): phase = the CCNet per-language perplexity tercile
    * (`quality_lm_bucket`'s keyed ntile, 1 = head → 3 = tail), and
    * within a phase documents take the deterministic md5-prefix
    * [[hashRank]] order — the reproducible "shuffled within phase"
    * order a curriculum dataloader consumes, a pure key function with
    * no RNG state. Total order: (phase, rank, doc_id).
    *
    * Shape: rides the memoized lm-score pass (one corpus scan shared
    * with the lm family), one language-keyed ntile window, and a
    * row-local rank; the terminal sort is presentation, the schedule
    * itself is the (phase, rank) KEY — a consumer range-reads it
    * without ever re-sorting the corpus.
    *
    * Scale bound (the [[qualityLmBucketCutoff]] statement, verbatim
    * for this operator): a window partition cannot be split across
    * tasks, so at 100 TB a dominant language would funnel its whole
    * score set through ONE ntile sort task — this exact form is
    * bounded by the largest single language's row count, not the
    * corpus. The library's 100 TB path is [[mixCurriculumCutoff]]
    * (sketch-cutoff phases, no window — per-task work is sort-free
    * and keyed), with [[mixCurriculumApprox]] as its driver-gated
    * boundary-safe verification; this exact ntile form is the
    * fixture-scale declared row, the same exact-declared /
    * approximate-at-scale pairing as quality_lm_bucket vs its
    * cutoff/approx pair.
    */
  def mixCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logp").desc, col("doc_id").asc)
    cachedLmScores(spark, sfDir)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("phase", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("phase"),
        hashRank(col("doc_id")).as("rank"))
      .orderBy(col("phase").asc, col("rank").asc, col("doc_id").asc)
  }

  /** A bucketed frame (head/middle/tail) turned into the curriculum
    * schedule — shared by the exact, cutoff, and approx forms. */
  private def curriculumOf(bucketed: DataFrame): DataFrame =
    bucketed.select(col("doc_id"), col("lang"),
      when(col("bucket") === "head", 1)
        .when(col("bucket") === "middle", 2).otherwise(3).as("phase"),
      hashRank(col("doc_id")).as("rank"))
      .orderBy(col("phase").asc, col("rank").asc, col("doc_id").asc)

  /** The library's 100 TB curriculum path: sketch-cutoff phases (NO
    * per-language ntile window — [[qualityLmBucketCutoff]]'s shape) +
    * the row-local hash rank. Not oracle-able (sketch cuts aren't
    * bit-reproducible cross-engine); [[mixCurriculumApprox]] is the
    * DECLARED boundary-safe verification of the same composition.
    */
  def mixCurriculumCutoff(spark: SparkSession, sfDir: String): DataFrame =
    curriculumOf(qualityLmBucketCutoff(spark, sfDir))

  /** `mix_curriculum_approx` — the cutoff curriculum restricted to
    * docs provably away from the tercile boundaries (the
    * quality_lm_bucket_approx scaffolding verbatim), so every kept
    * doc's phase — and the schedule hash — is engine-independent.
    * This is `mix_curriculum`'s driver-gated scale sibling: the
    * dominant-language ntile funnel disappears with the window.
    */
  def mixCurriculumApprox(spark: SparkSession, sfDir: String): DataFrame =
    curriculumOf(qualityLmBucketApprox(spark, sfDir))
}
