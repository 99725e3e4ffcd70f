package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The blocking join behind every near-duplicate tier: rows pair only
  * when they share a block key (an LSH band hash, a shingle hash, a
  * 16-bit phash band, an IVF cell), so candidate generation is
  * block-local and never all-pairs — the blocked similarity join
  * (ICDE 2022) and the seen-store rule of incremental top-k similarity
  * (EDBT 2020), both in PAPERS.md. Callers supply their block key, the
  * columns they carry, their verify predicate and their own dedup step;
  * this object holds the two pair rules, once each:
  *
  *  - '''self-join''' ([[selfPairs]]): a pair is (a, b) with
  *    `a_id < b_id` — every unordered pair once, no self-pairs;
  *  - '''seen-store''' ([[seenPairs]]): a delta row n pairs with o iff
  *    o ∈ store ∨ o_id < n_id — any store row, or an earlier delta row.
  *    A delta row is judged against what was SEEN before it, so two
  *    ordered delta batches (the second against store ∪ batch 1) give
  *    the one-batch answer.
  *
  * Both repartition the (delta's) blocks on the key once: every join
  * side that reads them shares that one Exchange (ReuseExchange), so the
  * signature, fingerprint or assignment upstream runs once and the keyed
  * joins shuffle nothing further. The seen-store rule is written as two
  * joins unioned — delta × store, and delta × delta with o_id < n_id —
  * not as one join over store ∪ delta with a store flag: the store side
  * stays a plain keyed read (prunable to the buckets the delta touches),
  * and the delta's one Exchange feeds all three delta join inputs
  * (PlanShapeSpec pins the reuse for every incremental tier).
  *
  * Left out on purpose:
  *  - `SimSearch.dedupEmbeddingExactDocs` — the all-pairs non-equi
  *    reference DedupSpec compares the blocked rows against; it has no
  *    block key by design;
  *  - `SimSearch.neighborGraphEdges` / `incrementalGraphEdges` — their
  *    edges are directed (`src =!= dst`), not `a_id < b_id` pairs;
  *  - `MinHashDedup.decontaminateMinhashDocs` — one cross-set broadcast
  *    join (corpus × benchmark), nothing self-joins;
  *  - the DuckDB oracle SQL, which states each rule on its own.
  */
private[graft] object Blocking {

  /** The lossless 4 × 16-bit band explode of a ≤ 64-bit fingerprint `h`
    * into (band, bval): Hamming ≤ 3 ⇒ some band is equal (pigeonhole),
    * so a (band, bval) join finds every such pair.
    */
  def bands16(h: Column): Column = {
    posexplode(array((0 until 4).map(b =>
      shiftright(h, b * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band", "bval"))
  }

  /** One join side: the keys, `id` as `<p>_id`, each carried `c` as
    * `<p>_<c>`.
    */
  private def side(blocks: DataFrame, keys: Seq[String], id: String,
      carry: Seq[String], p: String): DataFrame = {
    blocks.select(keys.map(col) ++ (col(id).as(s"${p}_id") +:
      carry.map(c => col(c).as(s"${p}_$c"))): _*)
  }

  private def pairCols(keys: Seq[String], carry: Seq[String],
      x: String, y: String): Seq[Column] =
    (keys ++ Seq(s"${x}_id", s"${y}_id") ++ carry.map(c => s"${x}_$c") ++
      carry.map(c => s"${y}_$c")).map(col)

  /** Self-join of `blocks` on `keys` under `a_id < b_id`: (keys…, a_id,
    * b_id, a_<c>…, b_<c>…). A pair sharing several blocks appears once
    * per block; the caller dedups.
    */
  def selfPairs(blocks: DataFrame, keys: Seq[String], id: String,
      carry: Seq[String] = Nil): DataFrame = {
    val parts = blocks.repartition(keys.map(col): _*)
    side(parts, keys, id, carry, "a")
      .join(side(parts, keys, id, carry, "b"), keys)
      .filter(col("a_id") < col("b_id"))
      .select(pairCols(keys, carry, "a", "b"): _*)
  }

  /** Seen-store pairs of the delta's blocks against the store's blocks
    * and the delta's own earlier rows (o ∈ store ∨ o_id < n_id):
    * (n_id, o_id, n_<c>…, o_<c>…). A pair sharing several blocks
    * appears once per block; the caller dedups.
    */
  def seenPairs(storeBlocks: DataFrame, deltaBlocks: DataFrame,
      keys: Seq[String], id: String, carry: Seq[String] = Nil): DataFrame = {
    val delta = deltaBlocks.repartition(keys.map(col): _*)
    val n = side(delta, keys, id, carry, "n")
    val out = pairCols(Nil, carry, "n", "o")
    n.join(side(storeBlocks, keys, id, carry, "o"), keys).select(out: _*)
      .union(n.join(side(delta, keys, id, carry, "o"), keys)
        .filter(col("o_id") < col("n_id")).select(out: _*))
  }
}
