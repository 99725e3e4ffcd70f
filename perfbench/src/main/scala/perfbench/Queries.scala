package perfbench

/** The query sets of the query workloads; NOTES.md says how they were
  * chosen.
  */
object Queries {
  /** The analyst's mix: from the light set ranked by its noop time at
    * sf0.1 (`derive`, NOTES.md), the query at the middle of each eighth;
    * listed by name, which is also their Zipf rank.
    */
  val mix: Seq[String] = Seq(
    "agg_argmax", "filter_not_in_null", "fn_string2", "join_multiway",
    "join_semi", "project_distinct", "q_shaped_q4", "set_union_by_name")

  /** The curation pass: one declared query per heavy family (dedup tier,
    * search index, graph fixpoint, curation pipeline, tokenizer consumer,
    * perceptual dedup, streaming replay twin).
    */
  val heavy: Seq[String] = Seq(
    "dedup_minhash", "simsearch_ivf", "graph_pagerank", "pipeline_curate",
    "unigram_encode", "multimodal_phash", "stream_dedup_semantic_ok")
}
