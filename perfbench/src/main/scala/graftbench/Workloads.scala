package graftbench

object Workloads {
  /** curation: the LLM-data-pipeline queries (names in `SparkEntry.queries`). */
  val Curation: Seq[String] = Seq(
    "dedup_exact", "dedup_clusters_exact", "dedup_ngram_jaccard",
    "dedup_sorted_neighborhood", "dedup_semantic", "text_decontaminate",
    "text_tfidf_top_terms", "text_perplexity_buckets", "sim_bruteforce_topk",
    "sim_mmr_topk", "pipeline_cluster_split", "pipeline_curation_funnel")

  /** cdc_mutation: batches per compaction cycle. */
  val BatchesPerCycle = 4
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
