package graft

/** Plan inspector: prints the formatted physical plan of selected queries
  * so scan pushdown / broadcast / codegen spans can be audited per round.
  * Usage: runMain graft.Explain [queryName ...]  (default: a scan-sensitive
  * subset).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q3_shipping_priority", "q_window_topk",
        "dedup_ngram_jaccard", "dedup_minhash", "sim_topk", "text_stats",
        "q_asof_attribution", "q_range_proximity", "text_contamination",
        "q_zorder_cells", "text_heavy_hitters", "dedup_canonical",
        "text_quality_floor", "text_rebalance", "q_embed_quantize",
        "q_epoch_shuffle", "q_sample_per_source", "text_token_rarity",
        "text_contamination_bloom", "text_bm25", "text_unigram_lp",
        "q_event_funnel", "q_cohort_retention", "q_rolling_features",
        "q_profile_events", "text_pmi", "text_domain_kl",
        "text_weighted_sample", "q9_product_profit", "q21_late_suppliers",
        "dedup_semantic", "dedup_paragraph", "multimodal_decode_real",
        "q_curation_report", "text_mixture_epochs", "q_pivot_daily")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
