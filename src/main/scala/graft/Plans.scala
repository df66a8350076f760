package graft

import java.nio.file.{Files, Paths}

/** Dumps the executed (AQE-final) physical plans of the headline queries to
  * PLANS.md — the artifact to eyeball for pushdown/broadcast/codegen
  * regressions and for plan review at scale.
  *
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {

  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_revenue", "q5_local_supplier_volume",
    "q_filter_project", "q_minhash_lsh_pairs", "q_ngram_jaccard_pairs",
    "q_cosine_topk", "q_ann_ivf", "q_exact_dedup", "q_sessionize",
    "q_asof_join", "q_range_join", "q_stratified_sample", "q_doc_chunks",
    "q_training_mix", "q_decontaminate", "q_stats_moments",
    "q6_forecast_revenue", "q17_small_quantity", "q18_big_orders",
    "q_bloom_decontaminate", "q_cms_freq", "q_kmeans_assign",
    "q7_nation_volume", "q19_disjunctive", "q22_dormant_customers",
    "q_repetition_signals", "q_shared_windows", "q_source_overlap",
    "q_tfidf_top_terms", "q_range_window", "q_dsir_importance",
    "q8_market_share", "q9_profit_proxy", "q11_part_value_share",
    "q16_supplier_variety", "q20_top_shippers",
    "q_ngram_jaccard_prefix", "q_lsh_recall", "q_image_decode",
    "q_audio_decode",
    "q_incremental_dedup", "q_semantic_dedup", "q_compression_ratio",
    "q_mp4_metadata", "q_dedup_survivors_capped", "q_dedup_survivors_lsh",
    "q_ingest_versioned_roundtrip",
    "q_bm25_search", "q_vocab_oov", "q_skew_profile", "q_gapfill",
    "q_incremental_view", "q_rate_anomaly", "q_join_size_estimate",
    "q_pagerank", "q_triangle_count", "q_markov_transitions",
    "q_rrf_fusion", "q_column_profile", "q_correlation", "q_lag_features",
    "q_lang_gini",
    "q_pagerank_converged", "q_containment_pairs", "q_temperature_mix",
    "q_hard_negatives", "q_novelty_scores", "q_scd2_intervals",
    "q_dedup_cluster_stats",
    "q_dup_spans", "q_dup_span_trim", "q_image_resize",
    "q_incremental_span_trim", "q_curation_v2", "q_dedup_survivors_best",
    "q_lateral_topk", "q_recursive_depth",
    "q_token_budget_scaled", "q_bpe_tokens", "q_pack_bpe",
    "q_quality_model", "q_curation_model", "q_multimodal_features",
    "q_hub_update_sql", "q_hub_merge_delete_sql", "q_hub_catalog_join",
    "q_hub_merge_nmbs_sql", "q_hub_dv_delete", "q_hub_default_sql",
    "q_hub_merge_on_sql", "q_hub_check_sql", "q_hub_generated_sql",
    "q_hub_identity_sql", "q_hub_batch_cdf", "q_hub_clustered_sql",
    "q_ann_ivf_trained", "q_hub_convert_partitioned", "q_bpe_learn",
    "q_ivf_adc_topk", "q_quality_learn", "q_hub_dedup_inplace",
    "q_ivf_index_hub",
    // round 17
    "q_ivf_adc_residual", "q_ann_ivf_seeded", "q_quality_learn_multi",
    "q_pq_encode", "q_adc_index_hub",
    // round 18
    "q_html_extract", "q_bpe_index_hub", "q_ann_ivf_kpp",
    "q_curation_multiclass", "q_pq_topk", "q_line_dedup",
    "q_domain_filter", "q_markdown_extract", "q_gopher_rules",
    // round 19
    "q_gopher_repetition", "q_gopher_full", "q_warc_extract",
    "q_domain_psl", "q_unicode_dedup", "q_lm_perplexity_buckets",
    "q_unigram_tokens", "q_curation_gopher",
    // round 20
    "q_scan_scale_probe")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val selected = SparkEntry.select(headline)
    val spark = GraftSession.build()
    val sb = new StringBuilder
    sb.append("# Executed physical plans (headline queries)\n\n")
    sb.append(s"Generated by `runMain graft.Plans` on `$sfDir`. AQE-final plans ")
    sb.append("(`*(n)` = whole-stage-codegen span n). Things to check:\n")
    sb.append("PushedFilters reach the FileScan, ReadSchema is pruned, small\n")
    sb.append("dims use BroadcastHashJoin, aggs are partial+final, no\n")
    sb.append("CartesianProduct outside the intended broadcast NL joins.\n")
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString
        .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
