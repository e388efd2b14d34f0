package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence dump: `explain("formatted")` of the headline queries →
  * PLANS.md — the inspectable record behind the engine's pushdown /
  * broadcast / WholeStageCodegen / WindowGroupLimit claims (the
  * free-form companion to the `plans.PlanChecks` assertions the spec
  * suite pins).
  * Run: `sbt "runMain graft.PlanDump [sfDir] [outFile]"`.
  */
object PlanDump {
  /** `explain("formatted")` of registered query `name` over `dir`. */
  def formatted(spark: SparkSession, name: String, dir: String): String =
    Harness.runQuery(spark, name, dir,
      _.queryExecution.explainString(FormattedMode))._1

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Harness.session(4)
    val names = Seq(
      "events_speed_faithful", "taxi_avg_speed_faithful",
      "q1_pricing_summary", "q2_filter_project", "q4_star_broadcast",
      "q14_window_rank", "q16_topk", "q28_skew_join",
      "q27_approx_distinct", "q34_range_join", "q35_asof_join",
      "q53_sole_late_supplier",
      "t10_unigram_logprob", "t11_pii_redact", "t12_sequence_pack",
      "w6_window_topk",
      "d2_jaccard_pairs", "d6_embedding_dedup", "d8_containment_pairs",
      "d11_decontaminate", "d12_curate", "d13_embedding_clusters",
      "d16_ngram_span_removal", "d17_semantic_dedup",
      "s1_cosine_topk", "s2_ann_topk", "s3_ivf_topk", "s4_knn_join",
      "s7_kmeans_iter", "s9_dequantized_topk", "s10_pq_topk",
      "t6_tfidf", "t9_mix_stats", "t13_gopher_quality",
      "t14_heavy_hitters", "t15_bm25_rank", "t16_bigram_logprob",
      "t17_zipf_fit", "s11_radius_search", "d18_quality_dedup",
      "d19_split_assign", "m6_audio_energy", "q52_weighted_mix",
      "q54_volume_shipping", "q55_market_share",
      "q58_profit", "d20_domain_cap", "t19_ccnet_buckets", "s13_ivfpq_topk",
      "d22_curation_pipeline", "q59_best_supplier", "q60_gap_fill",
      "w8_window_uniques", "t20_dsir_weights", "d23_cross_dedup",
      "w3_session_window", "w7_click_attribution",
      "q61_ewma", "q62_anomaly", "m7_media_phash", "m8_media_phash_pairs",
      "s14_ivf_persisted_topk", "t21_chunk", "t22_vocab_oov", "t23_encode",
      "q63_retention", "q64_funnel", "q65_conversion_lag",
      "q66_stickiness", "t24_novelty", "d24_shard_manifest",
      "docs_jsonl_ingest",
      "q67_big_orders", "m9_shot_boundaries", "s16_ivf_knn_join",
      "t25_countmin", "t26_readability", "t27_sentence_chunks",
      "m10_vad_segments", "d25_contamination_report", "s17_jl_project",
      "g1_pagerank", "g2_triangles", "q68_dormant_customers",
      "m11_patchify", "g3_clustering", "t28_collocations",
      "g4_assortativity", "d27_epoch_shuffle", "m12_dct_phash",
      "m13_dct_phash_pairs", "t29_bpe_merges", "g5_coreness",
      "d26_temperature_mix", "q69_supplier_counts", "m14_byte_entropy", "q70_excess_stock",
      "t30_token_budget", "d28_persisted_cross_dedup", "q71_value_tiles",
      "w9_inactive_users", "g6_supplier_overlap",
      "q72_late_priority", "d29_edit_distance_pairs",
      "t31_classifier_filter", "d30_persisted_lsh_dedup",
      "s18_hybrid_rrf", "d31_snapshot_diff", "q73_zorder_stats",
      "q74_incremental_agg", "t32_mixture_drift", "w10_multi_touch",
      "g7_backbone_components", "q75_scd2_history", "d32_winnow_pairs",
      "q76_asof_dimension", "q77_asof_native", "q78_bucketed_join",
      "q79_partition_pruning", "q80_asof_forward", "q81_dynamic_pruning",
      "d33_compact_shards", "q82_shuffle_hash", "t33_dup_ngrams",
      "q83_revenue_forecast", "q84_important_parts",
      "q85_fulfilment_priority", "q86_mad_anomaly", "q87_approx_quantiles",
      "s19_sign_hamming", "g8_reachability", "t34_rake_keywords",
      "d34_cdc_chunks", "m15_channel_stats", "s20_hamming_rerank",
      "d35_chunk_novelty", "q88_upsert_publish", "q89_version_diff", "m16_patch_embed_topk", "g9_communities", "q90_pit_enrich", "t35_bpe_encode", "d36_quality_keeper",
      "g10_shortest_paths", "d37_url_canonical", "q91_erase_cow",
      "q92_table_history", "q93_quality_constraints",
      "d38_token_sort_dedup",
      "q94_vacuum_retention", "q95_schema_evolution", "q96_evolution_diff",
      "q97_optimize_compact",
      "q98_stats_skipping", "q99_zorder_skipping", "q100_change_feed",
      "q101_bloom_lookup", "q102_merge_dml", "q103_dml_feed",
      "q104_partition_evolution", "q105_dml_feed_cdf",
      "q106_metadata_count", "q107_join_pruned")
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans of headline queries (${new java.io.File(sfDir).getName})\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. ")
    sb.append("Things to look for: `PushedFilters`/pruned `ReadSchema` on scans, ")
    sb.append("`BroadcastHashJoin` for bounded dims, `WindowGroupLimit` for ")
    sb.append("per-group top-k, `dotproduct` inside WholeStageCodegen projects, ")
    sb.append("`InMemoryRelation` where an operator caches a branch-shared ")
    sb.append("relation (d11/d12/t9).\n")
    names.foreach { n =>
      sb.append(s"\n## $n\n\n```\n")
      sb.append(formatted(spark, n, sfDir))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println("WROTE " + outFile + " " + sb.length + " chars")
    spark.stop()
  }
}

/** Dev tool: `explain("formatted")` of named queries, one file each at
  * `<outDir>/<name>_<suffix>.txt` (before/after plan evidence for a
  * rewrite), at `SPARK_GRAFT_CPUS`:
  *   sbt "runMain graft.ExplainQ <sfDir> <outDir> <suffix> <query>..."
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, suffix) = args.take(3)
    val spark = Harness.session(Harness.envCpus)
    new java.io.File(out).mkdirs()
    args.drop(3).foreach { n =>
      Files.writeString(Paths.get(s"$out/${n}_$suffix.txt"),
        PlanDump.formatted(spark, n, dir))
      println(s"[explainq] wrote $out/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
