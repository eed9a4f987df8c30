package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry without a SparkSession: its names, each query's
  * oracle, and the key order Verify's oracle_sql.json and Bench's output
  * follow.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val AnnQueries = Set("q_ann_ivf", "q_ann_pq", "q_ann_ivfpq")

  /** The registry's 193 names, in the iteration order of its Map. */
  private val Names = Seq(
      "q_reorg_purge", "q_partition_transform", "q_abc_analysis", "q_delivery_percentiles",
      "q_cap_tokens", "q_unigram_logprob", "q_histogram", "q_event_window", "q_event_journeys",
      "q_embed_normalize", "q_sessionize", "q_pricing_rollup", "q_dedup_clusters",
      "q_fingerprint", "q_pack_sequences", "q_clf_train", "q_clf_score", "q_agg_view_minmax",
      "q_sql_dml", "q_missing_bfill", "q_ql_topk", "q_ann_lsh", "q_forecast_holt",
      "q_dedup_minhash_incr", "q_orc_roundtrip", "q_star_join", "q_rename_column",
      "q_dup_span_merge", "q_benchmark_overlap", "q_asof_auto", "q_prototypicality",
      "q_sql_point", "q_redact", "q_moving_avg", "q_ann_ivfpq", "q_cluster_by", "q_meta_count",
      "q_sql_connector", "q_dsir_score", "q_quality_gate", "q_pack_emit", "q_dedup_retain",
      "q_merge_evolve", "q_table_log_cdf", "q_split_leakproof", "q_json_extract",
      "q_active_users", "q_psi_drift", "q_split_assign", "q_top_ngrams", "q_table_log_update",
      "q_cohort_retention", "q_normalize_categorical", "q_gopher_filter", "q_dedup_simhash",
      "q_audio_features", "q_missing_interpolate", "q_table_log_point", "q_skew_ndv",
      "q_ann_lsh_pairs", "q_attribution_decay", "q_generated_col", "q_event_transitions",
      "q_cdc_apply", "q_missing_ffill", "q_widen_column", "q_token_count", "q_hybrid_rank3",
      "q_update_nested", "q_ppl_buckets", "q_winnow_incr", "q_fuzzy_dedup", "q_zorder_scoped",
      "q_cdc_compact", "q_scd2", "q_ann_topk", "q_dedup_minhash_sig", "q_sql_timetravel",
      "q_frame_sample", "q_merge_into", "q_ckpt_multipart", "q_zorder_scan_hilbert",
      "q_sample_weighted", "q_null_prune", "q_upsert_lastwins", "q_sample_exact",
      "q_dedup_exact", "q_drop_column", "q_erasure_audit", "q_mat_project",
      "q_table_log_restore", "q_bpe_merges", "q_derived_metrics", "q_dedup_keepfirst",
      "q_csv_roundtrip", "q_timestamp_standardize", "q_ann_pq", "q_chunk_docs",
      "q_frame_extract", "q_winnow_fp", "q_multimodal_features", "q_rename_nested",
      "q_decontaminate", "q_range_join", "q_catalog_sql", "q_corpus_overlap", "q_outlier_flags",
      "q_dedup_minhash", "q_semantic_retain", "q_image_decode", "q_curation_e2e",
      "q_ann_ivf_exhaustive", "q_convert_partitioned", "q_text_repetition", "q_binary_meta",
      "q_bm25_bulk", "q_embed_quantize", "q_token_entropy", "q_top_n_heap", "q_profile",
      "q_image_resize", "q_purchase_intervals", "q_funnel", "q_table_log_clone",
      "q_forecast_anomaly", "q_view_sql", "q_temperature_sample", "q_nested_prune",
      "q_semantic_dedup", "q_table_log_prune", "q_top_tokens_approx", "q_shuffle_order",
      "q_table_log_delete", "q_price_elasticity", "q_winnow_overlap", "q_dedup_incremental",
      "q_user_pivot", "q_table_log", "q_validate_unique", "q_table_log_cdf_keyed",
      "q_attribution_linear", "q_delivery_performance", "q_revenue_anomalies", "q_geo_nearest",
      "q_tfidf_topk", "q_validate_rules", "q_embed_neardup", "q_rfm_segments", "q_zorder_scan",
      "q_histogram_depth", "q_fuzzy_pairs", "q_click_attribution", "q_dedup_fold",
      "q_missing_fill", "q_identity_col", "q_ann_lsh_incr", "q_copy_into", "q_tfidf_pairs",
      "q_boilerplate_lines", "q_bpe_tokens", "q_ann_ivf", "q_hybrid_rank",
      "q_click_attribution_outer", "q_anti_join", "q_replace_where", "q_asof_join",
      "q_ngram_jaccard", "q_convert", "q_missing_drop", "q_dedup_spans", "q_top_n_per_group",
      "q_merge_sync", "q_daily_revenue", "q_split_audit", "q_zorder_string", "q_forecast_hw",
      "q_text_fold", "q1_pricing_summary", "q_psi_drift_cat", "q_geo_radius",
      "q_table_log_evolve", "q_bm25_topk", "q_profile_drift", "q_agg_view", "q_bucketed_join",
      "q_text_quality", "q_bigram_logprob", "q_basket_affinity", "q_lang_id", "q_order_summary",
      "q_table_log_dv", "q_validate_nulls", "q_missing_fill_median")

  test("the registry holds the 193 queries, in a fixed key order") {
    assert(Names.size == 193 && Names.distinct.size == 193)
    assert(SparkEntry.queries.keys.toSeq == Names)
  }

  test("before any ANN query runs, every query but the three ANN ones has an oracle") {
    assert(SparkEntry.lastAnnDir.isEmpty, "no ANN query may have run in this JVM yet")
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == AnnQueries)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracle is empty") {
    val empty = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(empty.isEmpty, s"empty oracles: ${empty.mkString(", ")}")
  }

  test("staged builds once per (kind, dataset dir); a build that throws is retried") {
    var built = Seq.empty[(String, String)]
    def stage(kind: String, d: String): String =
      SparkEntry.staged(kind, d)(p => built :+= (d -> p))
    val a = stage("spec_count", "/data/a")
    assert(stage("spec_count", "/data/a") == a)
    assert(built == Seq("/data/a" -> a), "one build, on the dir it returns")
    val b = stage("spec_count", "/data/b")
    assert(b != a && built == Seq("/data/a" -> a, "/data/b" -> b),
      "a second dataset dir stages separately")
    var tries = 0
    intercept[IllegalStateException] {
      SparkEntry.staged("spec_fail", "/data/a") { _ =>
        tries += 1; throw new IllegalStateException("build failed")
      }
    }
    val c = SparkEntry.staged("spec_fail", "/data/a")(_ => tries += 1)
    assert(tries == 2, "the failed build cached nothing")
    assert(SparkEntry.staged("spec_fail", "/data/a")(_ => tries += 1) == c && tries == 2)
  }
}
