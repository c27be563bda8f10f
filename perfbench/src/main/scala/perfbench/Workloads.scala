package perfbench

import scala.util.Random

/** A workload: the query calls of one pass, the input they read, and how
  * the seed orders them.
  *
  * `chains` are sequences whose order is fixed (a store must exist before
  * it is probed); the seed interleaves them uniformly at random. A chain of
  * one query is order-free. `last` runs after them in its own order, as a
  * pipeline's final stage. `tracedExtra` queries run once, after the
  * passes of a traced run only, for layers a pass leaves out.
  */
final case class Workload(
    name: String,
    input: String,
    chains: Seq[Seq[String]],
    resetStorePerPass: Boolean,
    last: Seq[String] = Nil,
    tracedExtra: Seq[String] = Nil) {

  def queries: Seq[String] = chains.flatten ++ last

  /** The pass order for `seed`: a uniform random interleaving of the
    * chains that keeps each chain's own order.
    */
  def order(seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    val rest = chains.map(_.toList).filter(_.nonEmpty).toArray
    val out = Seq.newBuilder[String]
    var left = rest.map(_.size).sum
    while (left > 0) {
      // pick a chain with probability proportional to what it has left
      var k = rnd.nextInt(left)
      var i = 0
      while (k >= rest(i).size) { k -= rest(i).size; i += 1 }
      out += rest(i).head
      rest(i) = rest(i).tail
      left -= 1
    }
    out.result() ++ last
  }
}

object Workloads {

  /** Query family by registered name: the engine file that defines it. */
  val families: Seq[(String, Seq[String])] = Seq(
    "Star" -> Seq(
      "q1_pricing_summary", "q1_pricing_summary_decimal", "q2_min_cost_supplier",
      "q3_shipping_priority", "q4_order_priority_exists", "q5_local_supplier_volume",
      "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share", "q9_product_profit",
      "q10_returned_items", "q11_important_parts", "q12_priority_lines",
      "q13_customer_distribution", "q14_promo_share", "q15_top_supplier",
      "q16_supplier_part_counts", "q17_small_quantity_revenue",
      "q18_large_volume_customers", "q19_disjunctive_pricing", "q20_red_part_suppliers",
      "q21_sole_return_supplier", "q22_wealthy_inactive", "q_cube_lineitem_stats",
      "q_exact_median_order", "q_grouping_sets_orders", "q_rollup_order_stats",
      "q_semi_anti_customers", "q_setops_churned", "q_value_histogram",
      "q_window_top_orders"),
    "Stream" -> Seq(
      "s_dedup_within_watermark", "s_event_json_props", "s_funnel_conversion",
      "s_gap_fill_daily", "s_interval_join_attrib", "s_lateness_audit",
      "s_point_in_time_state", "s_running_user_stats", "s_scd2_user_state",
      "s_sessionize", "s_state_size_report", "s_stream_static_join",
      "s_theta_user_setops", "s_window_counts"),
    "Operator" -> Seq(
      "o_anomaly_daily_counts", "o_asof_last_touch", "o_bloom_pruned_join",
      "o_bucketed_join_stats", "o_cdc_merge_snapshot", "o_grouped_topk_orders",
      "o_incremental_agg", "o_orc_roundtrip", "o_partition_pruned_agg",
      "o_pivot_event_matrix", "o_salted_join_skew", "o_schema_merge_roundtrip",
      "o_session_overlap_pairs", "o_skew_diagnostics", "o_zorder_layout"),
    "Lakehouse" -> Seq(
      "o_cohort_retention",
      "o_compaction_plan", "o_equidepth_histogram", "o_expectations_audit", "o_ohlc_bars",
      "o_pagerank_copurchase", "o_pareto_frontier", "o_psi_drift", "o_record_linkage",
      "o_snapshot_diff", "o_table_stats", "o_time_travel_log", "o_transition_matrix",
      "o_vacuum_plan"),
    "Parity" -> Seq(
      "a1_a4_mock_metrics", "a2_approx_distinct_scale", "a3_hll_mergeable_sketches",
      "a6_clean_dedup_counts", "a7_last_user", "a8_duration_sec", "f1_envelope_fallback",
      "f2_timestamp_validity", "f3_distinct_nullguard", "k1_csv_roundtrip",
      "k2_json_roundtrip", "k2_run_envelope", "k3_degraded_metrics", "k4_log_lines",
      "l1_top20_customers", "l2_raw_json_page", "l3_source_limit", "p1_p2_normalize",
      "p5_k1_csv_lines", "p6_domain_extract", "p7_years_since", "p8_string_format",
      "s1_dsv2_source", "s2_mock_users"),
    "Media" -> Seq(
      "m_ahash_near_dup", "m_binary_dedup", "m_frame_sample_plan", "m_media_features",
      "m_mjpeg_frame_stats", "m_resize_pool"),
    "Embedding" -> Seq(
      "e_binary_topk", "e_bruteforce_topk", "e_centroid_drift", "e_centroid_silhouette",
      "e_cosine_neardup_pairs", "e_hard_negatives", "e_int8_quantized_topk",
      "e_ivf_balance_stats", "e_ivf_recall_at_k", "e_ivf_topk", "e_kmeans_ivf_topk",
      "e_matryoshka_topk", "e_mmr_diversify", "e_ndcg_at_k", "e_power_iteration_pc1",
      "e_pq_recall_at_k", "e_pq_topk", "e_rrf_fusion", "e_semantic_decontaminate",
      "e_semantic_dedup", "e_index_build", "e_index_search", "e_index_append",
      "e_index_reseed", "e_index_reseed_apply"),
    "Text" -> Seq(
      "t_bigram_lm_score", "t_bloom_decontaminate", "t_boilerplate_chunks", "t_chunk_plan",
      "t_cms_frequency", "t_corpus_profile", "t_curation_funnel", "t_doclen_quantiles",
      "t_dsir_importance", "t_fingerprints", "t_hash_split", "t_heavy_hitter_words",
      "t_kll_doclen_quantiles", "t_lang_id", "t_mixture_sampling", "t_ngram_decontaminate",
      "t_pii_redact", "t_quality_scores", "t_repetition_profile", "t_sequence_packing",
      "t_source_cap", "t_source_novelty", "t_stratified_sample", "t_tfidf_top_terms",
      "t_token_counts", "t_zipf_fit"),
    "Curation" -> Seq(
      "t_bm25_topk", "t_bpe_encode", "t_bpe_merge_step", "t_bpe_train_merges",
      "t_quality_calibration", "t_quality_lr_fit", "t_quality_lr_score", "t_span_dedup",
      "t_token_budget_select", "t_weighted_sample"),
    "Dedup" -> Seq(
      "d_containment_pairs", "d_dup_clusters", "d_dup_triangles", "d_exact_dedup_counts",
      "d_exact_dedup_groups", "d_incremental_dedup", "d_index_append", "d_index_build",
      "d_index_compact", "d_index_probe", "d_leakage_safe_split", "d_minhash_lsh_pairs",
      "d_ngram_jaccard_pairs", "d_quality_keeper", "d_simhash_pairs", "d_stream_ingest"))

  val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  val familyNames: Seq[String] = families.map(_._1)

  private def single(qs: Seq[String]): Seq[Seq[String]] = qs.map(Seq(_))

  /** A fixed sample of the 124 registered queries of the Star, Stream,
    * Operator, Lakehouse, Parity, Media and store-free Embedding families:
    * in each family of n queries, round(n / 15) of them (at least one) at
    * evenly spaced ranks of cold per-query time on the committed input,
    * plus `o_grouped_topk_orders` for GroupedTopK's plan metrics. A pass
    * over all 124 takes over two minutes on 4 cores, longer than a run may
    * last. Measured warm, after a priming pass: per-query fixed cost
    * without the JVM's one-off compilation.
    */
  val Interactive: Workload = Workload(
    "interactive", "input",
    single(Seq(
      "q_window_top_orders", "q16_supplier_part_counts",
      "s_lateness_audit",
      "o_grouped_topk_orders", "o_anomaly_daily_counts",
      "o_expectations_audit",
      "s2_mock_users", "k1_csv_roundtrip",
      "m_binary_dedup",
      "e_ivf_recall_at_k")),
    resetStorePerPass = false)

  /** The curation chain over the GenScale corpus, ending in dedup against
    * a persisted store: language id, quality, PII, n-gram
    * decontamination, containment near-dup pairs (the dedup spine's
    * costliest query) and the token-budget selection in seeded order, then
    * the dedup store's build and probe. The warehouse is emptied before
    * each pass, so every pass builds the store from nothing: the only
    * writes of the benchmark. A traced run also runs `d_incremental_dedup`,
    * which computes the probe's verdicts without the store, and
    * `d_stream_ingest`, for the streaming layer.
    */
  val Curation: Workload = Workload(
    "curation", "corpus",
    single(Seq(
      "t_lang_id", "t_quality_scores", "t_pii_redact", "t_ngram_decontaminate",
      "d_containment_pairs", "t_token_budget_select")),
    resetStorePerPass = true,
    last = Seq("d_index_build", "d_index_probe"),
    tracedExtra = Seq("d_incremental_dedup", "d_stream_ingest"))

  val all: Seq[Workload] = Seq(Interactive, Curation)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
