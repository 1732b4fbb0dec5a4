package graft

/** Suite-wide shuffle budget: EVERY SparkEntry query is planned against
  * real data and its shuffle-exchange count pinned to the value the
  * current plans produce (generated by `graft.tools.ExchangeAudit`,
  * same session shape as this JVM). An extra Exchange in any query is
  * a silent multiplier on 100 TB of traffic that a correctness gate
  * cannot see and a bench run only shows as an unexplained slowdown —
  * this spec turns it into a named red test at build time.
  *
  * The pins are MAXIMA: a plan that drops an exchange passes (run the
  * audit tool and tighten the pin when an improvement is deliberate);
  * a plan that adds one fails with the query name. New queries must be
  * added here — the completeness check fails otherwise.
  */
class ExchangeBudgetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val budgets: Map[String, Int] = Map(
    "q10_returned_items" -> 1,
    "q11_important_stock" -> 3,
    "q12_priority_by_flag" -> 1,
    "q13_custdist" -> 2,
    "q14_promo_revenue" -> 1,
    "q15_top_supplier" -> 3,
    "q16_part_supplier_variety" -> 3,
    "q17_small_quantity_revenue" -> 2,
    "q18_large_orders" -> 1,
    "q19_discounted_revenue" -> 1,
    "q1_agg" -> 1,
    "q20_volume_suppliers" -> 3,
    "q21_waiting_suppliers" -> 3,
    "q22_wealthy_inactive" -> 2,
    "q2_min_cost_supplier" -> 1,
    "q3_shipping_priority" -> 1,
    "q4_order_priority" -> 1,
    "q5_local_supplier" -> 1,
    "q6_revenue_filter" -> 1,
    "q7_volume_shipping" -> 1,
    "q8_market_share" -> 1,
    "q9_product_profit" -> 1,
    "q_ab_funnel" -> 2,
    "q_ab_metrics" -> 2,
    "q_abc_classes" -> 9,
    "q_alerts" -> 3,
    "q_amihud" -> 2,
    "q_ann_recall" -> 6,
    "q_approx_distinct" -> 2,
    "q_approx_distinct_audit" -> 2,
    "q_approx_percentiles" -> 1,
    // spillable rank-selection exact legs (r12): per value column one
    // full-data range exchange (printed twice, AQE-reused; ONE
    // full-data sort — the counts branch aggregates unsorted) + 3
    // count-frame exchanges (#partitions × #groups rows), + the approx
    // agg's partial-state exchange
    "q_approx_percentiles_audit" -> 13,
    "q_aroon" -> 2,
    "q_asof_forward" -> 1,
    "q_asof_join" -> 1,
    "q_asof_nearest" -> 1,
    "q_assortativity" -> 3,
    "q_atr" -> 2,
    "q_attribution" -> 3,
    "q_audience_overlap" -> 7,
    "q_audio_fingerprint" -> 0,
    "q_audio_neardup" -> 3,
    "q_autocorr" -> 2,
    "q_backfill_chunks" -> 1,
    "q_benford" -> 2,
    "q_beta" -> 4,
    "q_bigram_fluency" -> 7,
    "q_bigram_lm" -> 3,
    "q_bm25" -> 5,
    "q_bloom_audit" -> 6,
    // deliberately join-shaped: the sharded filter is cluster-resident
    // by design (never a broadcast literal), so probes, verdicts, and
    // the confirm all shuffle
    "q_bloom_sharded" -> 13,
    "q_boilerplate_scrub" -> 3,
    "q_cms_audit" -> 1,
    // join-shaped by design: the sharded sketch is cluster-resident
    "q_cms_sharded_audit" -> 1,
    "q_pca_audit" -> 0,
    "q_pca_project" -> 1,
    "q_temperature_mix" -> 3,
    "q_cms_counts" -> 2,
    "q_line_scrub" -> 0,
    "q_bloom_dedup" -> 5,
    "q_bloom_funnel" -> 6,
    "q_boilerplate_topk" -> 2,
    "q_bollinger" -> 2,
    "q_bounce_rate" -> 1,
    "q_bpe_pinned" -> 0,
    "q_bpe_tokens" -> 0,
    "q_burstiness" -> 2,
    "q_candle_patterns" -> 2,
    "q_cci" -> 2,
    "q_cdc_chunks" -> 0,
    "q_cdc_incremental" -> 2,
    "q_changepoint" -> 1,
    "q_cluster_topics" -> 4,
    "q_codec_roundtrip" -> 2,
    "q_cohort_ltv" -> 5,
    "q_compress_audit" -> 0,
    "q_compress_ratio" -> 0,
    "q_concentration" -> 2,
    "q_contamination" -> 1,
    "q_copurchase" -> 2,
    "q_corpus_card" -> 2,
    "q_corpus_diff" -> 2,
    "q_corr_matrix" -> 6, // +2: the lazy universe guard's distinct-count (round 10)
    "q_corr_screen" -> 11,
    "q_corr_screen_hicard" -> 11,
    "q_corr_screen_signed" -> 17,
    "q_corr_screen_wide" -> 11,
    "q_count_distinct_range" -> 2,
    "q_cross_source_overlap" -> 3,
    "q_cuped" -> 4,
    "q_daily_coverage" -> 2,
    "q_dedup_funnel" -> 4,
    // build-store returns the materialized CC labels (exchanges paid
    // inside the build, like q_dedup_groups)
    "q_dedup_build_store" -> 0,
    "q_dedup_groups" -> 0,
    "q_dedup_incremental" -> 6, // day pairs checkpointed once (was 28)
    "q_dedup_incremental_fold" -> 5,
    "q_dedup_incremental_rederive" -> 6, // same fold shape (was 28)
    "q_dedup_keep_best" -> 1,
    "q_dedup_latest" -> 1,
    "q_dedup_rate_by_source" -> 1,
    "q_dedup_sizes" -> 2,
    "q_dedup_stages" -> 4,
    "q_dedup_window" -> 1,
    "q_degree_dist" -> 2,
    "q_distinct_pairs" -> 1,
    "q_doc_dedup_exact" -> 1,
    "q_doc_fingerprint" -> 0,
    "q_doc_minhash_pairs" -> 3,
    // cap reports: band/cluster window + multi-distinct aggregate
    // (Expand) + the 1-row global agg — 3 exchanges each, no join
    "q_cap_report_minhash" -> 3,
    "q_cap_report_simhash" -> 3,
    "q_cap_report_clusters" -> 2,
    "q_doc_simhash" -> 0,
    "q_doc_winnow" -> 0,
    "q_dod_change" -> 2,
    "q_donchian" -> 2,
    "q_dow_returns" -> 3,
    "q_dq_report" -> 6,
    "q_drawdown" -> 2,
    "q_drift_chi2" -> 3,
    "q_earliest_per_symbol" -> 1,
    "q_edge_overlap" -> 8,
    "q_ema" -> 2,
    "q_embed_drift" -> 2,
    "q_embed_neardup" -> 0,
    "q_embed_quantize" -> 0,
    "q_equidepth_hist" -> 5,
    "q_event_paths" -> 2,
    "q_ewma_vol" -> 2,
    "q_exact_median" -> 1,
    "q_export_manifest" -> 1,
    "q_filter_in_range" -> 0,
    "q_five_number" -> 9,
    "q_floor_to_grain" -> 0,
    "q_forget_audit" -> 3,
    "q_frame_samples" -> 0,
    "q_freshness_lag" -> 1,
    "q_funnel_latency" -> 2,
    "q_funnel_steps" -> 2,
    "q_funnel_strict_dedup" -> 2,
    "q_funnel_strict_order" -> 2,
    "q_fuzzy_match" -> 9,
    // 3 = spans agg + the pinned spans spread (one row per key — the
    // exchange that runs the grid explode + fill window cores-wide,
    // CandleOps.resample*) + the fill window family's own
    "q_gap_fill_ffill" -> 3,
    "q_gap_fill_linear" -> 3,
    "q_gap_ranges" -> 2,
    "q_gini" -> 7,
    "q_gopher_quality" -> 0,
    "q_grouping_rollup" -> 1,
    "q_grouping_sets" -> 1,
    "q_hashing_tf" -> 0,
    "q_heikin_ashi" -> 2,
    "q_histogram" -> 1,
    "q_holt_brown" -> 2,
    "q_ichimoku" -> 2,
    "q_image_dhash" -> 0,
    "q_image_neardup" -> 3,
    "q_interarrival_hist" -> 1,
    "q_interval_overlap" -> 0,
    "q_item_edges" -> 0,
    "q_item_edges_incremental" -> 4,
    "q_ivfadc_pinned" -> 1,
    "q_ivfadc_topk" -> 1,
    "q_jaccard_histogram" -> 1,
    "q_join_5way" -> 1,
    "q_join_orders_customer" -> 2,
    "q_json_extract" -> 1,
    "q_k_anonymity" -> 2,
    "q_kcore" -> 1,
    "q_keltner" -> 2,
    "q_knn_ivf_probe" -> 2,
    "q_knn_ivf_topk" -> 1,
    "q_knn_kmeans_ivf" -> 1,
    "q_knn_label_purity" -> 2,
    "q_knn_topk" -> 1,
    "q_ks_drift" -> 2,
    "q_kyle_lambda" -> 2,
    "q_label_prop" -> 0,
    "q_lang_id" -> 0,
    "q_latest_per_key" -> 1,
    "q_lead_lag" -> 4,
    "q_linear_quality" -> 2,
    "q_listing_diff" -> 4,
    "q_lorenz_deciles" -> 8,
    "q_lsh_neardup" -> 0,
    "q_macd" -> 2,
    "q_mad_outliers" -> 3,
    "q_mann_kendall" -> 6,
    "q_markov_transitions" -> 3,
    "q_media_audio" -> 0,
    "q_media_decode" -> 0,
    "q_media_features" -> 0,
    "q_media_resize" -> 1,
    "q_media_stats" -> 1,
    "q_media_video_frames" -> 0,
    "q_mfi" -> 2,
    "q_minhash_calibration" -> 3,
    "q_minhash_incremental" -> 4,
    "q_minmax_window" -> 1,
    "q_missing_buckets" -> 2,
    "q_mix_rates" -> 1,
    "q_move_stats" -> 2,
    "q_ngram_counts" -> 2,
    "q_ngram_jaccard" -> 0,
    "q_ngram_novelty" -> 2,
    "q_obv" -> 2,
    "q_ohlcv_rollup_15m" -> 1,
    "q_ohlcv_rollup_1h" -> 1,
    "q_ols_trend" -> 2,
    "q_oov_rate" -> 2,
    "q_overnight_gaps" -> 2,
    "q_pack_sequences" -> 1,
    "q_pagerank" -> 0,
    "q_peak_concurrency" -> 2,
    // spillable rank-selection (r12): per value column one full-data
    // range exchange (AQE-reused duplicate in the printed plan) + 3
    // count-frame exchanges
    "q_percentiles" -> 12,
    "q_phrase_search" -> 0,
    "q_pipeline_e2e" -> 2,
    "q_pipeline_neardup" -> 7,
    "q_pit_features" -> 3,
    "q_pivot" -> 2,
    "q_pivot_counts" -> 1,
    "q_pivot_points" -> 2,
    "q_power_curve" -> 8,
    "q_pq_rerank" -> 2,
    "q_pq_topk" -> 1,
    "q_price_elasticity" -> 1,
    "q_price_stats" -> 1,
    "q_quality_deciles" -> 1,
    "q_quality_score" -> 0,
    "q_quote_staleness" -> 3,
    "q_rake_keywords" -> 4,
    "q_range_join" -> 0,
    "q_rank_by_volume" -> 2,
    "q_rarity_score" -> 7,
    "q_readability" -> 0,
    "q_recent_per_key" -> 2,
    "q_recent_topk" -> 0,
    "q_redact_pii" -> 0,
    "q_repetition_stats" -> 2,
    "q_retention_cohorts" -> 3,
    "q_retention_rates" -> 6,
    // r12: per-user frame checkpointed once before the quintile chain
    // (each distributedNtile reads its input twice; three chained
    // ntiles re-ran the events aggregation ~8x at 43 exchanges) and
    // localRanks lost its full-data pid-window exchange
    "q_rfm" -> 24,
    "q_roll_spread" -> 2,
    "q_rolling_outliers" -> 1,
    "q_rollup_cascade_15m_to_1h" -> 2,
    "q_rollup_gap_scan" -> 2,
    "q_rsi" -> 2,
    "q_runs_test" -> 2,
    "q_sax" -> 4,
    "q_scene_changes" -> 0,
    "q_seasonal_index" -> 3,
    "q_seasonality" -> 2,
    "q_semantic_dedup" -> 2,
    "q_sequence_count" -> 1,
    "q_sequence_match" -> 1,
    "q_session_assign" -> 1,
    "q_session_depth" -> 3,
    "q_session_funnel" -> 2,
    "q_session_windows" -> 1,
    "q_sessionize" -> 1,
    "q_set_ops" -> 4,
    "q_ship_delay_sla" -> 2,
    "q_sigma_outliers" -> 1,
    "q_simhash_incremental" -> 4,
    "q_simhash_neardup" -> 3,
    "q_sketch_store" -> 2,
    "q_sketch_store_exact" -> 3,
    "q_sma" -> 2,
    "q_span_dedup" -> 3,
    // shingle-hash window shuffle + per-doc run-merge shuffle + span
    // groupBy — the shared test rides the first shuffle (no semi-join)
    "q_substring_dedup" -> 2,
    // ...those 3 + span regroup to doc grain + the one corpus join
    "q_substring_scrub" -> 2,
    // corpus distinct-hash agg + batch semi-join + run-merge + span
    // groupBy; the standing side never reshuffles after its aggregate
    "q_substring_incremental" -> 3,
    // same shape, fixed eval panel as the standing side
    "q_decontaminate_spans" -> 2,
    "q_span_quality" -> 4,
    "q_split_assign" -> 0,
    "q_stats_drift" -> 2,
    "q_stickiness" -> 4,
    "q_stochastic" -> 2,
    "q_stratified_sample" -> 0,
    "q_stratified_take" -> 1,
    "q_streaks" -> 2,
    "q_string_funcs" -> 0,
    "q_survival_km" -> 3,
    "q_symbol_filter" -> 1,
    "q_symbol_history" -> 1,
    "q_text_knn" -> 2,
    "q_text_stats" -> 0,
    "q_textrank" -> 0,
    "q_tfidf_topterms" -> 4,
    "q_theil_sen" -> 3,
    "q_token_budget" -> 1,
    "q_token_count" -> 1,
    "q_token_lift" -> 5,
    "q_top_movers" -> 2,
    "q_topk_churn" -> 14,
    "q_topk_orders" -> 0,
    "q_topk_sketch" -> 1,
    "q_trend_slope" -> 2,
    "q_triangles" -> 6,
    "q_trimmed_mean" -> 1,
    "q_twap" -> 1,
    "q_user_features" -> 2,
    "q_user_lifecycle" -> 3,
    "q_validate_filter" -> 0,
    "q_validity_intervals" -> 1,
    "q_value_histogram" -> 1,
    "q_variance_ratio" -> 2,
    "q_video_dhash" -> 0,
    "q_video_neardup" -> 9,
    "q_volume_profile" -> 3,
    "q_vpin" -> 2,
    "q_vwap" -> 1,
    "q_weighted_median" -> 1,
    "q_weighted_sample" -> 0,
    "q_williams_r" -> 2,
    "q_window_drift" -> 1,
    "q_window_rank" -> 1,
    "q_winnow_neardup" -> 5,
    "q_zorder_stats" -> 1
  )

  test("every query stays within its pinned shuffle-exchange budget") {
    val over = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable =>
          fail(s"$name failed to plan: ${e.getMessage}")
        }
      val n = graft.tools.ExchangeAudit.shuffleExchanges(plan)
      budgets.get(name) match {
        case None => over += s"$name: NEW query with no pinned budget (counted $n) - run ExchangeAudit and add it"
        case Some(b) if n > b => over += s"$name: $n exchanges > pinned $b"
        case _ => ()
      }
    }
    assert(over.isEmpty, s"shuffle budget violations:\n  ${over.mkString("\n  ")}")
  }

  test("spreadKeyed over a child already hash-partitioned on the keys plans one exchange") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, sum}
    import spark.implicits._
    val keys = Seq("sym", "day")
    val base = Seq(("a", 1, 1L, 1.0), ("a", 1, 2L, 2.0), ("a", 2, 3L, 3.0),
      ("b", 1, 1L, 4.0), ("b", 2, 2L, 5.0)).toDF("sym", "day", "t", "v")
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col("v"))
    val children = Seq(
      // the planner drops the spread as identical to the aggregate's
      // own exchange, which keeps its coalescible origin
      "groupBy" -> (base.groupBy(keys.map(col): _*).agg(sum("v").as("v")),
        "ENSURE_REQUIREMENTS"),
      // the spread collapses into the identical repartition below it
      "repartition" -> (base.repartition(
        spark.sessionState.conf.numShufflePartitions, keys.map(col): _*),
        "REPARTITION_BY_NUM"))
    children.foreach { case (name, (child, origin)) =>
      val plan = graft.api.Par.spreadKeyed(child, keys)
        .withColumn("r", row_number().over(byKey))
        .queryExecution.executedPlan.toString
      assert(graft.tools.ExchangeAudit.shuffleExchanges(plan) == 1, s"$name:\n$plan")
      val origins = "(ENSURE_REQUIREMENTS|REPARTITION_BY_NUM)".r.findAllIn(plan).toSeq
      assert(origins == Seq(origin), s"$name:\n$plan")
    }
  }

  test("no stale pins: every budget entry names a live query") {
    val stale = budgets.keySet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"budget entries for removed queries: $stale")
  }
}
