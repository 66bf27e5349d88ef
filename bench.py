#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Each query is forced through a noop sink so the full plan executes
(count() alone can let Catalyst skip projection work). The iterative
kmeans_fit runs as its own entry since it is the reference's actual
workload shape.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: Per-query repeats (min is reported) — absorbs JIT/codegen warmup and
#: GC noise; observed single-run totals swing 60-105 s on identical code.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
#: Also time the DuckDB oracle per query and emit engine/oracle ratios —
#: machine-checks BASELINE.md's "within 2× of the oracle" bar every
#: round instead of hand-recording it. Disable with =0 for quick loops.
ORACLE_BENCH = os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0"
#: Comma-separated query names → run only those (solo-confirmation and
#: quick-loop mode). Empty/unset = the full headline set.
ONLY = [
    n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if n
]

#: Headline subset of the contract registry — covers every operator
#: family: scan+agg, broadcast joins, window, kmeans kernels, dedup
#: (exact/minhash/simhash/jaccard), text stats, similarity search.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "nation_revenue",
    "top_orders_per_priority",
    "supplier_part_join",
    "kmeans_assign_events",
    "kmeans_update_events",
    "kmeans_fit_customer",
    "kmeans_fit_events",
    "theil_sen_hourly_events",
    "ewma_hourly_events",
    "ar2_hourly_events",
    "isotonic_price_by_quantity",
    "hbos_top_lineitem",
    "poisson_quantity_lineitem",
    "discount_effect_iv",
    "experiment_balance_events",
    "ab_power_value_experiment",
    "distinct_users_minhash_events",
    "media_resize_nearest",
    "streaming_dedup_events",
    "streaming_sessions_events",
    "rolling_click_purchase_corr",
    "returns_split_stump_lineitem",
    "source_quality_ablation",
    "kmeans_k_stability_embeddings",
    "shrunk_source_quality",
    "stratified_ate_events",
    "rake_source_lang_documents",
    "kmeans_assign_embeddings",
    "kmeans_update_embeddings",
    "dedup_exact_documents",
    "dedup_fingerprint_documents",
    "minhash_bands_documents",
    "minhash_pairs_documents",
    "simhash_documents",
    "jaccard_candidates_documents",
    "containment_pairs_documents",
    "winnow_summary_documents",
    "text_stats_documents",
    "lang_id_documents",
    "source_quality_summary",
    "source_vocab_stats",
    "ann_topk_embeddings",
    "knn_join_embeddings",
    "ivf_topk_embeddings",
    "embedding_near_dup_pairs",
    "q6_forecast_revenue",
    "suppliers_of_shipped_parts",
    "deep_discount_small_parts",
    # temporal / reshape / multi-level grouping families
    "user_sessions_events",
    "purchase_click_asof",
    "hourly_event_rollup",
    "user_event_pivot",
    "embedding_dim_stats",
    "asia_nation_revenue",
    "lineitem_cube_flags",
    "sliding_spend_window",
    "q10_returned_revenue",
    "q18_large_orders",
    "q7_nation_trade_volume",
    "lineitem_measure_unpivot",
    # advanced TPC-H shapes (correlated/scalar subqueries, anti-joins)
    "q2_min_cost_supplier",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_count_by_part",
    "q17_small_quantity_revenue",
    "q19_or_predicate_revenue",
    "q21_sole_supplier_orders",
    "q22_idle_rich_customers",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "q11_important_part_values",
    "q20_heavy_shippers",
    "q5_local_supplier_revenue",
    "near_dedup_documents",
    "media_binary_stats",
    "shipments_in_order_window",
    "edit_distance_verify_documents",
    "supplier_balance_ranks",
    "stratified_sample_summary",
    "repetition_stats_documents",
    "shingle_novelty_documents",
    "chunk_documents_32",
    "pack_summary_256",
    "dedup_incremental_documents",
    # corpus cleaning (decontamination / PII / mixture / profiling)
    "decontaminate_documents",
    "pii_redact_documents",
    "mixture_sample_summary",
    "classifier_scores_documents",
    "table_profile_lineitem",
    # round-3 additions: line dedup, retrieval, time series, robust
    # stats, per-group caps, scalar quantization
    "line_dedup_documents",
    "token_postings_documents",
    "tfidf_top_terms_documents",
    "hourly_gapfill_events",
    "funnel_conversion_events",
    "price_outliers_mad",
    "source_cap_documents",
    "embedding_quantize_stats",
    "unigram_logprob_documents",
    "source_divergence_documents",
    "bm25_topk_documents",
    "hybrid_search_documents",
    "quality_percentile_filter_documents",
    "daily_retention_events",
    "winsorized_price_by_flag",
    "latest_event_per_user",
    "lineitem_constraint_checks",
    "price_histogram_lineitem",
    "value_trend_by_type",
    "user_activity_intervals",
    "event_anomaly_flags",
    "sql_top_revenue_months",
    "user_state_history",
    "debounced_user_events",
    "bigram_logprob_documents",
    "customer_match_candidates",
    # substring-level dup spans + BPE vocabulary induction
    "duplicate_spans_documents",
    "span_summary_documents",
    "bpe_pair_counts_documents",
    "pq_adc_embeddings",
    "semantic_dedup_survivors_embeddings",
    "purchase_next_click_asof",
    "purchase_nearest_click_asof",
    # count-min frequency sketch + A-ES weighted sampling
    "token_freq_sketch_documents",
    "token_freq_estimate_documents",
    "weighted_sample_documents",
    "corpus_snapshot_diff",
    "temperature_sample_summary",
    "collocations_documents",
    "label_centroid_drift_embeddings",
    "salted_brand_revenue",
    "epoch_shuffle_documents",
    "correlated_sample_join",
    # round-4 additions: URL canonicalization / URL-level dedup,
    # event-graph PageRank
    "url_canonical_documents",
    "url_dedup_documents",
    "domain_stats_documents",
    "event_transition_edges",
    "event_pagerank",
    "heavy_keys_lineitem",
    "key_skew_report_lineitem",
    # round-4 additions: drift monitors, retrieval fusion, feature
    # encoding, layout/eval laws, privacy and sequence mining. The
    # sparse cosine pair contracts are deliberately absent: the
    # synthetic corpus is their documented degenerate dense-vocab
    # regime (see operators/simpairs.py).
    "orders_value_drift",
    "orders_price_psi",
    "join_size_estimate_orders_lineitem",
    "rrf_search_documents",
    "decayed_user_value",
    "zorder_key_lineitem",
    "silhouette_embeddings_by_cluster",
    "source_coherent_split_summary",
    "dataset_card_documents",
    "lineitem_correlations",
    "k_anonymity_events",
    "frequent_event_paths",
    "target_encoding_mktsegment",
    "loo_encoding_events",
    "lang_source_mi",
    "media_entropy_stats",
    "lang_margin_documents",
    "kneser_ney_documents",
    "kn_logprob_documents",
    "lexical_diversity_documents",
    "sorted_neighborhood_customers",
    "join_advice_lineitem_part",
    "rp_lsh_buckets_embeddings",
    "rp_candidate_pairs_embeddings",
    "rp_hamming_pairs_embeddings",
    "q12_shipmode_priority",
    "cusum_shift_events",
    "changepoint_summary_events",
    "bloom_prefilter_lineitem",
    "bloom_vs_exact_lineitem",
    "fs_u_probabilities_customers",
    "fs_match_scores_customers",
    "user_cooccurrence_triangles",
    "cooccurrence_graph_summary",
    "lightweight_coreset_embeddings",
    "embedding_covariance",
    "l_diversity_events",
    "survival_curve_users",
    "dbscan_classes_lineitem",
    "user_markov_surprisal",
    "benford_order_totals",
    "hourly_locf_events",
    "calibration_bins_documents",
    "quantile_normalized_quality",
    # ranker evaluation (AUC / NDCG windows)
    "classifier_auc_by_source",
    "retrieval_metrics_events",
    "retrieval_summary_events",
    "lang_eval_classes",
    "lang_eval_summary",
    "source_overlap_matrix",
    "source_signature_terms",
    "source_budget_plan",
    "item_rules_events",
    "customer_entities",
    "customer_golden_records",
    # round-4 closing: link prediction / k-core / HITS graph ops,
    # DSIR selection, ALS recommender, DP releases, hypothesis
    # tests, TextRank keywords
    "user_link_prediction",
    "user_k_core",
    "event_hits",
    "dsir_weights_documents",
    "als_user_half_step",
    "als_recommend_parts",
    "noised_event_type_counts",
    "noised_event_value_means",
    "ks_click_vs_purchase",
    "mannwhitney_click_vs_purchase",
    "chi2_lang_source",
    "ab_value_conversion",
    "textrank_keywords_documents",
    "user_communities",
    "conformal_value_band",
    "readability_documents",
    "ucb_event_arms",
    "bootstrap_purchase_mean",
    "burst_windows_events",
    "motif_windows_events",
    "woe_source_english",
    "logrank_user_cohorts",
    "did_value_by_cohort",
    # round-4 session-5: regression, attribution, forecasting, FDR,
    # causal IPW, IVM, feature hashing
    "ols_price_trend_by_returnflag",
    "ridge_price_model_lineitem",
    "price_model_residuals_by_month",
    "attribution_report_events",
    "forecast_backtest_events",
    "mean_shift_fdr_documents",
    "discount_quantity_ipw",
    "ivm_priority_revenue",
    "hashed_features_profile_documents",
    "trend_test_events",
    "user_bfs_hops",
    "seasonal_strength_events",
    "lead_lag_events",
    "key_discovery_orders",
    "fd_discovery_orders",
    "growth_accounting_events",
    "cmh_discount_returns",
    "huber_price_model_lineitem",
    "logistic_returnflag_lineitem",
    "revenue_concentration_customer",
    "nb_lang_confusion_documents",
    "purchase_value_auc_events",
    "ridge_lambda_sweep_lineitem",
    "learning_curve_lineitem",
    "corr_matrix_lineitem",
    "spearman_matrix_lineitem",
    "tail_index_order_totals",
    "anova_price_by_returnflag",
    "zipf_fit_documents",
    "user_events_dispersion",
    "mcnemar_langid_vs_majority",
    "qnorm_quality_by_source",
    "purchase_distance_sssp",
    "spectral_token_loading_documents",
    "price_quantity_frontier",
    "wasserstein_price_by_flag",
    "cohort_ltv_events",
    "revenue_bridge_1995_1996",
    "funnel_latency_events",
    "mahalanobis_price_quantity",
    "association_matrix_orders",
    "hourly_profile_events",
    "lasso_price_model_lineitem",
    "gmm_price_components",
    "hourly_acf_events",
    "purchase_decile_lift_events",
    "rfm_segment_summary",
    "hourly_changepoint_events",
    "quantity_price_rdd",
    "weighted_price_percentiles",
    "vocab_growth_documents",
    "interpolated_hourly_value_events",
    "user_graph_assortativity",
    "interarrival_exponentiality_events",
    "simpsons_discount_quantity",
    "daily_value_gumbel",
    "monthly_concentration_trend",
    "negbin_user_activity",
    "embedding_effective_dim",
    "brier_quality_english",
    "transition_reciprocity",
    "dominant_period_events",
    "theil_customer_revenue",
    "lmg_price_drivers",
    "price_model_influence",
    "partial_corr_price_quantity",
    "uncertainty_status_priority",
    "welch_click_vs_purchase",
    "purchase_rate_wilson",
    "pairwise_welch_event_values",
    "cuped_value_experiment",
    "chow_break_1998",
    "moods_median_value_by_type",
    "levene_price_by_flag",
    "kruskal_value_by_type",
    "friedman_value_by_type",
    # round-6 additions: real PNG decode path, MLlib GLR wrapper, and a
    # REPRESENTATIVE pair of the 12 new streaming-sink replays (the
    # full set is machinery-floor time — 5-15 s each of micro-batch
    # scheduling that DuckDB answers as trivial batch SQL — so only the
    # two cheapest sink shapes ride in the headline set; the rest stay
    # correctness-gated but unbenched, same policy as round 5's three)
    "media_png_features",
    "glm_poisson_lineitem",
    "streaming_freq_sketch_events",
    "streaming_ivm_rollup_orders",
    # round-7 promotions: the round-6 post-bench wave (survival family,
    # sequential/association pattern mining, WAV codec, Holt smoothing)
    # was correctness-gated but unbenched — headline representatives
    # ride here so the per-family table tracks their plans
    "cox_churn_users",
    "nelson_aalen_users",
    "rmst_users",
    "km_bands_users",
    "user_event_itemsets",
    "user_event_sequences",
    "media_wav_features",
    "holt_hourly_events",
    # round-7 additions: seasonal smoothing, two-stage ANN, skyline,
    # quantile regression, Granger, parametric survival
    "holt_winters_hourly_events",
    "ivfpq_rerank_topk_embeddings",
    "part_type_skyline",
    "lad_price_model_lineitem",
    "p90_price_model_lineitem",
    "granger_click_purchase",
    "weibull_churn_users",
    "gopher_rules_documents",
    "user_ranking_similarity_events",
    # round-7 second wave: state-space smoothing, GLM family close-out,
    # schema profiling, sequence decoding, alignment, causal panel /
    # doubly-robust estimators, privacy ladder, sample consensus
    "kalman_level_hourly_events",
    "gamma_price_lineitem",
    "ind_discovery_tpch",
    "hmm_viterbi_users",
    "dtw_click_purchase",
    "synthetic_control_nation_revenue",
    "shapley_attribution_events",
    "t_closeness_events",
    "aipw_discount_quantity",
    "ransac_price_quantity",
    "competing_risks_users",
    "markov_attribution_events",
    "neyman_allocation_events",
    "table_fingerprint_orders",
    "group_sequential_events",
    "mondrian_cells_events",
    "augment_dropout_documents",
    "boxcox_price_lineitem",
    "ivf_recall_embeddings",
    "jackknife_price_per_unit",
    "corpus_pipeline_documents",
    # round-7 promotion wave: representatives of previously
    # bench-blind families (verdict item #7)
    "ind_nary_tpch",
    "media_jpeg_features",
    "dbscan_clusters_lineitem",
    "quality_filter_documents",
    "token_search_documents",
    "semantic_dedup_summary_embeddings",
    "pack_documents_256",
    "mixture_plan_documents",
    "orders_grouping_sets",
    "events_json_props",
    "lang_confusion_documents",
    "segment_balance_percentiles",
    "kmeans_mse_embeddings",
    "streaming_sprt_events",
    "als_holdout_hitrate",
    "afd_discovery_orders",
    "cfd_orders_by_status",
    "monthly_order_stats",
    "user_value_deltas",
    "corpus_diff_summary",
    "customers_without_orders",
    "nation_union_segments",
    "frequent_lines_documents",
    # round-8 close-out (VERDICT item 5): every remaining bench-blind
    # contract rides the headline set — the 11 streaming availableNow
    # replays (each pays the documented micro-batch scheduling floor
    # DuckDB answers as trivial batch SQL; floor adjudication in
    # SCALE.md), the cheap variants, and this round's two additions.
    # Zero contracts remain unbenched.
    "acctbal_rollup_region_nation",
    "als_item_factors_init",
    "augment_summary_documents",
    "classifier_auc_global",
    "common_active_segments",
    "cosine_pairs_dimsum_documents",
    "cosine_pairs_documents",
    "customer_running_total",
    "distinct_event_types",
    "documents_hash_sample",
    "documents_split_summary",
    "dsir_log_ratio_documents",
    "dsir_select_documents",
    "event_type_stats",
    "ind_nary_l3_tpch",
    "ivf_multiprobe_topk_embeddings",
    "jaccard_pairs_documents",
    "kmeans_assign_customer",
    "kmeans_mse_events",
    "kmeans_one_step_customer",
    "media_jpeg_color_features",
    "nation_segment_sets",
    "negative_pairs_embeddings",
    "noised_event_value_sums",
    "priority_shipping_split",
    "q4_slow_shipping_orders",
    "salted_event_type_stats",
    "streaming_anomaly_events",
    "streaming_attribution_events",
    "streaming_cdc_feed_events",
    "streaming_decayed_features_events",
    "streaming_distinct_events",
    "streaming_ivf_ingest_topk",
    "streaming_kmeans_counts_events",
    "streaming_profile_events",
    "streaming_quantile_sink_events",
    "streaming_running_centroids_events",
    "streaming_upsert_events",
    "temperature_mixture_plan_documents",
    "top_tokens_per_lang",
    "winnow_pairs_documents",
    "fd_nary_orders",
    "substring_spans_documents",
    "substring_doc_stats_documents",
    "ind_lattice_walk_tpch",
    "media_jpeg_progressive_features",
]

KMEANS_FIT_K = 8
KMEANS_FIT_ITERS = 5

#: Intra-run canary drift beyond this ratio marks the run's absolute
#: times untrustworthy for cross-round comparison (the Firecracker
#: host's documented hour-scale noise windows are 1.4-1.6×).
CANARY_DRIFT_BAND = 1.3
#: vs-previous-round flag threshold AFTER canary normalization: a
#: query must slow by >1.5× host-corrected AND >0.5 s absolute to be
#: flagged (below that is job-floor jitter on k-row outputs).
PREV_FLAG_RATIO = 1.5
PREV_FLAG_MIN_SEC = 0.5


def _time_canaries(spark) -> dict[str, float]:
    """Fixed-shape host-speed probes (VERDICT r7 item 2): a one-scan
    aggregate and a two-table join-aggregate whose plans never change
    round to round, so their wall-clock measures the HOST, not the
    engine. Run at start and end of every bench; cross-round deltas
    are adjudicated by the canary ratio instead of prose."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    probes = {
        "scan": li.where(F.col("l_quantity") > 25).agg(
            F.sum("l_extendedprice"), F.count(F.lit(1))
        ),
        "join": li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice")),
    }
    res: dict[str, float] = {}
    for name, df in probes.items():
        # one untimed rep first: codegen/JIT for the probe shapes must
        # not leak into the START measurement (min-of-3 alone still
        # read 2.5× hot-vs-cold on short runs)
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        res[name] = round(best, 4)
    return res


def _codegen_compiles(spark) -> int:
    """Janino compilations so far in this JVM (Spark's CodegenMetrics).
    A query whose count stays above 0 on repeats is evicting or
    regenerating its generated classes."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from k_means_using_mapreduce_spark import contracts
    from k_means_using_mapreduce_spark.session import get_spark

    global BENCH_QUERIES
    if ONLY:
        unknown = [n for n in ONLY if n not in contracts.QUERIES]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown names: {unknown}")
        BENCH_QUERIES = ONLY

    spark = get_spark(app_name="bench")

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}

    # warm the JVM + parquet footers once (excluded from timings)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    canary_start = _time_canaries(spark)

    import gc

    for name in BENCH_QUERIES:
        fn = contracts.QUERIES[name]
        best = float("inf")
        c0 = _codegen_compiles(spark)
        for _ in range(max(1, REPEATS)):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        compiles[name] = _codegen_compiles(spark) - c0
        # untimed: release py-side plan refs and let the ContextCleaner
        # drop accumulated broadcasts — otherwise heap pressure from 50
        # queries' broadcast vars inflates later queries' GC time (q18
        # measured 5.4s in-sequence vs 1.2s standalone)
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # iterative fit — the reference's own workload shape (skipped in
    # solo mode: ONLY names exactly what runs)
    from pyspark.sql import functions as F

    from k_means_using_mapreduce_spark.operators.kmeans import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    feats = emb.select(F.col("embedding").cast("array<double>").alias("features"))
    if ONLY:
        _finish(timings, compiles, contracts, canary_start, _time_canaries(spark))
        return
    c0 = _codegen_compiles(spark)
    t0 = time.perf_counter()
    kmeans_fit(feats, KMEANS_FIT_K, seed=42, max_iter=KMEANS_FIT_ITERS, tol=0.0)
    timings["kmeans_fit_embeddings"] = round(time.perf_counter() - t0, 4)
    compiles["kmeans_fit_embeddings"] = _codegen_compiles(spark) - c0

    from k_means_using_mapreduce_spark.operators.kmeans import kmeans_fit_minibatch

    c0 = _codegen_compiles(spark)
    t0 = time.perf_counter()
    kmeans_fit_minibatch(
        feats,
        KMEANS_FIT_K,
        seed=42,
        max_iter=KMEANS_FIT_ITERS,
        tol=0.0,
        batch_fraction=0.2,
    )
    timings["kmeans_fit_minibatch_embeddings"] = round(
        time.perf_counter() - t0, 4
    )
    compiles["kmeans_fit_minibatch_embeddings"] = _codegen_compiles(spark) - c0

    _finish(timings, compiles, contracts, canary_start, _time_canaries(spark))



def _kmeans_fit_oracle_sql(
    k: int, iters: int, dims: int, minibatch_mod: int | None = None
) -> str:
    """DuckDB timing twin of the bench's kmeans_fit over embeddings:
    the same WORK per round (full assign via list_distance + per-dim
    mean update, `iters` rounds — tol=0.0 pins both engines to exactly
    `iters` rounds), with a deterministic md5-ordered init standing in
    for the engine's seeded RDD takeSample (which is not
    SQL-expressible — hence a TIMING twin, not a hash oracle; the fit's
    value-level correctness is pinned by the hash-gated
    kmeans_fit_customer/events contracts). `minibatch_mod` restricts
    each round's assign to a rotating 1/mod md5 slice, mirroring
    kmeans_fit_minibatch's hash-bucketed batches."""
    parts = [
        "pts AS MATERIALIZED (SELECT row_number() OVER () AS rid, "
        "embedding::DOUBLE[] AS e FROM embeddings "
        "WHERE embedding IS NOT NULL)",
        "it0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h) "
        "AS cid, e AS c FROM (SELECT md5(CAST(rid AS VARCHAR)) AS h, e "
        f"FROM pts ORDER BY h LIMIT {k}))",
    ]
    for j in range(1, iters + 1):
        src = "pts"
        if minibatch_mod is not None:
            src = (
                "(SELECT * FROM pts WHERE "
                "(('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 15))"
                f"::BIGINT + {j}) % {minibatch_mod} = 0)"
            )
        parts.append(
            f"""a{j} AS MATERIALIZED (
  SELECT rid, e, cid FROM (
    SELECT p.rid, p.e, c.cid,
           row_number() OVER (PARTITION BY p.rid
                              ORDER BY list_distance(p.e, c.c), c.cid) AS rn
    FROM {src} p CROSS JOIN it{j-1} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""it{j} AS MATERIALIZED (
  SELECT o.cid, coalesce(g.c, o.c) AS c FROM it{j-1} o LEFT JOIN (
    SELECT cid, list(m ORDER BY dim) AS c FROM (
      SELECT cid, dim, avg(e[dim]) AS m
      FROM a{j}, generate_series(1, {dims}) AS t(dim)
      GROUP BY cid, dim) GROUP BY cid) g USING (cid))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT cid, c[1] AS c1, c[{dims}] AS c{dims} "
        f"FROM it{iters} ORDER BY cid"
    )


def _extra_oracles() -> dict[str, str]:
    """Bench-local oracle timings for the two workloads timed outside
    the contract registry (their seeded init bars a registry oracle)."""
    dims = 64
    return {
        "kmeans_fit_embeddings": _kmeans_fit_oracle_sql(
            KMEANS_FIT_K, KMEANS_FIT_ITERS, dims
        ),
        "kmeans_fit_minibatch_embeddings": _kmeans_fit_oracle_sql(
            KMEANS_FIT_K, KMEANS_FIT_ITERS, dims, minibatch_mod=5
        ),
    }


def compare_vs_prev(
    timings: dict[str, float], prev: dict, canary_sec: float
) -> dict | None:
    """Canary-normalized per-query comparison against a previous
    BENCH_DETAIL payload: divide current times by the host-speed ratio
    (this run's scan canary over the previous run's) before flagging,
    so a 1.4-1.6× host noise window no longer reads as 42 simultaneous
    regressions. Returns None when the previous payload predates the
    canary (round ≤7) or has no query table."""
    prev_canary = (prev.get("canary") or {}).get("scan_sec")
    prev_q = prev.get("queries") or {}
    if not prev_canary or not prev_q or canary_sec <= 0:
        return None
    host_ratio = round(canary_sec / prev_canary, 4)
    if host_ratio <= 0:
        return None
    flagged = {}
    for name, t in timings.items():
        pt = prev_q.get(name)
        if not pt or pt <= 0:
            continue
        norm = round((t / host_ratio) / pt, 4)
        if norm > PREV_FLAG_RATIO and t - pt > PREV_FLAG_MIN_SEC:
            flagged[name] = {
                "prev_sec": pt,
                "cur_sec": t,
                "normalized_ratio": norm,
            }
    return {
        "host_canary_ratio": host_ratio,
        "n_compared": sum(1 for n in timings if n in prev_q),
        "flagged": dict(
            sorted(
                flagged.items(),
                key=lambda kv: -kv[1]["normalized_ratio"],
            )
        ),
    }


def _finish(
    timings: dict[str, float],
    compiles: dict[str, int],
    contracts,
    canary_start: dict[str, float],
    canary_end: dict[str, float],
) -> None:
    """Totals, oracle comparison, family subtotals, canary-normalized
    deltas vs the previous detail file, compact stdout line.
    ``compiles`` holds each query's generated-class compilations over
    all its repeats (``codegen_compiles`` in the detail file). Solo
    (ONLY) runs write BENCH_DETAIL_SOLO.json so the headline
    BENCH_DETAIL.json is never clobbered by a quick loop."""
    total = round(sum(timings.values()), 4)
    # host speed = best observed: contamination (GC pauses, noisy
    # neighbors) only ever inflates a rep, so min(start, end) is the
    # robust cross-round statistic (means swung 2× where mins moved
    # 14% on back-to-back runs)
    canary_sec = round(min(canary_start["scan"], canary_end["scan"]), 4)
    drift = (
        round(
            max(canary_start["scan"], canary_end["scan"])
            / min(canary_start["scan"], canary_end["scan"]),
            4,
        )
        if min(canary_start["scan"], canary_end["scan"]) > 0
        else None
    )
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "codegen_compiles": compiles,
        "sf": _sf_from_dir(SF_DIR),
        "canary": {
            "start": canary_start,
            "end": canary_end,
            "scan_sec": canary_sec,
            "join_sec": round(
                min(canary_start["join"], canary_end["join"]), 4
            ),
            "intra_run_drift": drift,
            "unstable": bool(drift and drift > CANARY_DRIFT_BAND),
        },
    }

    if ORACLE_BENCH:
        # Same-machine DuckDB run of each query's oracle SQL — the
        # generated twin of BASELINE.md §"Measured comparison". One run
        # per query (no JIT warmup to absorb); ratio < 1 means the
        # engine is faster than the oracle on that query.
        import duckdb

        from k_means_using_mapreduce_spark.sources.loaders import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        extra = _extra_oracles()
        oracle_timings: dict[str, float] = {}
        for name in timings:
            sql = contracts.ORACLE_SQL.get(name) or extra.get(name)
            if sql is None:
                continue
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            oracle_timings[name] = round(time.perf_counter() - t0, 4)
        common = [n for n in oracle_timings if n in timings]
        engine_common = sum(timings[n] for n in common)
        oracle_total = sum(oracle_timings.values())
        out["oracle"] = {
            "queries": oracle_timings,
            "total_sec": round(oracle_total, 4),
            "engine_total_sec_common": round(engine_common, 4),
            # headline: engine wall-clock / oracle wall-clock on the
            # identical oracle-backed query set (BASELINE bar: <= 2.0)
            "engine_vs_oracle_ratio": round(engine_common / oracle_total, 4)
            if oracle_total > 0
            else None,
            "per_query_ratio": {
                n: round(timings[n] / oracle_timings[n], 4)
                for n in common
                if oracle_timings[n] > 0
            },
        }

    # Per-family subtotals (engine vs oracle) so composition drift in a
    # 280-entry set stays explainable at a glance (VERDICT r4 item 9).
    fam_engine: dict[str, float] = {}
    fam_oracle: dict[str, float] = {}
    fam_n: dict[str, int] = {}
    for name, t in timings.items():
        fam = contracts.QUERY_FAMILY.get(name, "adhoc")
        fam_engine[fam] = fam_engine.get(fam, 0.0) + t
        fam_n[fam] = fam_n.get(fam, 0) + 1
    if ORACLE_BENCH:
        for name, t in oracle_timings.items():
            fam = contracts.QUERY_FAMILY.get(name, "adhoc")
            fam_oracle[fam] = fam_oracle.get(fam, 0.0) + t
    out["families"] = {
        fam: {
            "n": fam_n[fam],
            "engine_sec": round(fam_engine[fam], 3),
            **(
                {
                    "oracle_sec": round(fam_oracle[fam], 3),
                    "ratio": round(fam_engine[fam] / fam_oracle[fam], 3),
                }
                if fam_oracle.get(fam)
                else {}
            ),
        }
        for fam in sorted(fam_engine)
    }

    # Full detail (every query + oracle ratios) goes to a file; the
    # printed line is kept under the driver's 2000-char stdout-tail
    # capture. Round 3's line grew past that (112 queries + the oracle
    # section) and the driver recorded {"parsed": null} — the budget
    # below is the fix: the line always parses, and BENCH_DETAIL.json
    # carries what doesn't fit.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_DETAIL_SOLO.json" if ONLY else "BENCH_DETAIL.json",
    )

    # Canary-normalized comparison against the PREVIOUS headline detail
    # (VERDICT r7 item 2): per-query times are divided by the host-speed
    # ratio before flagging, so a 1.4-1.6× noise window no longer reads
    # as 42 simultaneous regressions. Only full (non-solo) runs compare
    # or overwrite.
    if not ONLY and os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                prev = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev = {}
        vs_prev = compare_vs_prev(timings, prev, canary_sec)
        if vs_prev is not None:
            out["vs_prev"] = vs_prev

    with open(detail_path, "w") as f:
        json.dump(out, f, indent=1)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL_SOLO.json" if ONLY else "BENCH_DETAIL.json",
    }
    compact["canary_sec"] = canary_sec
    if drift and drift > CANARY_DRIFT_BAND:
        compact["canary_unstable"] = drift
    if "vs_prev" in out:
        compact["host_canary_ratio"] = out["vs_prev"]["host_canary_ratio"]
        compact["n_flagged_vs_prev"] = len(out["vs_prev"]["flagged"])
    if "oracle" in out:
        compact["oracle_ratio"] = out["oracle"]["engine_vs_oracle_ratio"]
        compact["oracle_total_sec"] = out["oracle"]["total_sec"]
    # fill "queries" most-expensive-first until the budget is reached
    budget = 1900
    compact["queries"] = {}
    for name in sorted(timings, key=timings.get, reverse=True):
        compact["queries"][name] = round(timings[name], 2)
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
