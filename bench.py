#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints TWO JSON lines on stdout and nothing else:

  line 1: the full record — {"metric", "value", "unit", "queries": {per-query
          seconds}, "sf"} (compact separators; can grow unboundedly with the
          headline set)
  line 2 (LAST): a short, size-bounded summary — {"metric", "value", "unit",
          "n_queries", "sf", "queries": {slowest few}, "detail": path} —
          guaranteed to fit in a fixed-size log-tail capture. The driver's
          round-3 capture clipped the head of the (then single) 76-query
          line, making it unparseable; the bounded last line fixes that
          permanently. The complete per-query map is also written to
          BENCH_DETAIL.json next to this script.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect cost). Session startup and a warmup scan are excluded
— the metric is engine time, not JVM boot.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import envinfo  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Deliberately-suboptimal instrumentation queries (round-6 verdict item 5):
# each runs a tier ABOVE its measured crossover so a regression in the
# production tier's advantage is visible round-over-round. They are benched
# like everything else, but the record tags them and reports the
# engine-best subtotal separately so a reader never mistakes a canary's
# time for the engine's best plan for that workload.
CANARIES = {
    # expression-tier cosine on a query set ~28% past the Arrow/BLAS
    # crossover; production tier = embedding_cosine_topk_arrow_wide
    "embedding_cosine_topk_wide",
}

# Representative coverage: scan+agg, join chains (incl. semi/outer/interval),
# windows (time + analytic), as-of, dedup (exact + jaccard), similarity,
# text/TF-IDF, sessionization, hash-split.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_priority_exists",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "join_broadcast_part_revenue",
    "join_asof",
    "interval_join_attribution",
    "window_topk_per_group",
    "hr_alerts_tumbling",
    "hr_alerts_sliding",
    "session_windows",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "embedding_cosine_topk",
    "embedding_label_centroids",
    "text_quality",
    "text_tfidf_top_terms",
    "mlprep_hash_split",
    "chunk_documents",
    "timeseries_gapfill",
    "sessionize_events",
    "rolling_window_features",
    "events_ewma",
    "winsorize_events",
    "snapshot_diff_orders",
    "merge_upsert_orders",
    "profile_lineitem",
    "text_repetition",
    "pii_redaction",
    "embedding_int8_quantize",
    "text_url_extraction",
    "dedup_keep_best",
    "skew_salted_join",
    "interval_join_outer_attribution",
    "embedding_cosine_topk_arrow",
    "events_anomaly_mad",
    # analytics pack (tracked since r3)
    "funnel_conversion",
    "scd2_user_state",
    "rollup_hour_day",
    "autocorr_user_lag1",
    # runtime-filtered joins (tracked since r3)
    "dpp_partitioned_revenue",
    "bloom_filtered_join_revenue",
    # incremental/statistics pack (tracked since r3)
    "incremental_rollup",
    "exact_quantiles",
    "heavy_hitter_tokens",
    "median_value_by_type",
    # LLM-pipeline + range-join pack (tracked since r3b)
    "text_decontaminate",
    "text_remove_repeated_spans",
    "mlprep_domain_mix",
    "mlprep_curriculum_phases",
    "join_interval_binned",
    # integration + audit pack (tracked since r3c)
    "pipeline_pretrain_corpus",
    "privacy_k_anonymity",
    "graph_degree_histogram",
    # LM scoring pack (tracked since r3d)
    "quality_logistic_score",
    "text_bigram_logprob",
    # corpus-prep pack (tracked since r3e)
    "text_paragraph_dedup",
    "mlprep_shuffle_shards",
    "mlprep_feature_hashing",
    "events_variant_extract",
    "hr_rollup_chained",
    "join_lateral_topn",
    "embedding_decontaminate",
    # analytics/quality pack (tracked since r3f)
    "events_seasonal_anomaly",
    "cdc_apply_log",
    "user_activity_streaks",
    "supplier_concentration_hhi",
    "dq_expectations_report",
    "session_windows_dynamic_gap",
    "events_xml_roundtrip",
    # round-4 pack: literal 10 s slide parity; cosine tiers at the
    # above-crossover regime where arrow should win (PLANS.md epilogue)
    "hr_alerts_sliding_10s",
    "embedding_cosine_topk_wide",
    "embedding_cosine_topk_arrow_wide",
    "embedding_cosine_topk_auto",
    # round-4 analytics widening: exact rolling distinct; distributed
    # global prefix sum; per-user sequence windows; corpus entropy
    "rolling_active_users",
    "orders_abc_pareto",
    "events_markov_transitions",
    "text_token_entropy",
    "orders_ship_latency",
    "incremental_join_view",
    "text_sparse_cosine_pairs",
    "graph_triangle_neardup",
    # round-4 pack b: CEP, retrieval, sketch, spatial, anti-entropy
    "cep_journey_counts",
    "cep_followed_by",
    "text_bm25_topk",
    "hybrid_rrf_retrieval",
    "approx_topk_cms",
    "geo_grid_radius_join",
    "merkle_block_diff",
    "join_skew_diagnostics",
    "text_compression_ratio",
    # round-4 pack c: graph BFS, attribution, forecast backtest, privacy,
    # hash-checkable quantile sketch
    "graph_bfs_distance",
    "attribution_linear_touch",
    "forecast_seasonal_naive_backtest",
    "privacy_l_diversity",
    "quantile_sketch_log",
    "max_concurrent_sessions",
    "regr_theil_sen_user",
    "corr_kendall_tau_user",
    "percentile_matrix_by_type",
    "mlprep_stratified_exact",
    "cep_error_burst",
    "pipeline_rag_index",
    "session_bounce_rate",
    "weighted_median_price",
    # round-5 additions: lakehouse maintenance, multi-dim pruning, UDTF,
    # value-oracled fingerprints/codecs
    "versioned_time_travel",
    "versioned_zorder_prune",
    "versioned_optimize_compact",
    "versioned_delete_vectors",
    "versioned_merge_upsert",
    "versioned_incremental_delta",
    "text_sentences_udtf",
    "doc_winnowing_fingerprint",
    "multimodal_decode_features",
    "multimodal_aspect_buckets",
    "basket_frequent_itemsets",
    # round-6 additions: deterministic minhash LSH (newly value-oracled),
    # CHECK/OCC/schema-evolution lakehouse surfaces
    "dedup_minhash_lsh",
    "embedding_ann_srp",
    "embedding_ann_ivf_det",
    "versioned_check_reject",
    "versioned_occ_retry",
    "versioned_schema_evolution",
    # round-6 pack b: stats layer (chi-square, Benford, Kaplan-Meier),
    # OHLC bars, cross-doc dup-span screen, nearest as-of
    "stats_chi_square_independence",
    "orders_benford_digits",
    "stats_kaplan_meier_reorder",
    "timeseries_ohlc_vwap",
    "rolling_median_revenue",
    "spc_imr_revenue",
    "text_cross_doc_dup_spans",
    "join_asof_nearest",
    "dedup_ngram_containment",
    "privacy_t_closeness",
    "events_cusum_changepoint",
    "agg_mode_exact",
    "basket_rules_lift",
    "mlprep_class_balance_weights",
    "text_source_token_tvd",
    # round-6 pack c: inference tests, recursive CTEs, RANGE frames,
    # drawdown
    "stats_mannwhitney_u",
    "stats_ks_two_sample",
    "stats_spearman_rho",
    "stats_anova_f",
    "stats_welch_ttest",
    "recursive_month_spine_revenue",
    "recursive_part_hierarchy_rollup",
    "window_range_interval_frame",
    "orders_drawdown_daily",
    "geo_knn_suppliers",
    "gini_by_segment",
    "lorenz_revenue_deciles",
    "eval_auc_roc",
    "eval_pr_curve",
    "stats_mutual_information",
    "drift_psi_events",
    "stats_cuped_adjusted_diff",
    "mlprep_target_encoding_kfold",
    "events_prefixspan_patterns",
    # round-6 pack d: resampling inference, probabilistic linkage, cohort
    # latency. recursive_holt_linear_trend is deliberately NOT here: its
    # cost is ~constant UnionLoop scheduler overhead (one micro-job per
    # month step, SF-independent — see PLANS.md), which would add ~20 s
    # of fixed noise to the headline total without measuring data-path
    # throughput; SCALING.md carries its (flat) profile instead.
    "stats_poisson_bootstrap_ci",
    "stats_permutation_diff_test",
    "linkage_fellegi_sunter",
    "funnel_time_to_convert",
    "attribution_shapley",
    "stats_did_estimator",
    "stats_msprt_always_valid",
    "versioned_restore",
    "eval_qini_uplift",
    "text_rake_keywords",
    "approx_jaccard_kmv",
    "cohort_ltv_triangle",
    "stats_power_sample_size",
    "orders_business_day_latency",
    "inventory_fifo_cogs",
    "fx_asof_revenue",
    "finance_sharpe_rolling",
    "ledger_trial_balance",
    "supplier_otif",
    "eval_conformal_coverage",
    "text_readability_flesch",
    "timeseries_acf_lags",
    "timeseries_sax_words",
    "eval_isotonic_calibration",
    "experiment_srm_check",
    "stats_nelson_aalen",
    "mlprep_quantile_normalize",
    "text_pmi_collocations",
    "embedding_silhouette_points",
    "regr_multiple_ols",
    "graph_degree_assortativity",
    "timeseries_ma_decomposition",
    "join_relational_division",
    "text_hapax_ratio",
    "eval_decile_lift",
    "mlprep_temperature_mixture",
    "embedding_kmeans_step",
    "stats_beta_binomial_shrinkage",
    "stats_user_burstiness",
    "events_interval_union_length",
    "eval_cohens_kappa",
    "eval_brier_score",
    "stats_runs_test",
    "stats_friedman_test",
    "growth_accounting_weekly",
    "dedup_source_overlap_matrix",
    "orders_bullwhip_ratio",
    "embedding_power_iteration",
    "mlprep_dedup_aware_split",
    "skyline_suppliers_2d",
    "events_boxplot_tukey",
    "rfm_segment_migration",
    "events_process_conformance",
    "revenue_yoy_same_month",
    "stats_two_proportion_ztest",
    "orders_interpurchase_percentiles",
    "versioned_tag_read",
    "privacy_generalization_ladder",
    "cohort_net_revenue_retention",
    "stats_hill_tail_index",
    "events_error_mtbf",
    "orders_seasonality_index",
    # round-7 pack: bounded-round k-core peel, Brown-Forsythe variance
    # homogeneity, G2 corpus keyness, bucketed co-located join
    "graph_kcore",
    "graph_label_propagation",
    "graph_harmonic_centrality",
    "graph_jaccard_neighbors",
    "stats_levene_test",
    "text_keyness_g2",
    "text_collation_group",
    "text_kwic_concordance",
    "join_bucketed_colocated",
    # round-7 pack b: reciprocal best-match pairs, trend-in-proportions
    "embedding_mutual_nn",
    "stats_cochran_armitage",
    "stats_grubbs_test",
    "stats_mcnemar_test",
    "timeseries_dtw_band",
    "graph_adamic_adar",
    "privacy_dp_noisy_counts",
    "funnel_time_bounded",
    "geo_dbscan_cells",
    "format_orc_roundtrip",
    # round-8 pack: jackknife / heaps / zipf / phrase / levenshtein /
    # markov stationary / price-volume-mix
    "stats_jackknife_ratio",
    "text_heaps_vocab_growth",
    "text_zipf_slope",
    "text_phrase_proximity",
    "dedup_levenshtein_blocked",
    "events_markov_stationary",
    "revenue_pvm_waterfall",
    "embedding_mmr_select",
    "revenue_share_of_parent",
    "eval_ndcg_at_k",
    "eval_krippendorff_alpha",
    "eval_clipped_ngram_precision",
    "eval_cost_optimal_threshold",
    "policy_ips_offline_eval",
    "versioned_branch_merge",
    "stats_logrank_test",
    "eval_expected_calibration_error",
    "regr_rolling_slope",
    "forecast_mase_seasonal",
    "versioned_branch_rebase",
    "stats_kruskal_wallis",
    "stats_cliffs_delta",
    "eval_mrr_map",
    "experiment_post_stratified_ate",
    # timeseries_croston is NOT here for the same reason as
    # recursive_holt_linear_trend: its cost is per-step UnionLoop
    # scheduler overhead (depth = demand days, calendar-capped), not
    # data-path throughput; SCALING.md carries its profile.
    "graph_hits_bipartite",
    "tokenizer_fertility_by_lang",
    "geo_geohash_rollup",
    "multimodal_audio_vad",
    "versioned_changefeed",
    "experiment_bh_fdr",
    # round-10 additions
    "embedding_semdedup_det",
    "eval_pinball_loss",
    "eval_winkler_interval_score",
    "timeseries_bollinger_breach",
    "mlprep_global_doc_ids",
    "retrieval_ann_recall_at_k",
    "graph_personalized_pagerank",
    "multimodal_image_phash",
    "text_code_detect",
    "events_slo_error_budget",
    "finance_var_historical",
    "join_asof_tolerance",
    "audit_order_total_reconciliation",
    "supplier_single_source_risk",
    "supplier_eoq_reorder",
    "inventory_abc_xyz_matrix",
    # round-11 additions
    "retrieval_mmr_rerank",
    "embedding_matryoshka_recall",
    "embedding_knn_label_eval",
    "multimodal_image_tiles",
    # round-12 additions
    "quantile_exact_disc_totalprice",
]

# PINNED tracked set for the bounded summary line (round-13, VERDICT r12
# #2/#3): the old summary carried only the 10 slowest queries of THAT
# run, so the round-over-round comparator saw churn — 5 of 15 entries
# "dropped" in r12 were simply pushed out of the top-10 by box drift.
# These names are emitted EVERY run (union of every name any recent
# record's top-40 has carried, all r12 PERF-compared names, and the
# cross-query-cache payers), so consecutive rounds always compare the
# same queries. The summary line stays under the driver's ~2 KB
# tail-capture window (measured: a >2 KB line parses to null — the r3
# incident); the full per-query map is line 1 + BENCH_DETAIL.json as
# before. Names here must be a subset of what a run times — unknown
# names are ignored defensively.
TRACKED = [
    "attribution_shapley",
    "basket_frequent_itemsets",
    "basket_rules_lift",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_ngram_containment",
    "dedup_ngram_jaccard",
    "doc_winnowing_fingerprint",
    "embedding_ann_srp",
    "embedding_cosine_topk",
    "embedding_matryoshka_recall",
    "embedding_semdedup_det",
    "eval_clipped_ngram_precision",
    "eval_conformal_coverage",
    "events_interval_union_length",
    "events_markov_stationary",
    "events_process_conformance",
    "exact_quantiles",
    "experiment_bh_fdr",
    "graph_adamic_adar",
    "graph_bfs_distance",
    "graph_harmonic_centrality",
    "graph_hits_bipartite",
    "graph_jaccard_neighbors",
    "graph_kcore",
    "graph_label_propagation",
    "graph_personalized_pagerank",
    "graph_triangle_neardup",
    "inventory_abc_xyz_matrix",
    "max_concurrent_sessions",
    "mlprep_dedup_aware_split",
    "pipeline_pretrain_corpus",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "recursive_part_hierarchy_rollup",
    "retrieval_ann_recall_at_k",
    "rfm_segment_migration",
    "stats_friedman_test",
    "stats_kruskal_wallis",
    "stats_poisson_bootstrap_ci",
    "streaming_alert_pipeline",
    "text_cross_doc_dup_spans",
    "text_rake_keywords",
    "versioned_changefeed",
    "versioned_delete_vectors",
    "versioned_time_travel",
]


def bench_streaming(spark) -> float:
    """Wall time to push every event at this SF through the full streaming
    alert pipeline (parse -> watermark -> window agg -> classify) as real
    micro-batches. The reference's producer-bound baseline is ~10 ev/s;
    this measures engine-bound throughput on the same workload shape.
    """
    import shutil
    import tempfile

    from hw_kafka_flink_health_spark.sources.files import load_table
    from hw_kafka_flink_health_spark.sources.rate import events_producer_json
    from hw_kafka_flink_health_spark.streaming.health_pipeline import build_streaming_job

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        ev = load_table(spark, SF_DIR, "events")
        raw = ev.select(events_producer_json().alias("raw"))
        src = f"{work}/src"
        raw.coalesce(8).write.mode("overwrite").json(src)

        t0 = time.perf_counter()
        reader = spark.readStream.schema("raw string").json(src)
        q = (
            build_streaming_job(reader, as_json=False)
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fingerprint(spark, snap: dict) -> dict:
    """Environment fingerprint recorded WITH the numbers (VERDICT r9): box
    identity, interpreter and engine versions, and the calibrated CPU
    score of `snap` (an `envinfo.snapshot()`), so a later reader can
    classify a cross-round delta as environmental without re-running
    anything."""
    return {
        **envinfo.fingerprint(),
        "cpu_score_mib_s": snap["cpu_score_mib_s"],
        "python": sys.version.split()[0],
        "spark": spark.version,
    }


def main() -> None:
    from hw_kafka_flink_health_spark.queries import QUERIES
    from hw_kafka_flink_health_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # stdout must carry ONLY the two JSON lines: silence every JVM log line
    # (DAGScheduler job-cancel warnings etc. otherwise interleave with them).
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: touch every table's parquet footer and run one small codegen'd
    # agg over the largest fact table, so per-query timings measure engine
    # time rather than first-touch JIT / footer-read / page-cache costs.
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").schema
    from pyspark.sql import functions as F  # noqa: N812

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").agg(
        F.sum("l_quantity")
    ).write.format("noop").mode("overwrite").save()
    # Warm the DPP demo's partitioned-lineitem cache: the partitionBy write
    # is ingest-time layout cost (paid once per machine), not query time —
    # dpp_partitioned_revenue's timing should measure the pruned scan.
    from hw_kafka_flink_health_spark.queries.runtime_filters import (
        lineitem_by_ship_month,
    )

    lineitem_by_ship_month(spark, SF_DIR)

    # Warm the Python/Arrow worker pool before any timed query: the first
    # mapInPandas in a session pays Python-worker fork + module import +
    # Arrow codepath JIT (~6 s observed), which landed on whichever
    # multimodal query ran first and read as a fake regression
    # (multimodal_audio_vad 2.58 s cold vs 0.9 s warm — VERDICT r10 #5).
    import pandas as _pd  # noqa: F401

    spark.range(64, numPartitions=8).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Fingerprint BEFORE the query loop (ADVICE r10): the CPU probe must
    # measure the conditions the queries are about to see, not a box
    # cooling down after them. A second snapshot after the loop records
    # the drift across the run.
    start = envinfo.snapshot()
    fp = {**fingerprint(spark, start), "python_worker_warm": True}

    # SPARK_GRAFT_BENCH_FULL=1 times the ENTIRE registered catalog
    # instead of the headline list (VERDICT r11 #5: 125 of 419 queries
    # had never appeared in any BENCH record — "covered" should not
    # silently mean "the 70% we time"). The driver's per-round run keeps
    # the headline contract; the full sweep is a committed one-off
    # artifact (BENCH_FULL.json via SPARK_GRAFT_BENCH_DETAIL).
    # explicit truthy values only: bool() on the raw string made
    # SPARK_GRAFT_BENCH_FULL=0 enable the sweep (review r12)
    full_sweep = os.environ.get("SPARK_GRAFT_BENCH_FULL", "").lower() in (
        "1",
        "true",
        "yes",
    )
    names = sorted(QUERIES) if full_sweep else HEADLINE
    # label what was actually timed: a 420-query full-catalog total read
    # against ~300 s headline records would misread as a regression
    # (review r12)
    metric = (
        "full_catalog_query_wall_time_total"
        if full_sweep
        else "headline_query_wall_time_total"
    )
    timings: dict[str, float] = {}
    for name in names:
        # time construction + execution: iterative operators (connected
        # components) do eager work while the DataFrame is being built
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
    timings["streaming_alert_pipeline"] = bench_streaming(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    # Machine-load provenance (round-5 verdict item 8): this box is
    # co-tenanted and identical code has measured 2x apart across a day —
    # recording the 1/5/15-min load averages WITH the numbers lets a
    # later reader classify a "regression" as environmental without
    # forensic reconstruction. The end snapshot is taken after the run so
    # the bench's own load is visible too.
    end = envinfo.snapshot()
    canaries = sorted(CANARIES & set(timings))
    engine_best_total = round(
        sum(v for k, v in timings.items() if k not in CANARIES), 3
    )
    full = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "canaries": canaries,
        "value_engine_best": engine_best_total,
        "load_avg_start": [round(x, 2) for x in start["loadavg"]],
        "load_avg_end": [round(x, 2) for x in end["loadavg"]],
        "n_cpus": os.cpu_count(),
        "fingerprint": {**fp, "cpu_score_mib_s_post": end["cpu_score_mib_s"]},
    }
    # SPARK_GRAFT_BENCH_DETAIL redirects the detail artifact: the bench
    # contract TEST runs this script at sf0.001 and previously clobbered
    # the committed sf0.1 BENCH_DETAIL.json with toy-scale numbers
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, separators=(",", ":"))
            f.write("\n")
    except OSError:
        detail_path = "(unwritable)"
    print(json.dumps(full, separators=(",", ":")))
    # Bounded LAST line: the PINNED tracked set (same names every run —
    # the r12 comparator blind spot was top-10 churn), then the slowest
    # remaining queries while the line fits. Cap 1900: the driver's
    # tail capture is 2000 chars and a longer line parses to null (r3).
    carried = dict(
        sorted(
            ((k, timings[k]) for k in TRACKED if k in timings),
            key=lambda kv: kv[1],
            reverse=True,
        )
    )
    for k, v in sorted(timings.items(), key=lambda kv: kv[1], reverse=True):
        carried.setdefault(k, v)
    summary = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": carried,
        "detail": "BENCH_DETAIL.json",
        "sf": sf_val,
        "n_canaries": len(canaries),
        "value_engine_best": engine_best_total,
    }
    line = json.dumps(summary, separators=(",", ":"))
    while len(line) > 1900 and summary["queries"]:
        summary["queries"].popitem()
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
