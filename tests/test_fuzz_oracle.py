"""Adversarial oracle stress (round-5 hardening): the driver's
Spark-vs-DuckDB value compare, re-run over PATHOLOGICAL micro-datasets —
single-row tables, mostly-empty partitions, all-NULL group keys. The
round-4 signed prefix-sum bug proved this defect class escapes sf0.01
(well-populated, well-distributed data masks boundary arithmetic); this
sweep pins the most recently added oracled queries against the same
oracles on data built to hit the boundaries.

Plus hypothesis property fuzz for the generic operators whose partition
arithmetic caused the original bug (global_prefix_sum with signed values
and empty partitions; heavy_hitters local-bound recall)."""

from __future__ import annotations

import pandas as pd
import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES
from tests.test_oracle import canon, oracle_diff

# full-suite tier: the driver's own correctness gate (and run_simlog)
# re-checks every oracle each round; this mirror runs with
# SPARK_GRAFT_TESTS_FULL=1 (see conftest)
pytestmark = pytest.mark.slow

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The most recently added oracled queries (r4/r5 additions per VERDICT) +
# the structurally riskiest older ones (windows, prefix scans, iteration) +
# every query the round-5 full-catalog fuzz audit caught diverging (each
# fixed; pinned here so the divergence class stays dead).
RECENT = [
    # round-12 additions
    "quantile_exact_disc_totalprice",
    # round-11 additions
    "retrieval_mmr_rerank",
    "embedding_matryoshka_recall",
    "embedding_knn_label_eval",
    "multimodal_image_tiles",
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
    # round-9 late additions (finance/SPC/graph/KWIC)
    "spc_imr_revenue",
    "supplier_otif",
    "graph_harmonic_centrality",
    "eval_cost_optimal_threshold",
    "text_kwic_concordance",
    "embedding_cosine_topk_auto",
    "rolling_median_revenue",
    "multimodal_aspect_buckets",
    "stats_grubbs_test",
    "stats_mcnemar_test",
    "mlprep_curriculum_phases",
    "eval_clipped_ngram_precision",
    "graph_label_propagation",
    "graph_jaccard_neighbors",
    "eval_krippendorff_alpha",
    "text_collation_group",
    "fx_asof_revenue",
    "finance_sharpe_rolling",
    "ledger_trial_balance",
    # round-9 pack
    "versioned_changefeed",
    "experiment_bh_fdr",
    "timeseries_croston",
    "graph_hits_bipartite",
    "tokenizer_fertility_by_lang",
    "geo_geohash_rollup",
    "multimodal_audio_vad",
    "versioned_branch_rebase",
    "stats_kruskal_wallis",
    "stats_cliffs_delta",
    "eval_mrr_map",
    "experiment_post_stratified_ate",
    # round-8 pack
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
    "policy_ips_offline_eval",
    "versioned_branch_merge",
    "stats_logrank_test",
    "eval_expected_calibration_error",
    "regr_rolling_slope",
    "forecast_mase_seasonal",
    # round-7: BPE oracle conversion (verdict item 6) + CMS re-profile
    "text_bpe_token_counts",
    "approx_topk_cms",
    # round-7 pack: kcore / levene / keyness / bucketed join
    "graph_kcore",
    "stats_levene_test",
    "text_keyness_g2",
    "join_bucketed_colocated",
    "embedding_mutual_nn",
    "stats_cochran_armitage",
    "timeseries_dtw_band",
    "graph_adamic_adar",
    "privacy_dp_noisy_counts",
    "funnel_time_bounded",
    "geo_dbscan_cells",
    "format_orc_roundtrip",
    # round-6 inference/recursive/window-frame pack
    "stats_welch_ttest",
    "stats_anova_f",
    "stats_mannwhitney_u",
    "stats_ks_two_sample",
    "stats_spearman_rho",
    "recursive_month_spine_revenue",
    "recursive_part_hierarchy_rollup",
    "window_range_interval_frame",
    "orders_drawdown_daily",
    "geo_knn_suppliers",
    "gini_by_segment",
    "lorenz_revenue_deciles",
    "eval_auc_roc",
    "eval_confusion_thresholds",
    "eval_pr_curve",
    "eval_calibration_bins",
    "stats_mutual_information",
    "drift_psi_events",
    "stats_cuped_adjusted_diff",
    "mlprep_target_encoding_kfold",
    "events_prefixspan_patterns",
    # round-6 resampling / linkage / recursion pack
    "stats_poisson_bootstrap_ci",
    "stats_permutation_diff_test",
    "recursive_holt_linear_trend",
    "funnel_time_to_convert",
    "linkage_fellegi_sunter",
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
    "eval_conformal_coverage",
    "text_readability_flesch",
    "timeseries_acf_lags",
    "timeseries_sax_words",
    "recursive_holt_winters_daily",
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
    # round-6 additions
    "basket_rules_lift",
    "mlprep_class_balance_weights",
    "text_source_token_tvd",
    "dedup_ngram_containment",
    "privacy_t_closeness",
    "events_cusum_changepoint",
    "agg_mode_exact",
    "stats_chi_square_independence",
    "orders_benford_digits",
    "timeseries_ohlc_vwap",
    "text_cross_doc_dup_spans",
    "join_asof_nearest",
    "stats_kaplan_meier_reorder",
    "agg_corr_covar_skew",
    "attribution_linear_touch",
    "autocorr_user_lag1",
    "basket_frequent_itemsets",
    "cep_error_burst",
    "cep_journey_counts",
    "cumulative_distinct_users",
    "dedup_clusters",
    "dedup_exact",
    "dedup_exact_by_source",
    "dedup_keep_best",
    "dedup_ngram_jaccard",
    "doc_winnowing_fingerprint",
    "events_xml_roundtrip",
    "exact_quantiles",
    "funnel_conversion",
    "histogram_totalprice",
    "hr_parse_contract",
    "multimodal_raw_rgb_resize",
    "join_scd2_pointlookup",
    "linkage_part_names",
    "max_concurrent_sessions",
    "multimodal_decode_features",
    "multimodal_features",
    "orders_abc_pareto",
    "orders_backlog_aging",
    "orders_priority_mix_tvd",
    "regr_user_trend",
    "revenue_growth_wow",
    "rfm_user_profile",
    "rollup_hour_day",
    "scd2_user_state",
    "skew_salted_agg",
    "text_decontaminate",
    "text_tfidf_top_terms",
    "text_sentences_udtf",
    "text_sparse_cosine_pairs",
    "udaf_grouped_zscore",
    "user_activity_streaks",
    "versioned_time_travel",
    "versioned_zorder_prune",
    "versioned_optimize_compact",
    "versioned_delete_vectors",
    "versioned_merge_upsert",
    "versioned_incremental_delta",
    # round-6 additions: CHECK/OCC/evolution lakehouse paths, md5-tier
    # sketch conversions, deterministic minhash + SRP ANN
    "versioned_check_reject",
    "versioned_occ_retry",
    "versioned_schema_evolution",
    "approx_topk_cms",
    "approx_f2_tokens",
    "bloom_prefilter_orders",
    "dedup_minhash_lsh",
    "dedup_incremental_neardup",
    "dedup_sketch_quality_report",
    "embedding_ann_srp",
    "embedding_ann_ivf_det",
]


# Scenario construction lives in scripts/fuzz_catalog.py (the full-sweep
# tool) — one source for both the CI subset here and the full audit.
from scripts.fuzz_catalog import build as _build_scenario  # noqa: E402


@pytest.fixture(scope="module")
def fuzz_single(spark, tmp_path_factory):
    return _build_scenario(spark, "single", str(tmp_path_factory.mktemp("fuzz_single")))


@pytest.fixture(scope="module")
def fuzz_nulls(spark, tmp_path_factory):
    return _build_scenario(spark, "nulls", str(tmp_path_factory.mktemp("fuzz_nulls")))


@pytest.fixture(scope="module")
def fuzz_ties(spark, tmp_path_factory):
    """Hot-key/all-ties tables: constant measures (zero variance),
    duplicate sort keys everywhere. Caught Spark 4's ANSI corr throwing on
    zero variance and a tf-idf norm /0 in round 5."""
    return _build_scenario(spark, "ties", str(tmp_path_factory.mktemp("fuzz_ties")))


def _duck_for(fuzz_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fuzz_dir}/{t}.parquet/*.parquet')"
        )
    return con


def _compare(name: str, spark, fuzz_dir: str) -> None:
    sdf = QUERIES[name](spark, fuzz_dir).toPandas()
    con = _duck_for(fuzz_dir)
    try:
        odf = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    diff = oracle_diff(sdf, odf)
    assert diff is None, f"{name} on fuzz data: {diff}"


def test_recent_list_is_current():
    """The sweep must actually cover the recent catalog: every listed name
    registered AND oracled, and the list at least 20 strong."""
    missing = [n for n in RECENT if n not in QUERIES]
    unoracled = [n for n in RECENT if n in QUERIES and n not in ORACLES]
    assert not missing, f"not registered: {missing}"
    assert not unoracled, f"no oracle: {unoracled}"
    assert len(RECENT) >= 20


@pytest.mark.parametrize("name", RECENT)
def test_fuzz_single_row_tables(name, spark, fuzz_single):
    _compare(name, spark, fuzz_single)


@pytest.mark.parametrize("name", RECENT)
def test_fuzz_null_group_keys(name, spark, fuzz_nulls):
    _compare(name, spark, fuzz_nulls)


@pytest.mark.parametrize("name", RECENT)
def test_fuzz_all_ties(name, spark, fuzz_ties):
    _compare(name, spark, fuzz_ties)


# --- hypothesis property fuzz for the partition-arithmetic operators ---


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.integers(-1_000, 1_000), min_size=0, max_size=60),
    parts=st.integers(min_value=1, max_value=8),
)
def test_global_prefix_sum_signed_property(spark, values, parts):
    """global_prefix_sum must equal pandas cumsum for ANY signed input and
    ANY partition count (including partitions left empty) — the exact
    failure surface of the round-4 max(running)-offset bug."""
    from hw_kafka_flink_health_spark.operators.relational import global_prefix_sum

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "ord long, delta long")
    got = (
        global_prefix_sum(df, "delta", ["ord"], n_partitions=parts)
        .orderBy("ord")
        .toPandas()
    )
    expect = pd.Series([v for _, v in rows], dtype="int64").cumsum()
    assert got["running_total"].tolist() == expect.tolist()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=1, max_value=30),
        min_size=1,
        max_size=8,
    ),
    threshold=st.integers(min_value=1, max_value=25),
    parts=st.integers(min_value=1, max_value=8),
)
def test_heavy_hitters_exact_recall_property(spark, counts, threshold, parts):
    """heavy_hitters must return EXACTLY the keys with count >= threshold
    regardless of how the rows are spread over partitions (the local
    threshold//P bound must never create false negatives)."""
    from hw_kafka_flink_health_spark.operators.frequency import heavy_hitters

    rows = [(k,) for k, c in counts.items() for _ in range(c)]
    df = spark.createDataFrame(rows, "key long").repartition(parts)
    got = {r["key"]: r["cnt"] for r in heavy_hitters(df, "key", threshold=threshold).collect()}
    expect = {k: c for k, c in counts.items() if c >= threshold}
    assert got == expect


def test_fuzz_canon_float_negzero_guard():
    """The canonicalizer itself: -0.0 and 0.0 repr differently; queries
    normalize with `+ 0.0` on BOTH engines. Keep the invariant visible —
    if canon ever starts folding them, the engine-side normalizations
    could silently rot."""
    a = pd.DataFrame({"x": [0.0]})
    b = pd.DataFrame({"x": [-0.0]})
    assert canon(a) != canon(b)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_survive_pathological_data(name, spark, fuzz_ties):
    """Rows-only queries have no oracle to diverge from, but they must at
    least RUN on degenerate data — the all-ties corpus caught Spark ml
    KMeans crashing with an ArrayIndexOutOfBounds when it cannot find k
    distinct centers (IVF + SemDeDup, round 5)."""
    assert QUERIES[name](spark, fuzz_ties).count() >= 0


# --- determinism-under-partitioning (repart scenario, round-7 verdict #2) ---

# The CI subset of scripts/fuzz_catalog.py's repart sweep: queries whose
# outputs involve data-sized floating-point sums, rounded money sums, or
# HAVING thresholds on float totals — the class where partial-aggregate
# merge order can flip a last digit (stats_anova_f, r7) or a rounded
# boundary value (q11_important_parts, caught by the first full repart
# sweep in r8). The full 343-query sweep runs per-round via
# `python scripts/fuzz_catalog.py repart`.
REPART_RISKY = [
    "finance_sharpe_rolling",
    "eval_mrr_map",
    "stats_kruskal_wallis",
    "experiment_post_stratified_ate",
    "stats_anova_f",
    "q11_important_parts",
    "stats_levene_test",
    "stats_welch_ttest",
    "regr_multiple_ols",
    "regr_user_trend",
    "agg_corr_covar_skew",
    "q1_pricing_summary",
    "orders_bullwhip_ratio",
    "stats_user_burstiness",
    "inventory_fifo_cogs",
    "timeseries_ma_decomposition",
    "graph_degree_assortativity",
    "stats_cuped_adjusted_diff",
]


@pytest.fixture(scope="module")
def repart_layouts(spark, tmp_path_factory):
    from scripts.fuzz_catalog import build_repart

    return build_repart(spark)


@pytest.mark.parametrize("name", REPART_RISKY)
def test_fuzz_repartition_invariance(name, spark, repart_layouts):
    """The same rows in a 1-file vs 16-file layout, with shuffle
    partitions 1 vs 16, must produce bit-identical canonical output: a
    layout-dependent result WILL eventually hash-mismatch the sequential
    DuckDB oracle."""
    from scripts.fuzz_catalog import _REPART_RUNS

    outs = []
    for which, shuf, mpb, ocb in _REPART_RUNS:
        with conf_override(spark, **{
            "spark.sql.shuffle.partitions": shuf,
            "spark.sql.files.maxPartitionBytes": mpb,
            "spark.sql.files.openCostInBytes": ocb,
        }):
            outs.append(QUERIES[name](spark, repart_layouts[which]).toPandas())
    diff = oracle_diff(*outs)
    assert diff is None, f"{name}: layout-dependent result: {diff}"


def test_repart_risky_list_is_current():
    missing = [n for n in REPART_RISKY if n not in ORACLES]
    assert not missing, f"not oracled: {missing}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.integers(-50, 50), min_size=0, max_size=60),
    parts=st.integers(min_value=1, max_value=8),
    k=st.integers(min_value=1, max_value=12),
)
def test_distributed_rank_ntile_property(spark, values, parts, k):
    """distributed_row_number / distributed_ntile must equal pandas rank
    arithmetic for ANY value multiset (dense ties included), ANY
    partition count (range partitions left empty included), and ANY
    tile count (k > N included) — the same failure surface class as the
    prefix-sum offset bug, on the round-10 operator."""
    from hw_kafka_flink_health_spark.operators.relational import (
        distributed_ntile,
        distributed_row_number,
    )

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    got_rn = {
        r.id: r.rn
        for r in distributed_row_number(
            df, ["v", "id"], out_col="rn", n_partitions=parts
        ).collect()
    }
    expect_order = sorted(rows, key=lambda t: (t[1], t[0]))
    exp_rn = {rid: i + 1 for i, (rid, _) in enumerate(expect_order)}
    assert got_rn == exp_rn, (values, parts)

    got_t = {
        r.id: r.t
        for r in distributed_ntile(
            df, k, ["v", "id"], out_col="t", n_partitions=parts
        ).collect()
    }
    n = len(values)
    q, rem = divmod(n, k)
    exp_t = {}
    for pos, (rid, _) in enumerate(expect_order):  # SQL-standard NTILE
        if pos < rem * (q + 1):
            exp_t[rid] = pos // (q + 1) + 1
        else:
            exp_t[rid] = rem + (pos - rem * (q + 1)) // q + 1
    assert got_t == exp_t, (values, parts, k)
