"""Fixed-seed subsets of the fuzz tiers (tools/fuzz.py), in the default gate.

Each case runs a contract-heavy subset of one ``TIERS`` row through the
same pandas-faithful comparator as tools/diffcheck.py (fetchdf/toPandas,
type identity, full-precision floats), so the adversarial corpora fire
on every commit; the full sweeps run in tools/roundclose.sh. Each
tier's corpus and the regime it isolates are in docs/TIERS.md.
"""

from __future__ import annotations

import hashlib

from tools import fuzz

# (test name, tier, subset, max_skips): every subset query runs, none
# FAILs, and at most max_skips are both-sides engine errors (SKIPs)
CASES = [
    # tokenization/case-fold, cumsum packing, array HOFs on empty docs,
    # dedup hashing, percentile/window arithmetic, PII regex classes
    ("test_fuzz_documents_subset", "documents", {
        "flatmap_wordcount", "text_clean_normalize", "text_repetition_quality",
        "text_pack_sequences", "text_bigram_lm", "text_chunk_windows",
        "text_winsorize_p90", "text_char_diversity", "text_pii_scrub",
        "text_keyword_scan", "dedup_paragraph_exact", "text_stratified_sample",
    }, 2),
    # NULL ordering (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST),
    # collect_list skipping NULLs in windows, CSV NULL-vs-'', NULL map keys
    ("test_fuzz_orders_subset", "orders", {
        "window_running_sum", "window_rank_variants", "window_ntile_quartiles",
        "window_first_last_nth_surface", "scd2_status_history",
        "orders_ses_level_fold", "orders_rolling_median_7d", "orders_ks_drift",
        "sketch_quantile_bins_grouped", "csv_gzip_read_agg", "map_ops_surface",
    }, 2),
    # folds over NULL elements, Alg sum seed vs SQL NULL, eqNullSafe vs
    # `=` oracles, struct-ordering NULL placement, sample vs population
    # skewness
    ("test_fuzz_joins_subset", "joins", {
        "fold_product_user_alg", "fold_histogram_pandas_udaf",
        "fold_reduce_option", "fold_minmax_struct_ordering",
        "comprehension_composite_theta", "array_hof_surface",
        "agg_stats_moments", "graph_preprocessing_edges",
        "lineitem_ship_latency", "lineitem_skyline_price_qty",
        "part_croston_intermittent", "q5_local_supplier_volume",
    }, 2),
    # similarity ops must gate zero vectors identically on both engines
    ("test_fuzz_embeddings_subset", "embeddings", {
        "ann_topk_cosine", "ann_lsh_topk", "embedding_neardup",
        "embedding_normalize", "embedding_semdedup_prune", "ml_knn_classify",
        "embedding_quantize_int8", "ann_recall_eval",
    }, 2),
    # gaps-and-islands, epoch division, windows over sparse calendars,
    # decay sums
    ("test_fuzz_events_subset", "events", {
        "events_interval_merge", "events_anomaly_zscore",
        "events_resample_linear", "events_markov_transitions",
        "events_heatmap_hour_dow", "events_alert_debounce",
        "events_changepoint_cusum", "events_retention_cohorts",
        "events_feature_store_pit", "events_interval_overlap_join",
    }, 2),
    # zero-variance daily series: every ratio-of-moments denominator is 0
    ("test_fuzz_events_constant_tier", "events_const", {
        "events_daily_autocorr", "events_cuped_adjusted_lift",
        "events_alert_debounce", "events_experiment_scorecard",
        "events_anomaly_zscore",
    }, 0),
    # empty intermediates: element_at/slice on empty arrays, singular OLS,
    # p*n = 0 AUC, NULL-poisoned SGD batches, empty file-staging globs
    ("test_fuzz_sparse_subset", "sparse", {
        "ml_sgd_linreg", "ml_logreg_sgd", "ml_auc_exact",
        "ml_gridsearch_ridge", "ml_learning_curve", "ml_kmeans_elbow",
        "io_wholetext_documents", "orders_ks_drift",
        "orders_holt_trend_fold", "orders_forecast_backtest",
    }, 0),
    # within-group variance and m2 exactly 0 (ANOVA F, Jarque-Bera guards)
    ("test_fuzz_orders_constant_tier", "orders_const", {
        "orders_weekday_anova", "orders_jarque_bera", "orders_benford_audit",
        "orders_ks_drift", "orders_price_drift_chi2",
    }, 1),
    # the oracles spanning several families, plus stream_cdc_merge_snapshot
    # (excluded from the events rows; its per-field arg_max under NULL
    # events is only reachable here)
    ("test_fuzz_cross_family", "cross", {
        "pipeline_dataset_fingerprint", "scd2_point_in_time_lookup",
        "udf_cogroup_reconcile", "search_hybrid_rrf", "stream_static_enrich",
        "stream_cdc_merge_snapshot",
    }, 0),
    # zero-row facts: the () grouping set keeps its grand-total row, ppm
    # ratios NULL out like DuckDB x//0, literal seeds from empty collects
    # pass analysis, driver-side fits return typed empty frames
    ("test_fuzz_empty_facts_subset", "empty", {
        "rollup_orders", "cube_lineitem", "grouping_sets_orders",
        "rollup_grouping_id_surface", "udtf_table_argument",
        "events_srm_check", "events_bounce_rate", "graph_reciprocity",
        "pipeline_curation_funnel", "ml_bootstrap_ci_poisson",
        "events_burst_viterbi", "ml_kmeans_fit", "text_pack_sequences",
        "ann_ivf_trained", "graph_pagerank_sf", "ml_naive_bayes_train",
        "ml_pca_power_top", "parquet_partitioned_roundtrip",
        "pipeline_split_leakage_audit", "ml_feature_hash_collision_audit",
    }, 0),
    # one group: kappa's zero chance-correction denominator, one giant
    # session window, maximal tie density, worst-case LSH bucket load
    ("test_fuzz_monokey_skew_subset", "skew", {
        "ml_cohens_kappa", "events_sessionize", "window_topn_per_group",
        "dedup_lsh_bucket_stats", "q5_local_supplier_volume",
        "ml_nearest_centroid_confusion",
    }, 0),
    # negative-epoch division, calendar truncation and gap arithmetic
    ("test_fuzz_epoch_straddle_subset", "epoch", {
        "datetime_ops_surface", "events_sessionize", "events_interval_merge",
        "events_resample_linear", "hyper_rollup_daily", "events_bounce_rate",
        "orders_yoy_growth",
    }, 0),
    # the heaviest product/sum pipelines at the domain ceiling: an
    # unlifted LONG product or saturating quantization diverges here
    ("test_fuzz_domain_max_subset", "domainmax", {
        "groupby_agg_pricing", "q9_profit_by_nation_year", "agg_stats_moments",
        "orders_jarque_bera", "ml_linreg_closed_form", "embedding_neardup",
    }, 0),
    # signed zeros in measures, the events value column, and vector
    # elements (the all -0.0 vector hits the zero-norm gate)
    ("test_fuzz_negzero_subset", "negzero", {
        "groupby_agg_pricing", "agg_stats_moments", "fold_global",
        "events_bitmap_dau", "ann_topk_cosine", "embedding_normalize",
    }, 0),
    # joins that survive into single-row and constant-measure groups
    # (ml_grouped_ols_slopes DIVIDE_BY_ZERO class), one per FK family
    ("test_fuzz_matched_subset", "matched", {
        "ml_grouped_ols_slopes", "graph_assortativity",
        "events_daily_autocorr", "orders_weekday_anova",
        "ml_pca_power_top", "q5_local_supplier_volume",
        "q9_profit_by_nation_year", "groupby_agg_pricing",
        "events_cuped_adjusted_lift", "ann_topk_cosine",
    }, 1),
    # every selection-among-equals family under total tie ambiguity
    ("test_fuzz_ties_subset", "ties", {
        "window_topn_per_group", "dedup_exact", "ann_topk_cosine",
        "asof_join_purchases", "stream_windowed_topk_users",
        "sample_reservoir", "q2_min_cost_supplier", "agg_argmax_surface",
        "dedup_minhash_pairs", "text_bm25_scores",
    }, 1),
    # aggregates NULL over live group rows: Option seeds, NB NULL-poison
    # denominator, list() vs collect_list, Croston state, UDTF NULL rows
    ("test_fuzz_nullmeasures_subset", "nullmeasures", {
        "mutable_bag_update", "ml_naive_bayes_train", "array_hof_surface",
        "part_croston_intermittent", "udtf_table_argument",
        "groupby_agg_pricing", "agg_argmax_surface",
        "pivot_status_by_priority", "window_topn_per_group",
        "events_bitmap_dau",
    }, 1),
    # the two JSON consumers (parser-quarantine contract) plus events
    # canaries that must not depend on the props content
    ("test_fuzz_props_subset", "props", {
        "udtf_expand_props", "variant_ops_surface",
        "events_retention_cohorts", "events_bitmap_dau",
    }, 1),
]


def _tier_case(tier, subset, max_skips):
    def test(spark):
        n_ok, n_skip, failures = fuzz.run_tier(
            spark, tier, only=subset, quiet=True)
        assert not failures, "\n".join(failures)
        assert (n_ok + n_skip == len(subset)
                and n_ok >= len(subset) - max_skips), (n_ok, n_skip)
    return test


for _name, _tier, _subset, _max_skips in CASES:
    globals()[_name] = _tier_case(_tier, _subset, _max_skips)


def test_fuzz_nan_subset(spark):
    """NaN is a present non-NULL value that Spark's floor maps to 0
    silently: the NaN-total contracts must match on both engines, and
    the documented domain error (CAST(NaN AS BIGINT) inside the exact
    product) must be a both-sides engine-error, never a one-sided one."""
    from emma_spark.workloads import load_all
    from tools.diffcheck import compare_one

    tier = fuzz.TIERS["nan"]
    tier.build(tier.dir)
    con = fuzz.connect(tier.dir, tier.tables)
    qs = load_all()
    for name, want in (("fold_global", "ok"),
                       ("fold_histogram_pandas_udaf", "ok"),
                       ("fold_reduce_option", "ok"),
                       ("agg_stats_moments", "ok"),
                       ("fold_product_user_alg", "engine-error")):
        st, detail = compare_one(
            spark, con, name, qs[name].fn, qs[name].oracle, tier.dir)
        assert st == want, (name, st, detail[:200])


# one stream workload per stateful class: append windowed agg (guarded,
# so its poison and drift passes run too), complete-mode agg,
# applyInPandasWithState update, session merge, stream-stream outer
# join state, chained stateful operators
_RESTART_SUBSET = {
    "stream_watermark_append", "stream_tumbling_counts",
    "stream_keyed_state_counts", "stream_session_windows",
    "stream_stream_left_outer_join", "stream_chained_window_aggs",
}


def test_fuzz_restart_resume_subset(spark):
    """Two checkpointed drains over a growing staging dir must equal the
    batch oracle; the guarded member's poison and drift passes stay
    batch-equivalent, and the unguarded drift control absorbs silently."""
    n_ok, n_skip, failures = fuzz.run_tier(
        spark, "restart", only=_RESTART_SUBSET, quiet=True)
    assert not failures, "\n".join(failures)
    # 6 clean + 1 poison + 1 drift (stream_watermark_append is guarded)
    # + 1 drift-control (stream_tumbling_counts is in the subset)
    assert n_ok == len(_RESTART_SUBSET) + 3, (n_ok, n_skip)
    assert n_skip == 0, n_skip


def test_tier_corpora_are_deterministic(tmp_path):
    """Every TIERS corpus builds byte-identically twice."""
    def digests(root):
        return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
                for p in sorted(root.glob("*.parquet"))}

    for name, tier in fuzz.TIERS.items():
        if tier.build is None:
            continue
        a, b = tmp_path / "a" / name, tmp_path / "b" / name
        tier.build(str(a))
        tier.build(str(b))
        assert digests(a) and digests(a) == digests(b), name
