"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed as a full action (count of the materialized
result) after a warm-up of the session; per-query wall-clock is the
fair end-to-end number (scan → shuffle → result).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one per operator family — scan-heavy agg, large join,
# window, set op, text, similarity, dedup, UDF path — plus the
# compound multi-join TPC-H-shaped plans and the LSH scale paths.
HEADLINE = [
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "agg_hash_groupby",
    "agg_cube",
    "window_rank",
    "window_frame_agg",
    "set_except_all",
    "scalar_math",
    "scalar_json",
    "text_exact_dedup",
    "text_token_count",
    "text_near_dedup_minhash",
    "text_near_dedup_minhash_prod",
    "e2e_corpus_build",
    "sim_knn_cosine",
    "sim_lsh_bucketed",
    "sim_lsh_bucketed_prod",
    "udf_pandas_scalar",
]


def measure(spark, sf_dir: str, queries: dict, keys, runs: int):
    """Time each key as min-of-`runs` full `count()` actions.

    Returns `({key: seconds}, {key: replay breakdown})`. A failing key
    records -1.0 and the loop goes on. The replay timings are reset
    before every run, so a key's prep/stream/sink breakdown (r12
    VERDICT item 8) is the one of its own best run; only keys that
    replayed a stream get one. Caches are released after every key,
    failed or not, so nothing a key cached leaks into the next."""
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.streaming import replay

    timings: dict[str, float] = {}
    breakdown: dict[str, dict] = {}
    for name in keys:
        try:
            best = None
            for _ in range(runs):
                replay.reset_timings()
                t0 = time.time()
                queries[name](spark, sf_dir).count()
                elapsed = time.time() - t0
                if best is None or elapsed < best:
                    best = elapsed
                    if replay.LAST_TIMINGS["n_replays"]:
                        breakdown[name] = {
                            k: round(v, 3)
                            for k, v in replay.LAST_TIMINGS.items()
                        }
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]}s (min of {runs})",
                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            print(f"# {name} FAILED: {e}", file=sys.stderr)
        finally:
            with contextlib.suppress(Exception):
                spark.catalog.clearCache()
                release_rank_caches()
    return timings, breakdown


def jvm_compile_counters(spark) -> dict:
    """What the session's JVM has compiled so far: Janino compiles
    (generated-class cache misses) and their milliseconds, the JIT's
    total milliseconds, and Metaspace in use (MB)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    metaspace = next(
        p for p in mf.getMemoryPoolMXBeans() if p.getName() == "Metaspace"
    )
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    return {
        "janino_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "janino_ms": codegen.CodeGenerator.compileTime() / 1e6,
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "metaspace_mb": metaspace.getUsage().getUsed() / 2**20,
    }


def _jvm_mark(spark):
    """`jvm_compile_counters`, or the exception it raised: a failed
    reading costs only the `jvm_compile` entry."""
    try:
        return jvm_compile_counters(spark)
    except Exception as e:  # noqa: BLE001
        return e


def jvm_compile_entry(run0, head0, head1, run1) -> dict:
    """The `jvm_compile` extras entry from four `_jvm_mark` readings:
    deltas over the headline loop and over the whole run (Metaspace as
    its growth), plus Metaspace at the end."""
    for m in (run0, head0, head1, run1):
        if isinstance(m, Exception):
            raise m

    def delta(a, b):
        return {k: round(b[k] - a[k], 1) for k in a}

    return {
        "headline": delta(head0, head1),
        "run": delta(run0, run1),
        "metaspace_mb_end": round(run1["metaspace_mb"], 1),
    }


def _tool(module: str, fn: str):
    """`tools.<module>.<fn>`, imported when its extras row runs, so a
    tool that cannot import only costs its own entry."""
    return getattr(importlib.import_module(f"tools.{module}"), fn)


def _skew_join_sec(spark) -> dict:
    s = _tool("bench_skew", "run_skew")(spark, n=4_000_000)
    return {k: v for k, v in s.items() if k != "n_fact_rows"}


def _stream_ingest(spark) -> dict:
    run_stream = _tool("bench_stream", "run_stream")
    st = run_stream(spark, n=50_000, n_files=4)
    # The 12.5k-records/trigger number above is dominated by the
    # per-epoch fixed cost (trigger planning + checkpoint commit, see
    # BASELINE.md streaming section). The OPERATING-POINT measurement
    # at the documented 50k-records/trigger setting amortizes that cost
    # and is the round-over-round comparable.
    st50 = run_stream(spark, n=200_000, n_files=4)
    peak = max(
        (r / ms * 1000.0)
        for r, ms in zip(st50["epoch_rows"], st50["epoch_ms"])
        if ms
    )
    return {
        "stream_ingest_rps": st["value"],
        "stream_ingest_rps_50k_trigger": st50["value"],
        "stream_ingest_rps_peak_epoch": round(peak, 1),
    }


def run_tools(spark, sf_dir: str) -> dict:
    """Measured scale evidence beyond the registered keys (small sizes:
    the point is the recorded ratio/rate per round, not a stress run).
    One `(name, callable)` row per tool; a row's callable returns its
    extras entries, and a failure records `<name>_error` instead."""

    def one(name, module, fn, *args, **kw):
        return name, lambda: {name: _tool(module, fn)(spark, *args, **kw)}

    rows = [
        one("ntile_scale", "bench_ntile", "run_ntile_scale"),
        one("rank_stats_scale", "bench_ranks", "run_rank_stats_scale"),
        one("tau_scale", "bench_tau", "run_tau_scale"),
        one("topk_scale", "bench_topk", "run_topk_scale"),
        one("opq_recall", "bench_opq", "run_opq_recall", sf_dir),
        one("lsh_sweep", "bench_lsh_minhash", "run_lsh", sf_dir,
            profiles=[(4, 1), (4, 3), (8, 4), (16, 2)]),
        # skew strategies on a 90%-hot-key join
        ("skew_join", lambda: {"skew_join_sec": _skew_join_sec(spark)}),
        one("scale10", "bench_scale", "run_scale", sf_dir, factor=10),
        *(
            one(f"scale10_{r}", "bench_scale_r10", "run_scaled_keys",
                sf_dir, r, factor=10)
            for r in ("r10", "r11", "r12", "r13")
        ),
        # streaming Singer ingest throughput from the engine's own
        # progress events
        ("stream_ingest", lambda: _stream_ingest(spark)),
    ]
    extras: dict = {}
    for name, run in rows:
        try:
            got = run()
            extras.update(got)
            print(f"# {name}: {got}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            extras[f"{name}_error"] = str(e)[:120]
            print(f"# {name} FAILED: {e}", file=sys.stderr)
    return extras


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.registry import get_queries
    from target_s3_parquet_spark.session import get_spark

    # Host-health bracket (r12 VERDICT item 2): one probe reading
    # before and one after the bench, recorded in extras, so a PERF
    # comparison can separate host-interference windows from plan
    # changes mechanically. Extras-only; the headline line is last.
    probe_open = None
    try:
        from tools.probe_host import probe

        probe_open = probe()
        print(f"# host_probe open: {probe_open}", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        print(f"# host_probe open failed: {e}", file=sys.stderr)

    spark = get_spark("bench")
    jvm_run0 = _jvm_mark(spark)
    queries = get_queries()

    # Warm up the JVM, parquet footer caches, and the codegen/shuffle
    # machinery (first groupBy+join in a session pays compilation that
    # has nothing to do with the measured query).
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    r.join(n, r.r_regionkey == n.n_regionkey).groupBy("r_name").count().collect()

    timings: dict[str, float] = {}
    floors: dict[str, float] = {}
    # Headline stays min-of-2 (the protocol every prior round's artifact
    # used, so round-over-round totals remain comparable); a third run
    # extends each key to the min-of-3 FLOOR recorded in extras (VERDICT
    # r9 item 3) — the ambience-free number that decides
    # regression-vs-noise without consuming a judge cycle.
    floor_runs = 3
    jvm_head0 = _jvm_mark(spark)
    for name in HEADLINE:
        fn = queries[name]
        runs, n = [], 0
        for _ in range(floor_runs):
            t0 = time.time()
            # count() forces the full plan; write-less action keeps the
            # number comparable across operators.
            n = fn(spark, sf_dir).count()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs[:2]), 3)
        floors[name] = round(min(runs), 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        spark.catalog.clearCache()  # keys that cache must not leak across keys
        release_rank_caches()  # drop two_phase_rank handles post-materialize
    jvm_head1 = _jvm_mark(spark)

    # Build the headline JSON now, but DO NOT print it to stdout yet:
    # the driver records only a 2000-character stdout TAIL and parses
    # the last line inside it (r6 verdict, judge-measured). The compact
    # headline (~774 chars) must therefore be the FINAL stdout line;
    # anything printed after it — including the 4 KB enriched line that
    # sank the r5 and r6 artifacts — scrolls it out of the tail window.
    # Safety copy to stderr immediately so a later crash can't lose the
    # number entirely.
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    headline_json = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(f"# headline: {json.dumps(headline_json)}", file=sys.stderr, flush=True)

    # Everything below is extras-only: failures here must never sink
    # the headline bench line.
    extras: dict = {}
    # The bench floor protocol (VERDICT r9 item 3): per-key min-of-3
    # next to the min-of-2 headline. `value` is the floor total —
    # BASELINE.md's regression criterion compares floors, not single
    # contended observations.
    extras["headline_floor"] = {
        "value": round(sum(floors.values()), 3),
        "queries": floors,
        "runs_per_key": floor_runs,
    }
    # Extended floor set (VERDICT r10 item 3): the 24-key headline is
    # frozen-since-r1 for comparability, so the catalog's heaviest
    # post-r1 keys — streaming replays, graph community loops, the
    # rank-sketch merge, Kendall tau, the txlog vacuum — are tracked
    # only as one-shot sweeps. HEADLINE2 records per-key min-of-3
    # FLOORS for a FIXED 10-key extended set, OUTSIDE the headline
    # total (BASELINE.md documents the regression criterion). Freeze
    # this list: comparability is the whole point.
    HEADLINE2 = [
        "stream_asof_join",
        "stream_windowed_distinct_count",
        "stream_histogram_quantile",
        "stream_kmv_distinct",
        "txlog_vacuum_retention",
        "agg_corr_kendall_tau",
        "graph_lpa_modularity",
        "graph_kcore_decomposition",
        "agg_rank_sketch_merge_check",
        "docs_dup_source_matrix",
    ]
    h2, replay_breakdown = measure(spark, sf_dir, queries, HEADLINE2, floor_runs)
    extras["headline2_floor"] = {
        "value": round(sum(v for v in h2.values() if v > 0), 3),
        "queries": h2,
        "runs_per_key": floor_runs,
    }
    # Per-round sweeps, timed OUTSIDE the headline total so the
    # headline stays comparable across rounds: (extras bucket, keys,
    # runs per key). Each round keeps its own bucket so earlier sweeps
    # stay comparable; rows sharing a bucket fill it in table order.
    # Steady state is min-of-2, except stream_asof_join in r8, swept
    # once: a replayed streaming key's cost is dominated by fixed
    # micro-batch scheduling.
    for bucket, keys, runs in [
        ("second_sweep_sec", [
            "ivf_kmeans_train",
            "docs_line_dedup",
            "text_ngram_novelty",
            "ts_rolling_wau",
            "emb_hamming_pack",
            "market_basket_pairs",
            "detect_outliers_mad",
        ], 2),
        ("r4_sweep_sec", [
            "docs_substring_dedup_spans",
            "er_blocked_fuzzy_join",
            "emb_pq_codebook_assign",
            "emb_pq_adc_search",
            "docs_gopher_rules",
            "text_char_stats",
            "search_inverted_index_build",
            "ts_ewma_halflife",
            "corpus_filter_funnel",
            "text_ml_minhash_pipeline",
        ], 2),
        ("r5_sweep_sec", [
            "docs_substring_dedup_apply",
            "sim_ann_ivfpq_search",
            "sim_ann_ivfpq_recall",
            "er_blocked_multipass",
            "er_multipass_recall_stats",
            "agg_cms_error_bound",
            "agg_approx_quantile_bound",
            "text_allpairs_prefix_join",
            "text_allpairs_filter_stats",
            "text_ppjoin_positional_stats",
            "agg_heavy_hitters_mg",
            "scan_parquet_footer_stats",
            "corpus_distribution_drift",
            "sim_hard_negative_mining",
            "sample_weighted_systematic",
            "ts_changepoint_cusum",
            "text_rake_keywords",
            "graph_link_prediction",
            "privacy_l_diversity_audit",
            "er_cluster_canonicalize",
            "emb_random_projection_jl",
            "text_langid_confusion",
            "corpus_gini_concentration",
            "ts_seasonal_profile",
            "emb_cosine_histogram",
            "docs_boilerplate_line_ratio",
            "corpus_ccnet_quality_buckets",
            "er_survivorship_golden_record",
            "sim_ann_ivfpq_rerank",
        ], 2),
        # the three _prod twins sit next to their exact global-window
        # references, so the prod-vs-exact delta at this SF is recorded
        ("r6_sweep_sec", [
            "window_ntile",
            "window_ntile_prod",
            "customer_rfm_segments",
            "customer_rfm_segments_prod",
            "pareto_revenue_share",
            "pareto_revenue_share_prod",
            "text_ppjoin_suffix_stats",
            "text_bpe_fertility_by_lang",
            "search_bm25_topk",
            "emb_gram_matrix_exact",
            "emb_gram_matrix_prod",
            "docs_quality_calibration",
            "docs_dup_source_matrix",
            "agg_weighted_median",
            "cdc_scd2_point_in_time_audit",
            "sim_ann_ivf_cell_stats",
            "emb_dim_stats",
        ], 2),
        ("r7_sweep_sec", [
            "emb_opq_permute_assign",
            "emb_opq_distortion_gain",
            "agg_kmv_distinct_union",
            "agg_bloom_fpp_measured",
            "ab_test_chi2_independence",
            "feature_split_gini",
            "agg_corr_spearman",
            "eval_auc_rank_sum",
            "agg_theta_sketch_intersect",
            "graph_shortest_path_bfs",
            "privacy_t_closeness_audit",
            "dq_benford_digit_audit",
            "ts_acf_lags",
            "sql_recursive_hierarchy_rollup",
            "agg_ks_test_two_sample",
            "agg_covariance_matrix",
            "text_collocation_lift_topk",
            "sample_balanced_class",
            "stream_kmv_distinct",
            "pii_pseudonymize_hmac",
            "sql_session_variables",
            "sql_scripting_control_flow",
            "txlog_vacuum_retention",
            "emb_text_pairing_audit",
            "ab_test_anova_f",
            "text_hapax_ratio_by_lang",
            "funnel_time_to_convert",
        ], 2),
        ("r8_sweep_sec", [
            "agg_corr_kendall_tau",
            "sample_reservoir_per_group",
            "agg_kruskal_wallis_h",
            "ts_cross_correlation_lags",
            "ts_trend_mann_kendall",
            "ts_trend_theil_sen",
        ], 2),
        ("r8_sweep_sec", ["stream_asof_join"], 1),
        # replayed streaming keys first (min-of-2, VERDICT r9 item 6: each
        # run replays the full micro-batch sequence), then the batch keys
        ("r9_sweep_sec", [
            "stream_reservoir_sample",
            "stream_windowed_distinct_count",
            "stream_topk_per_group",
            "stream_histogram_quantile",
            "agg_corr_concordance_stats",
            "agg_cramers_v_effect_size",
            "eval_average_precision",
            "agg_trimmed_winsorized_mean",
            "search_rrf_fusion",
            "ts_seasonal_decompose_ma",
            "dq_numeric_drift_chi2",
            "ab_test_mann_whitney_u",
            "eval_confusion_matrix_metrics",
            "vocab_simpson_diversity",
            "agg_hhi_concentration",
            "ts_forecast_eval_naive",
            "eval_ndcg_at_k",
            "ab_test_two_proportion_z",
            "eval_cohens_kappa",
            "eval_brier_score",
            "ts_runs_test_median",
            "ts_fano_burstiness",
            "privacy_sensitivity_audit",
            "eval_expected_calibration_error",
            "feature_scaling_params",
        ], 2),
        ("r10_sweep_sec", [
            "survival_kaplan_meier",
            "survival_median_landmarks",
            "agg_mergeable_rank_sketch",
            "agg_rank_sketch_merge_check",
            "graph_label_propagation",
            "graph_lpa_modularity",
            "graph_kcore_decomposition",
            "eval_lift_gains_decile",
            "eval_precision_recall_at_k",
            "dq_completeness_profile",
            "dq_referential_integrity_audit",
            "corpus_budget_apportionment",
            "sample_neyman_allocation",
            "ab_test_cuped_adjustment",
            "cohort_ltv_curves",
            "pareto_frontier_skyline",
            "events_path_trigrams",
            "dq_candidate_key_audit",
            "docs_dup_cluster_histogram",
            "ts_ljung_box_q",
        ], 2),
        ("r11_sweep_sec", [
            "sim_bitext_margin_knn",
            "corpus_dsir_importance_weights",
            "graph_hits_scores",
            "dq_freshness_audit",
            "agg_moments_merge_check",
            "eval_mrr_at_k",
            "eval_bootstrap_ci_hash",
            "eval_bradley_terry_strength",
            "vocab_heaps_curve",
            "ts_pacf_durbin_levinson",
            "emb_pca_power_iteration",
            "graph_link_prediction_ra",
            "sample_priority_wor",
            "corpus_dsir_resample_apply",
            "events_markov_attribution",
            "emb_pc1_removal_variance",
            "text_kneser_ney_bigram_top",
            "eval_rank_biased_overlap",
            "ts_sax_symbols",
            "search_phrase_proximity",
        ], 2),
        ("r12_sweep_sec", [
            "corpus_unimax_mixture",
            "agg_tdigest_quantiles",
            "agg_tdigest_merge_check",
            "text_simhash_hamming_prod",
            "vocab_good_turing_counts",
            "eval_conformal_interval",
            "emb_pca_top2_deflation",
            "er_fellegi_sunter_weights",
            "docs_cdc_chunk_dedup",
            "ts_matrix_profile_lite",
            "eval_brier_murphy_decomposition",
            "eval_isotonic_calibration",
            "vocab_chao1_richness",
            "ab_test_permutation_hash",
            "graph_personalized_pagerank",
            "agg_count_sketch_estimate",
            "docs_minhash_containment",
            "graph_closeness_centrality",
            "eval_auc_hanley_ci",
            "eval_mcnemar_paired",
            "eval_fleiss_kappa",
            "ab_test_cochran_armitage_trend",
            "ab_test_sequential_sprt",
            "agg_hodges_lehmann_location",
            "graph_betweenness_centrality",
            "ts_dtw_alignment_distance",
            "join_yannakakis_program",
            "text_burrows_delta",
        ], 2),
    ]:
        got, breakdown = measure(spark, sf_dir, queries, keys, runs)
        extras.setdefault(bucket, {}).update(got)
        # a headline2 key keeps the breakdown of its min-of-3 floor
        replay_breakdown = {**breakdown, **replay_breakdown}
    if replay_breakdown:
        extras["stream_replay_breakdown"] = replay_breakdown
        print(f"# stream_replay_breakdown: {replay_breakdown}", file=sys.stderr)
    extras.update(run_tools(spark, sf_dir))
    try:
        extras["jvm_compile"] = jvm_compile_entry(
            jvm_run0, jvm_head0, jvm_head1, _jvm_mark(spark)
        )
        print(f"# jvm_compile: {extras['jvm_compile']}", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        extras["jvm_compile_error"] = str(e)[:120]
        print(f"# jvm_compile FAILED: {e}", file=sys.stderr)

    # Stop the JVM BEFORE the final print: any shutdown noise (py4j,
    # log4j flushes) lands above the last line instead of after it.
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001
        print(f"# spark.stop: {e}", file=sys.stderr)

    # Closing half of the host-health bracket (after spark.stop so the
    # probe measures the host, not leftover executor threads).
    try:
        from tools.probe_host import probe

        probe_close = probe()
        extras["host_probe"] = {"open": probe_open, "close": probe_close}
        print(f"# host_probe close: {probe_close}", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        extras["host_probe"] = {"open": probe_open, "close": None}
        print(f"# host_probe close failed: {e}", file=sys.stderr)

    # Enriched record (headline + all extras, ~4 KB) goes to a FILE and
    # stderr — never stdout, where it would push the parseable headline
    # out of the driver's 2000-char stdout tail (lost BENCH_r05/r06).
    enriched = json.dumps({**headline_json, **extras})
    try:
        with open(os.path.join(REPO, "BENCH_EXTRAS.json"), "w") as f:
            f.write(enriched + "\n")
    except Exception as e:  # noqa: BLE001
        print(f"# BENCH_EXTRAS.json write failed: {e}", file=sys.stderr)
    print(f"# enriched: {enriched}", file=sys.stderr, flush=True)

    # The compact headline is the ONE AND ONLY stdout line, printed
    # last, after spark.stop(). Self-check: it must fit well inside the
    # driver's 2000-char tail window with headroom for trailing noise.
    final_line = json.dumps(headline_json)
    if len(final_line) >= 1900:
        # Never lose the round's stdout artifact: emit a truncated but
        # still-parseable headline (drop the queries map), THEN fail so
        # the oversize is visible and gets fixed.
        fallback = json.dumps(
            {k: v for k, v in headline_json.items() if k != "queries"}
        )
        print(fallback, flush=True)
        raise AssertionError(
            f"headline line {len(final_line)} chars — would overflow "
            "the driver's 2000-char stdout tail; emitted a truncated "
            "headline without the queries map; trim the queries map"
        )
    print(final_line, flush=True)


if __name__ == "__main__":
    main()
