"""Physical-plan regression tests: the scale guarantees the operator
docstrings promise (broadcasts, pushdown, pruning, zero-exchange
bucketed joins) asserted against `explain("formatted")` output, so a
refactor that silently degrades a plan fails CI — not just a bench."""

import io
from contextlib import redirect_stdout

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _q(key, spark):
    from target_s3_parquet_spark.registry import get_queries

    return get_queries()[key](spark, SF_SMALL)


def test_tpch_q3_broadcasts_dims_and_pushes_filters(spark):
    plan = _plan(_q("tpch_q3_shipping_priority", spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side must never shuffle-join
    # the selective filters reach the parquet readers
    assert "GreaterThan(l_shipdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_tpch_q6_prunes_columns_and_pushes_all_predicates(spark):
    plan = _plan(_q("tpch_q6_forecast_revenue", spark))
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"missing pushed filter {pushed}"
    # column pruning: untouched columns never leave the reader
    assert "l_tax" not in plan
    assert "l_returnflag" not in plan


def test_bucketed_join_has_zero_exchanges(spark):
    plan = _plan(_q("join_bucketed_colocated", spark))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # the whole point of bucketing
    assert plan.count("Bucketed: true") == 2


def test_join_broadcast_never_sort_merges(spark):
    plan = _plan(_q("join_broadcast", spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_projection_prunes_schema(spark):
    plan = _plan(_q("project_filter", spark))
    assert "ReadSchema" in plan
    # a 2-col projection must not read the wide fact row
    assert "l_extendedprice" not in plan or "project_filter" not in plan


def test_banded_range_join_is_equi_not_bnl(spark):
    plan = _plan(_q("join_range_banded", spark))
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_exchange(spark):
    # union-window as-of: one shuffle on user_id, no range-join product
    plan = _plan(_q("join_asof", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partition_pruned_scan_filters_directories(spark):
    plan = _plan(_q("scan_partition_pruned", spark))
    assert "PartitionFilters" in plan
    assert "event_type IN (purchase,signup)" in plan.replace("  ", " ") or (
        "in(event_type" in plan
    ) or ("event_type" in plan.split("PartitionFilters", 1)[1][:200])


def test_dpp_join_prunes_fact_partitions(spark):
    # the filter lives on the dim side; the partitioned fact scan must
    # still receive a dynamic pruning subquery in its PartitionFilters
    plan = _plan(_q("join_dpp_pruned", spark))
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan


def test_interval_overlap_is_equi_not_product(spark):
    plan = _plan(_q("join_interval_overlap", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_broadcasts_queries_and_limits_before_shuffle(spark):
    """sim_knn_cosine's scale contract: the bounded QUERY side broadcasts
    (corpus never shuffles for the join), the query-scan filter is pushed
    to parquet, and the top-k is taken PARTIALLY per input partition
    (WindowGroupLimit Partial) so only ≤k rows per query per partition
    survive into the single rank shuffle."""
    plan = _plan(_q("sim_knn_cosine", spark))
    assert "BroadcastNestedLoopJoin" in plan and "BuildLeft" in plan
    assert "LessThan(vec_id,8)" in plan  # query-side filter reaches scan
    # partial + final group-limit straddle the one Exchange (formatted
    # explain prints each node in the tree AND the detail section)
    assert plan.count("WindowGroupLimit") == 4
    assert "row_number(), 5, Partial" in plan
    assert "row_number(), 5, Final" in plan
    assert plan.count("hashpartitioning(") == 1  # the single rank shuffle
    assert "SortMergeJoin" not in plan


def test_registry_oracle_coverage():
    # EVERY key has an oracle (the last rows-only exception,
    # text_ml_minhash_pipeline, was upgraded in r4 by verifying the ML
    # route's bounded output against an exact-Jaccard oracle) — a new
    # key silently missing its oracle (or a regression dropping one)
    # fails here, not in the driver.
    from target_s3_parquet_spark.registry import get_oracles, get_queries

    qs, os_ = set(get_queries()), set(get_oracles())
    assert os_ <= qs
    rows_only = qs - os_
    assert rows_only == set(), (
        f"unexpected rows-only keys: {sorted(rows_only)}"
    )


def test_full_catalog_plan_flags_in_sync(spark):
    """Full-catalog plan regression (ROADMAP #8): every registered
    key's plan-shape flag line must match the committed PLANS.md — a
    refactor that adds a shuffle, drops a pushdown, or silently falls
    back to a nested-loop join fails here, key by key.

    Streaming keys are excluded (building their DataFrame runs the
    micro-batch to completion — ~70s of wall-clock for plan lines that
    only describe the materialized batch); their catalog lines are
    still regenerated by tools/gen_plan_catalog.py.
    """
    import os

    from target_s3_parquet_spark.plans.planflags import flags_for, plan_of
    from target_s3_parquet_spark.registry import get_queries

    plans_md = open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md")).read()
    catalog = {}
    for line in plans_md.split("```")[1].strip().splitlines():
        key, _, flags = line.partition(": ")
        catalog[key] = flags

    queries = get_queries()
    # the catalog must cover exactly the registry — no stale, no missing
    assert set(catalog) == set(queries), (
        f"PLANS.md out of sync with registry: "
        f"missing={sorted(set(queries) - set(catalog))} "
        f"stale={sorted(set(catalog) - set(queries))} "
        f"(regenerate with tools/gen_plan_catalog.py)"
    )

    mismatches = []
    for key in sorted(queries):
        if key.startswith("stream_"):
            continue
        # mirror gen_plan_catalog: flags must not depend on which
        # earlier tests happened to materialize a .cache()
        spark.catalog.clearCache()
        got = flags_for(plan_of(queries[key](spark, SF_SMALL)))
        if got != catalog[key]:
            mismatches.append(f"{key}: catalog [{catalog[key]}] != live [{got}]")
    assert not mismatches, (
        "plan drift (regenerate PLANS.md if intentional):\n" + "\n".join(mismatches)
    )


def test_correlated_scalar_subquery_single_shuffle(spark):
    # decorrelated self-join: the per-partkey aggregate is the ONLY
    # shuffle; the probe side joins it broadcast (AQE) or reuses the
    # exchange — either way the fact table is never shuffled twice
    import re

    plan = _plan(_q("subquery_scalar_correlated", spark))
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert shuffles <= 1, plan
    assert "BroadcastHashJoin" in plan or "ReusedExchange" in plan


# Keys where BroadcastNestedLoopJoin is LEGITIMATE: the broadcast side
# is bounded by construction (a literal array, a 1-row/K-row aggregate
# subtree — quantile fences, corpus counts, codebooks, top-1 merge
# winners), never a scaled table. Anything else sprouting a bnlj is a
# plan regression.
_BNLJ_BOUNDED_OK = {
    "ab_test_ttest", "corpus_temperature_weights", "data_skew_diagnostics",
    "agg_approx_quantile_bound",  # 4-row broadcast (q, value) rank probe
    "emb_centroid_assign_drift", "emb_hamming_pack", "emb_norm_outliers",
    "emb_quantize_int8", "fuzzy_match_levenshtein",
    "graph_connected_components", "graph_triangle_count",
    "graph_link_prediction",  # _strong_pairs' 1-row mean-weight bcast
    "ivf_kmeans_train", "join_cross_bounded", "join_dynamic_range_prune",
    "market_basket_pairs", "pareto_revenue_share", "sim_ann_ivf",
    "sim_ann_ivf_trained", "sim_ann_ivfpq_recall", "sim_ann_ivfpq_search",
    "sim_ann_ivfpq_rerank",  # same index bcasts + exact ground-truth scan
    "sim_ann_recall_eval",
    "sim_knn_cosine",  # ivfpq_search: assign/probe cross vs 16 broadcast
    #                    centroids (sim_ann_ivf's shape); ivfpq_recall
    #                    adds the 4-broadcast-query exact scan (sim_knn's)
    "sim_pairs_threshold", "sim_semdedup",
    "text_allpairs_filter_stats",  # crossJoin of three 1-row count aggs
    "text_ppjoin_positional_stats",  # same three-1-row-agg crossJoin
    "agg_heavy_hitters_mg",  # exact-verify counts x 1-row total-n agg
    "corpus_distribution_drift",  # vocab rows x 1-row (na, nb) totals agg
    "sim_hard_negative_mining",  # label-inequality join vs 12-query bcast
    "sample_weighted_systematic",  # cum rows x 1-row stride agg
    # the three _prod twins: ranked rows x 1-row total-count/total-sum
    # agg (the ntile_from_rank / cum_share denominators)
    "window_ntile_prod", "customer_rfm_segments_prod",
    "pareto_revenue_share_prod",
    "search_bm25_topk",  # scored rows x 1-row corpus-stats agg
    # r7 sketch/stat keys: crossJoins of 1-row or j<=4-row broadcast
    # aggregates only (salt list, totals, marginal counts, chi2 sum)
    "agg_kmv_distinct_union", "agg_bloom_fpp_measured",
    "ab_test_chi2_independence", "feature_split_gini",
    "eval_auc_rank_sum",  # 1-row U-stat agg x 1-row totals agg
    "agg_theta_sketch_intersect",  # k-row sketch aggs crossJoined
    "agg_corr_spearman",  # two_phase_rank offsets + 1-row moments agg
    "graph_shortest_path_bfs",  # _strong_pairs' 1-row mean-weight bcast
    "privacy_t_closeness_audit",  # classes x |buckets|-row grid + 1-row nbm
    "dq_benford_digit_audit",  # 9-row literal table x 1-row total agg
    "ts_acf_lags",  # |days|-row series x 4-row lag list
    "agg_ks_test_two_sample",  # CDF rows x 1-row totals agg
    "sample_balanced_class",  # ranked rows x 1-row min-class-count agg
    "text_collocation_lift_topk",  # scored pairs x 1-row bigram-total agg
    "emb_text_pairing_audit",  # grid cells x 1-row paired-totals agg
    "ab_test_anova_f",  # 7-slot pivot row x 1-row global sum-sq agg
    "agg_corr_kendall_tau",  # five 1-row aggregates (C_cross, C_within,
    # EW, n, tie terms) fold into the final statistic row
    "agg_corr_concordance_stats",  # same _concordance_counts base:
    # the identical five 1-row aggregate folds, different final algebra
    "agg_kruskal_wallis_h",  # k-row group table x 1-row n/tie aggregates
    "ts_cross_correlation_lags",  # 3-row lag literals x per-day series
    # (same bounded shape as ts_acf_lags)
    "ts_trend_mann_kendall",  # calendar-bounded series sign self-join
    # (non-equi d>d' against the broadcast per-day series) x 1-row aggs
    "ts_trend_theil_sen",  # same bounded pair relation x 1-row count
    "funnel_time_to_convert",  # per-stage ranked gaps x 1-row count agg
    "docs_quality_calibration",  # ranked rows x 1-row count agg
    "sim_ann_ivf_cell_stats",  # 16 cells x 1-row corpus-total agg
    "emb_random_projection_jl",  # 48-vector sample pair join, bcast side
    "emb_cosine_histogram",  # same 48-vector sample pair join
    "corpus_ccnet_quality_buckets",  # ranked rows x 1-row count agg
    "text_bpe_apply",
    "text_bpe_merge_loop", "text_bpe_merge_step", "text_ngram_jaccard_dup",
    "text_tokenize_tfidf", "tpch_q11_important_stock",
    "tpch_q22_sales_opportunity", "ts_rolling_wau",
    # r9 breadth keys: every bnlj side is a 1-row totals agg or a
    # bounded-by-construction list (125-cell grid, 13-bin table,
    # <=100-row arm lists, calendar-bounded daily series band join)
    "agg_cramers_v_effect_size",  # 5x25 grid x 1-row n/r/c + chi2 aggs
    "eval_average_precision",  # per-score rows x 1-row totals/nthr aggs
    "dq_numeric_drift_chi2",  # 13-bin grid x 1-row (na, nb) totals agg
    "search_rrf_fusion",  # 1-row corpus-stats + 1-vector query bcasts
    "ab_test_mann_whitney_u",  # 1-row U/totals/tie aggs crossJoined
    # (the eval_auc_rank_sum shape with the tie-variance channel)
    "eval_ndcg_at_k",  # 1-row DCG frame x 1-row IDCG frame crossJoin
    "eval_expected_calibration_error",  # 10-bin table x 1-row n agg
    "ts_seasonal_decompose_ma",  # calendar-bounded daily series band
    # self-join (same bounded shape as ts_trend_mann_kendall)
    "ts_runs_test_median",  # calendar-bounded series: 1-row median /
    # n / runs aggregates crossJoined (two_phase_rank offsets included)
    "ts_fano_burstiness",  # bounded (days x types) grid completion x
    # 1-row/deduped-day broadcast sides
    # r10 breadth keys
    "survival_kaplan_meier",  # 1-row max-date broadcast onto the
    # customer duration table; the curve fold is inside one array row
    "survival_median_landmarks",  # same curve + its 1-row landmark /
    # median / totals aggregates crossJoined
    "graph_kcore_decomposition",  # _strong_pairs' 1-row mean-weight bcast
    "ab_test_cuped_adjustment",  # 1-row pooled-moments (theta) agg
    # crossJoined onto the 2-row group table
    "agg_mergeable_rank_sketch",  # 5-row quantile-target probe and
    # 5-row estimate verify broadcasts (the approx_quantile_bound shape)
    "graph_label_propagation",  # _strong_pairs' 1-row mean-weight bcast
    "graph_lpa_modularity",  # same 1-row mean-weight bcast (x3: the
    # LPA loop, degree table, and modularity arithmetic each rebuild it)
    "eval_lift_gains_decile",  # two_phase_rank offsets + 1-row totals
    "eval_precision_recall_at_k",  # 4-row cutoff broadcast (r <= k)
    # + two_phase_rank offsets + 1-row totals agg
    "corpus_budget_apportionment",  # 1-row corpus-total / leftover
    # broadcasts onto the bounded language table
    "sample_neyman_allocation",  # same 1-row total/leftover broadcasts
    # onto the bounded 25-row stratum table
    "agg_rank_sketch_merge_check",  # 5-row quantile probe / estimate
    # verify broadcasts (the agg_mergeable_rank_sketch shape, merged)
    "docs_dup_cluster_histogram",  # bounded histogram x 1-row total agg
    "ts_ljung_box_q",  # 4-row lag-literal crossJoin onto the
    # calendar-bounded daily series + 1-row moments aggs (ts_acf_lags'
    # bounded shape plus the Q fold)
    # r11 breadth keys
    "sim_bitext_margin_knn",  # 24-row query-batch broadcast x corpus
    # (the sim_knn_cosine shape with the margin windows on top)
    "corpus_dsir_importance_weights",  # 1-row gram-totals agg onto the
    # 256-row bucket table + 1-row weight-total agg onto the doc table
    "eval_bootstrap_ci_hash",  # 40-row replicate-id broadcast exploded
    # onto the fact (row-local weights) + 1-row totals
    "eval_mrr_at_k",  # 4-row cutoff broadcast (fr <= k) + 1-row
    # query-count agg (the eval_precision_recall_at_k shape)
    "ts_pacf_durbin_levinson",  # 3-row lag-literal crossJoin onto the
    # calendar-bounded daily series + 1-row moment/recursion folds
    # (the ts_acf_lags / ts_ljung_box_q bounded shape)
    "vocab_heaps_curve",  # 5-row checkpoint broadcast over the
    # first-occurrence table + two_phase_rank offsets + 1-row total
    "graph_link_prediction_ra",  # _strong_pairs' 1-row mean-weight
    # bcast (the graph_link_prediction shape + wedge-center degree)
    "sample_priority_wor",  # two_phase_rank offsets + 1-row tau bcast
    "corpus_dsir_resample_apply",  # DSIR's bounded bcasts +
    # two_phase_rank offsets + 1-row tau bcast
    "text_kneser_ney_bigram_top",  # 1-row bigram-type-total agg onto
    # the vocabulary-sized model join
    "eval_rank_biased_overlap",  # 50-row depth broadcast over the
    # bounded max(rank)<=50 table + two_phase_rank offsets
    "ts_sax_symbols",  # 1-row exact-moments agg broadcast onto the
    # calendar-bounded daily series (the Ljung-Box shape)
    # r12 breadth keys
    "corpus_unimax_mixture",  # 1-row total/threshold/share broadcasts
    # onto the bounded language table (corpus_budget_apportionment's
    # shape with the water-filling cap threshold)
    "agg_tdigest_quantiles",  # 1-row corpus-count bcast onto the rank
    # table + 7-row quantile probe / estimate verify broadcasts (the
    # agg_mergeable_rank_sketch shape on the closed-form digest)
    "agg_tdigest_merge_check",  # same 7-row probe/verify broadcasts
    # + 1-row count/wmax/conservation aggs onto <=40-row digest tables
    "text_simhash_hamming_prod",  # 1-row candidate-funnel count
    # crossJoined onto the verified pair output
    "vocab_good_turing_counts",  # 1-row token-total broadcast onto
    # the bounded frequency-of-frequencies table
    "ts_matrix_profile_lite",  # calendar-bounded all-pairs z-window
    # join (the matrix-profile definition; bounded by the calendar,
    # not the corpus) + 1-row global-min broadcast
    "eval_brier_murphy_decomposition",  # 1-row totals broadcast onto
    # the 10-bin calibration table
    "eval_isotonic_calibration",  # bounded 10-bin self-joins (the
    # O(B^3) minimax) + 1-row violation-count broadcast
    "ab_test_permutation_hash",  # 1-row observed-stat / extreme-count
    # broadcasts onto the 40-row permutation table
    "graph_personalized_pagerank",  # 1-row seed-count broadcast onto
    # the bounded node table (the graph_pagerank loop, personalized)
    "agg_count_sketch_estimate",  # 1-row F2 broadcast onto the 24-row
    # probe table (+ the bounded 5x256 cell-table broadcast join)
    "graph_closeness_centrality",  # _strong_pairs' 1-row mean-weight
    # bcast + bounded per-level frontier joins of the all-sources BFS
    "eval_auc_hanley_ci",  # the base AUC key's two_phase_rank offsets
    # + 1-row totals broadcasts (projection on a 1-row result)
    "join_yannakakis_program",  # the output row is 9 crossJoined
    # 1-row stage-count/revenue aggregates (each side is a broadcast
    # single row; the semijoin program itself is all bhj/leftsemi)
    "text_burrows_delta",  # the 20-source registry crossJoined with
    # the broadcast top-20 token list (bounded 400-cell matrix); the
    # data-sized tokenize pass is a cached map-combine
}


# Keys where an unpartitioned ORDER BY window is LEGITIMATE — i.e. the
# key IS the exact single-sort reference form kept as the oracle twin
# of a registered scale-safe variant, or the window input is bounded by
# declared contract. (The two_phase_rank offsets windows do NOT
# appear here: they partition on pmod(pid, 1) — one bounded group over
# <= nparts rows — precisely so this flag marks only data-sized
# single-task sorts.) Anything else sprouting a global window is a
# scale regression.
_GLOBAL_WINDOW_OK = {
    # exact references of registered _prod twins (LSH demo/prod
    # precedent):
    "customer_rfm_segments", "pareto_revenue_share", "window_ntile",
    # bounded by declared contract: both rank windows order a
    # LIMIT-100 arm list (TakeOrderedAndProject output), never data
    "search_rrf_fusion",
    # same contract at k=10: both rank windows order a LIMIT-10 arm
    "eval_ndcg_at_k",
    # (data_skew_diagnostics and text_bpe_merge_step left this list in
    # r6: their top-K row_number windows were rewritten as
    # orderBy+limit = TakeOrderedAndProject)
}


def test_catalog_antipattern_lint():
    """Global plan invariants over the committed catalog (PLANS.md is
    itself pinned to reality by test_full_catalog_plan_flags_in_sync):
    the row-at-a-time Python boundary exists ONLY in the key that
    demonstrates it, and nested-loop joins only against
    bounded-by-construction broadcast sides."""
    import os

    plans_md = open(
        os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    ).read()
    for line in plans_md.split("```")[1].strip().splitlines():
        key, _, flags = line.partition(": ")
        fset = {f.strip() for f in flags.split(",")}
        if "row-python" in fset:
            # udf_python demonstrates the slow path deliberately;
            # Python UDTFs (@udtf) are row-oriented by API contract
            assert key in {"udf_python", "udtf_python_class"}, (
                f"{key}: row-at-a-time Python outside the demo keys"
            )
        if "bnlj" in fset:
            assert key in _BNLJ_BOUNDED_OK, (
                f"{key}: BroadcastNestedLoopJoin against an unvetted "
                f"side — bound it or whitelist it with a reason"
            )
        if "global-window" in fset:
            assert key in _GLOBAL_WINDOW_OK, (
                f"{key}: unpartitioned ORDER BY window (single-task "
                f"sort of its whole input) — use two_phase_rank / "
                f"ntile_from_rank (operators/_util.py) or whitelist "
                f"it with a reason"
            )
        assert "ERROR" not in flags, f"{key}: catalog line records an error"


def test_no_raw_collect_snapshot_sites():
    """Every result that must outlive its temp-dir backing goes through
    the guarded helpers in `_snapshot.py` (row-capped driver round-trip
    or executor-side persisted copy) — a raw
    ``createDataFrame(x.collect(), ...)`` hides an unbounded driver
    materialization and is rejected outside the helper module, and so
    is a ``.localCheckpoint()`` under `streaming/` or `sources/`, which
    holds the result in executor memory with no row cap."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "target_s3_parquet_spark")
    pat = re.compile(r"createDataFrame\(\s*\w+\.collect\(\)")
    checkpoint = re.compile(r"\.localCheckpoint\(")
    offenders = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py") or fn == "_snapshot.py":
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            if pat.search(src) or (
                rel.split(os.sep)[0] in ("streaming", "sources")
                and checkpoint.search(src)
            ):
                offenders.append(rel)
    assert not offenders, (
        f"raw collect-snapshot outside _snapshot.py: {offenders}"
    )


def test_stream_drains_only_in_replay_path():
    """Every scratch-dir streaming key chunks, drains and folds through
    `streaming/replay.py`; only it and the Singer streaming job
    (`streaming/singer_stream.py`, which paces its own log files) may
    call ``processAllAvailable(`` or set ``maxFilesPerTrigger`` — a
    key that does either has grown its own copy of the replay
    scaffold, without the mtime ladder or the replay timings."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "target_s3_parquet_spark")
    allowed = {
        os.path.join("streaming", "replay.py"),
        os.path.join("streaming", "singer_stream.py"),
    }
    pat = re.compile(r"processAllAvailable\(|\.option\(\s*\"maxFilesPerTrigger\"")
    offenders = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            if fn.endswith(".py") and rel not in allowed:
                if pat.search(open(path).read()):
                    offenders.append(rel)
    assert not offenders, f"stream drain outside streaming/replay.py: {offenders}"


def test_one_prefix_scan_and_one_cache_registry():
    """The range-shuffle + broadcast-offsets prefix scan lives in
    `two_phase_rank` and the cache registry in `operators/_util.py`.
    ``_RANK_CACHES`` is named nowhere else in the package (callers
    cache through ``register_cache``), and ``spark_partition_id()`` —
    the offsets scan's partition tag — is called only in
    `two_phase_rank` and in `pareto_frontier_skyline`, whose strict
    prefix MAX is a different combine. A new copy of the scan belongs
    in `two_phase_rank`."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "target_s3_parquet_spark")
    util = os.path.join("operators", "_util.py")
    allowed_scans = {
        (util, "two_phase_rank"),
        (os.path.join("operators", "pipeline.py"), "pareto_frontier_skyline"),
    }
    registry, scans = [], set()
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            if "_RANK_CACHES" in src and rel != util:
                registry.append(rel)
            for top in ast.parse(src).body:
                for node in ast.walk(top):
                    if isinstance(node, ast.Call) and "spark_partition_id" in (
                        getattr(node.func, "attr", None),
                        getattr(node.func, "id", None),
                    ):
                        scans.add((rel, getattr(top, "name", "<module>")))
    assert not registry, f"_RANK_CACHES outside {util}: {registry}"
    assert scans <= allowed_scans, (
        f"spark_partition_id() offsets scan outside two_phase_rank: "
        f"{sorted(scans - allowed_scans)}"
    )
