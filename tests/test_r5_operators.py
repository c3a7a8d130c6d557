"""Round-5 operator invariants: substring-span removal accounting,
multi-pass ER coverage nesting, IVF-PQ plan shape + non-degenerate
recall, and trained-PQ codebook population."""

import os

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_substring_apply_word_accounting(spark):
    """cleaned word count + removed count == original word count for
    EVERY document, and each maximal removed span covers >= W words
    (overlap merge can only grow spans, never shrink below the window
    width)."""
    from target_s3_parquet_spark.operators._util import t
    from target_s3_parquet_spark.operators.dedup import (
        _SPAN_W,
        docs_substring_dedup_apply,
    )

    out = docs_substring_dedup_apply(spark, SF)
    orig = t(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_orig")
    )
    n_clean = F.when(F.col("cleaned_text") == "", 0).otherwise(
        F.size(F.split("cleaned_text", " "))
    )
    joined = out.join(orig, "doc_id").select(
        "doc_id",
        "n_spans_removed",
        "n_words_removed",
        n_clean.alias("n_clean"),
        "n_orig",
    )
    bad = joined.filter(
        (F.col("n_clean") + F.col("n_words_removed") != F.col("n_orig"))
        | (F.col("n_words_removed") < _SPAN_W * F.col("n_spans_removed"))
        | (
            (F.col("n_spans_removed") == 0)
            != (F.col("n_words_removed") == 0)
        )
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # the fixture genuinely contains cross-document duplication
    assert out.filter(F.col("n_spans_removed") > 0).count() > 0


def test_substring_apply_removes_only_from_non_owners(spark):
    """Keep-first policy: a doc loses text IFF it participates in some
    duplicated window whose owner (min doc_id) is a LOWER doc — docs
    that only ever OWN their duplicated windows pass through
    unchanged."""
    from target_s3_parquet_spark.operators._util import t
    from target_s3_parquet_spark.operators.dedup import (
        _SPAN_W,
        docs_substring_dedup_apply,
        docs_substring_dedup_spans,
    )

    out = docs_substring_dedup_apply(spark, SF)
    changed = {
        r.doc_id
        for r in out.filter(F.col("n_words_removed") > 0).collect()
    }
    # independent recomputation of the non-owner participant set
    spans = docs_substring_dedup_spans(spark, SF)
    d = t(spark, SF, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    win = (
        d.filter(F.size("w") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (_SPAN_W - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("w"), i, _SPAN_W), " ")
                    ),
                )
            ).alias("win_hash"),
        )
        .distinct()
    )
    non_owner = {
        r.doc_id
        for r in win.join(spans.select("win_hash", "first_doc_id"), "win_hash")
        .filter(F.col("doc_id") > F.col("first_doc_id"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert changed == non_owner


def test_er_multipass_pass1_nested_in_pass2(spark):
    """Structural invariant: pass-1 blocks refine pass-2 bands (a
    same-length pair always collides in its own band), so no pair can
    be pass-1-only; and the fixture contains pass-2-only
    insertion/deletion matches (the reason the second pass exists)."""
    from target_s3_parquet_spark.functions.text_analysis import (
        er_multipass_recall_stats,
    )

    row = er_multipass_recall_stats(spark, SF).collect()[0]
    assert row.n_pass1_only == 0
    assert row.n_pass2_only > 0
    assert row.n_pairs == row.n_pass2  # nesting: pass2 covers all


def test_ivfpq_plan_uses_agg_argmin_not_window(spark):
    """The encode/assign argmins must be hash aggregates (map-side
    combine), never windows: every Window node left in the plan
    partitions by query_id alone (probe top-nprobe, final top-k —
    both bounded by the 4-query set), and the min_by aggregates are
    present. A Window partitioned by vec_id[/sub] would mean the
    corpus × K candidate stream is being shuffled again."""
    from target_s3_parquet_spark.operators.similarity import (
        sim_ann_ivfpq_search,
    )

    plan = (
        sim_ann_ivfpq_search(spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    n_windows = plan.count("Window [row_number() windowspecdefinition(")
    n_query_windows = plan.count(
        "Window [row_number() windowspecdefinition(query_id"
    )
    assert n_windows == n_query_windows, plan
    assert plan.count("min_by(") >= 2  # coarse assign + encode


def test_ivfpq_recall_nondegenerate(spark):
    """Recall@5 rows: one per query, values in [0,1], and the index
    finds at least SOME true neighbors (the r5 parameter sweep exists
    because the first cut was recall 0 across the board)."""
    from target_s3_parquet_spark.operators.similarity import (
        _IPQ_NQ,
        sim_ann_ivfpq_recall,
    )

    rows = sim_ann_ivfpq_recall(spark, SF).collect()
    assert len(rows) == _IPQ_NQ
    for r in rows:
        assert 0.0 <= r["recall_at_5"] <= 1.0
        assert r.n_hits == round(r["recall_at_5"] * 5)
    assert sum(r.n_hits for r in rows) >= 1


def test_snapshot_helpers_route_by_size(spark):
    """snapshot_small enforces its cap; snapshot() routes: within the
    cap it returns a driver-materialized frame, beyond it a lazy scan
    of a persisted copy — same rows either way (the sf0.1 full gate
    caught three 150k-row keys tripping the strict cap in r5)."""
    import pytest

    from target_s3_parquet_spark._snapshot import (
        snapshot,
        snapshot_persisted,
        snapshot_small,
    )

    df = spark.range(10).withColumnRenamed("id", "n")
    small = snapshot_small(df, max_rows=10)
    assert sorted(r.n for r in small.collect()) == list(range(10))
    with pytest.raises(ValueError, match="data-proportional"):
        snapshot_small(df, max_rows=9)

    routed_small = snapshot(df, max_driver_rows=10)
    routed_big = snapshot(df, max_driver_rows=3)
    persisted = snapshot_persisted(df, "unit")
    for out in (routed_small, routed_big, persisted):
        assert sorted(r.n for r in out.collect()) == list(range(10))
    # the over-cap route must be file-backed, not a LocalRelation
    assert "FileScan" in routed_big._jdf.queryExecution().executedPlan().toString()


def test_bpe_top1_raises_on_bigram_free_corpus(spark):
    """Degenerate BPE input (every document empty or single-token) must
    fail with a clear ValueError, not an IndexError from an empty
    collect (r4 advice)."""
    import pytest

    from target_s3_parquet_spark.functions.text_analysis import _bpe_top1

    df = spark.createDataFrame(
        [("word",), ("",), ("x",)], ["text"]
    )
    with pytest.raises(ValueError, match="no bigrams"):
        _bpe_top1(df)


def test_pq_train_codebook_population(spark):
    """Trained codebook: full M x K x DSUB grid present and every code
    keeps >= 1 member (its own seed vector is always nearest itself),
    so no empty-cell repair path is needed."""
    from target_s3_parquet_spark.operators.similarity import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        emb_pq_train_lloyd,
    )

    rows = emb_pq_train_lloyd(spark, SF).collect()
    assert len(rows) == _PQ_M * _PQ_K * _PQ_DSUB
    assert all(r.n_members >= 1 for r in rows)
    grid = {(r.subspace, r.code, r.dim_i) for r in rows}
    assert len(grid) == _PQ_M * _PQ_K * _PQ_DSUB


def test_cms_error_bound_flags(spark):
    """CMS contract holds at test SF: every probe key overcounts-or-
    equals (unconditional CMS property) AND lands inside the eps*N
    envelope (seeded sketch, deterministic), with real mass behind
    each probe."""
    from target_s3_parquet_spark.operators.aggregates import (
        _CMS_TEST_KEYS,
        agg_cms_error_bound,
    )

    rows = agg_cms_error_bound(spark, SF).collect()
    assert len(rows) == _CMS_TEST_KEYS
    assert all(r.overcount_ok and r.bound_ok for r in rows)
    assert all(r.exact_count > 0 for r in rows)


def test_approx_quantile_rank_interval(spark):
    """GK contract holds at test SF for every probe quantile, and the
    exact percentiles are monotone nondecreasing in q (sanity that the
    posexplode->element_at q mapping did not scramble pairing)."""
    from target_s3_parquet_spark.operators.aggregates import (
        _AQ_QS,
        agg_approx_quantile_bound,
    )

    rows = sorted(agg_approx_quantile_bound(spark, SF).collect(),
                  key=lambda r: r.q)
    assert [r.q for r in rows] == sorted(_AQ_QS)
    assert all(r.rank_err_ok for r in rows)
    pctls = [r.exact_pctl for r in rows]
    assert pctls == sorted(pctls)


def test_allpairs_prefix_join_complete_vs_bruteforce(spark):
    """The AllPairs completeness claim, proven engine-internally: the
    prefix-filtered join must return EXACTLY the pairs a brute-force
    all-pairs Jaccard scan finds (the DuckDB oracle replays this same
    proof cross-engine; here it runs against Spark's own cross join so
    a pushdown/ordering regression can't hide behind oracle quirks)."""
    from target_s3_parquet_spark.operators.dedup import (
        _AP_T,
        text_allpairs_prefix_join,
    )
    from target_s3_parquet_spark.operators._util import t

    got = {
        (r.doc_a, r.doc_b)
        for r in text_allpairs_prefix_join(spark, SF).collect()
    }
    d = t(spark, SF, "documents")
    w = d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 3),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
        )
    )
    sets = w.filter(F.size("w") >= 3).select("doc_id", grams.alias("g"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter.cast("double") / (F.size("ga") + F.size("gb") - inter)
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= _AP_T)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == brute
    assert len(brute) > 0, "fixture has no near-dup pairs; test is vacuous"


def test_allpairs_filter_stats_funnel(spark):
    """Funnel sanity: candidates are a strict subset of the pair space,
    true pairs never exceed candidates (prefix filtering has no false
    negatives, so true <= cand always), and n_docs covers every doc
    with >= 1 gram."""
    from target_s3_parquet_spark.operators.dedup import (
        text_allpairs_filter_stats,
    )
    from target_s3_parquet_spark.operators._util import t

    row = text_allpairs_filter_stats(spark, SF).collect()[0]
    assert row.total_pairs == row.n_docs * (row.n_docs - 1) // 2
    assert 0 < row.cand_pairs < row.total_pairs
    assert 0 < row.true_pairs <= row.cand_pairs
    n_docs = (
        t(spark, SF, "documents")
        .filter(F.size(F.split(F.lower("text"), " ")) >= 3)
        .count()
    )
    assert row.n_docs == n_docs


def test_ppjoin_positional_bound_sound(spark):
    """The positional upper bound must dominate the TRUE overlap for
    every candidate pair (recomputed here from the raw gram sets), and
    the funnel must nest: true <= positional <= prefix candidates."""
    from target_s3_parquet_spark.operators.dedup import (
        _ap_ordered,
        text_ppjoin_positional_stats,
    )

    row = text_ppjoin_positional_stats(spark, SF).collect()[0]
    assert (
        0
        < row.positional_cand_pairs
        <= row.prefix_cand_pairs
    )
    assert 0 < row.true_pairs <= row.positional_cand_pairs
    # soundness of the bound on a sample: for every TRUE pair the
    # positional ubound must have admitted it, i.e. ubound >= alpha.
    ordered = {
        r.doc_id: r.grams for r in _ap_ordered(spark, SF).collect()
    }
    import itertools

    checked = 0
    for da, db in itertools.islice(
        (
            (a, b)
            for a, b in itertools.combinations(sorted(ordered), 2)
        ),
        0,
        None,
    ):
        ga, gb = ordered[da], ordered[db]
        inter = len(set(ga) & set(gb))
        uni = len(ga) + len(gb) - inter
        if inter / uni < 0.5:
            continue
        pa = len(ga) // 2 + 1
        pb = len(gb) // 2 + 1
        coll = [
            (i + 1, gb.index(g) + 1)
            for i, g in enumerate(ga[:pa])
            if g in set(gb[:pb])
        ]
        assert coll, f"true pair ({da},{db}) missed by prefix filter"
        n_coll = len(coll)
        ia = max(i for i, _ in coll)
        jb = max(j for _, j in coll)
        ub = n_coll + min(len(ga) - ia, len(gb) - jb)
        alpha = (len(ga) + len(gb) + 2) // 3
        assert ub >= alpha, (da, db, ub, alpha)
        checked += 1
    assert checked > 0


def test_mg_heavy_hitters_sketch_invariants(spark):
    """The MG pass must (a) bound each partition's candidate list by B,
    (b) emit a candidate UNION that covers every true heavy hitter for
    an adversarial repartitioning, and (c) leave the final answer
    partitioning-independent (it is the exact HH set)."""
    from target_s3_parquet_spark.operators import aggregates as A
    from target_s3_parquet_spark.operators._util import t

    B = A._MG_K
    keyed = t(spark, SF, "events").select(
        F.expr(
            f"{A._MG_D} div (conv(substring(md5(CAST(event_id AS STRING)),"
            f" 1, 7), 16, 10) % {A._MG_D} + 1)"
        ).alias("hh_key")
    ).repartition(7)

    import pandas as pd

    def tagged(batches):
        summary = pd.Series(dtype="int64")
        for pdf in batches:
            summary = summary.add(pdf["hh_key"].value_counts(), fill_value=0)
            if len(summary) > B:
                m = summary.nlargest(B + 1).iloc[-1]
                summary = summary - m
                summary = summary[summary > 0]
        yield pd.DataFrame({"hh_key": summary.index.astype("int64")})

    per_part = keyed.mapInPandas(tagged, "hh_key long")
    sizes = [
        r.c
        for r in per_part.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.count("*").alias("c")).collect()
    ]
    assert sizes and all(s <= B for s in sizes)

    exact = keyed.groupBy("hh_key").count()
    n = exact.agg(F.sum("count")).collect()[0][0]
    true_hh = {r.hh_key for r in exact.filter(F.col("count") * B > n).collect()}
    cands = {r.hh_key for r in per_part.distinct().collect()}
    assert true_hh and true_hh <= cands

    rows = sorted(
        (r.hh_key, r.cnt)
        for r in A.agg_heavy_hitters_mg(spark, SF).collect()
    )
    expect = sorted(
        (r.hh_key, r["count"])
        for r in exact.filter(F.col("count") * B > n).collect()
    )
    assert rows == expect


def test_footer_stats_match_data_scan(spark):
    """Footer-derived (num_rows, min, max) must equal the full-scan
    numbers table by table — the zone-map soundness invariant."""
    from target_s3_parquet_spark.sources.formats import (
        scan_parquet_footer_stats,
    )
    from target_s3_parquet_spark.operators._util import t

    got = {
        r.tbl: (r.num_rows, r.min_key, r.max_key)
        for r in scan_parquet_footer_stats(spark, SF).collect()
    }
    assert set(got) == {"events", "lineitem", "orders"}
    for tbl, key in [
        ("events", "event_id"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
    ]:
        row = t(spark, SF, tbl).agg(
            F.count("*"), F.min(key), F.max(key)
        ).collect()[0]
        assert got[tbl] == (row[0], row[1], row[2]), tbl


def test_distribution_drift_rational_identity(spark):
    """tv_dist must equal the exact integer numerator divided once by
    2*n_a*n_b (the single-IEEE-division contract), distances must lie
    in [0, 1], and shared vocab can't exceed either side's."""
    from target_s3_parquet_spark.operators.pipeline import (
        corpus_distribution_drift,
    )

    r = corpus_distribution_drift(spark, SF).collect()[0]
    assert r.tv_dist == r.tv_numer / (2.0 * r.n_a * r.n_b)
    assert 0.0 < r.tv_dist < 1.0
    assert 0.0 < r.linf_dist <= 2.0 * r.tv_dist
    assert r.vocab_shared <= min(r.vocab_a, r.vocab_b)
    assert r.n_a > 0 and r.n_b > 0


def test_hard_negative_mining_invariants(spark):
    """Every mined negative must carry a label different from its
    query's, exactly 4 rows per query, and for one query the result
    must equal a brute-force different-label top-4."""
    from target_s3_parquet_spark.operators.similarity import (
        sim_hard_negative_mining,
    )
    from target_s3_parquet_spark.operators._util import t
    import math

    rows = sim_hard_negative_mining(spark, SF).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        assert -1.0 <= r.cosine <= 1.0
    assert all(len(v) == 4 for v in per_q.values())

    emb = {
        r.vec_id: (r.label, r.embedding)
        for r in t(spark, SF, "embeddings").collect()
    }
    qid = min(per_q)
    qlabel, qv = emb[qid]
    qv = [float(x) for x in qv]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    brute = sorted(
        (
            (-cos(qv, [float(x) for x in v]), vid)
            for vid, (lbl, v) in emb.items()
            if lbl != qlabel
        ),
    )[:4]
    got = sorted((r.neighbor_id) for r in per_q[qid])
    assert got == sorted(vid for _, vid in brute)
    for r in per_q[qid]:
        assert emb[r.neighbor_id][0] != qlabel


def test_weighted_systematic_sample_exact_replay(spark):
    """The distributed two-phase prefix-sum sample must equal a
    driver-side exact-integer replay of the systematic wheel, and the
    realized hit mass must match floor(W/s) up to the boundary item."""
    import hashlib

    from target_s3_parquet_spark.operators.pipeline import (
        sample_weighted_systematic,
    )
    from target_s3_parquet_spark.operators._util import t

    docs = [
        (r.doc_id, r.n_chars)
        for r in t(spark, SF, "documents").select("doc_id", "n_chars").collect()
    ]
    ordered = sorted(
        docs, key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0])
    )
    wtot = sum(w for _, w in docs)
    s = wtot // 64
    expect, cum = {}, 0
    for doc_id, w in ordered:
        prev, cum = cum, cum + w
        hits = cum // s - prev // s
        if hits > 0:
            expect[doc_id] = (w, hits)

    got = {
        r.doc_id: (r.w, r.n_hits)
        for r in sample_weighted_systematic(spark, SF).collect()
    }
    assert got == expect
    total_hits = sum(h for _, h in got.values())
    assert wtot // s - 1 <= total_hits <= wtot // s


def test_cusum_peak_matches_pandas_replay(spark):
    """For one event_type, the reported peak |CUSUM| and its location
    must match an exact driver-side replay over the same order."""
    from decimal import Decimal

    from target_s3_parquet_spark.operators.timeseries import (
        ts_changepoint_cusum,
    )
    from target_s3_parquet_spark.operators._util import t

    out = {r.event_type: r for r in ts_changepoint_cusum(spark, SF).collect()}
    assert out
    etype = sorted(out)[0]
    rows = (
        t(spark, SF, "events")
        .filter(F.col("event_type") == etype)
        .select("event_id", "ts", "value")
        .collect()
    )
    rows.sort(key=lambda r: (r.ts, r.event_id))
    q = Decimal("0.000001")
    vals = [Decimal(str(0.0 + r.value)).quantize(q) for r in rows]
    # replicate CAST(double AS DECIMAL(38,6)): round-half-up on the
    # exact binary value — Decimal(str(x)) is close enough for the
    # peak LOCATION; the peak VALUE is checked loosely.
    n = len(vals)
    s1 = float(sum(vals))
    best, best_k = -1.0, None
    cs = Decimal(0)
    for k, v in enumerate(vals, start=1):
        cs += v
        c = abs(float(cs) - k * (s1 / n))
        if c > best:
            best, best_k = c, k
    r = out[etype]
    assert r.n == n
    assert abs(r.max_cusum - best) < 1e-6 * max(1.0, best)
    assert r.at_event_id == rows[best_k - 1].event_id


def test_rake_phrase_and_score_invariants(spark):
    """Phrases must contain no stopword (top-5 corpus tokens), at most
    3 rows per doc ordered by score, and for one doc the best phrase
    score must equal the exact integer replay of deg*1e6 DIV freq."""
    from target_s3_parquet_spark.functions.text_analysis import (
        text_rake_keywords,
    )
    from target_s3_parquet_spark.operators._util import t
    import re
    from collections import Counter, defaultdict

    docs = {
        r.doc_id: [
            w for w in re.split(r"[^a-z]+", r.text.lower()) if w
        ]
        for r in t(spark, SF, "documents").collect()
    }
    cnt = Counter(w for ws in docs.values() for w in ws)
    stop = {
        w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    }

    phrases = defaultdict(list)  # doc -> list[list[word]]
    for did, ws in docs.items():
        run = []
        for w in ws + [None]:
            if w is not None and w not in stop:
                run.append(w)
            elif run:
                phrases[did].append(run)
                run = []
    freq, deg = Counter(), Counter()
    for runs in phrases.values():
        for run in runs:
            for w in run:
                freq[w] += 1
                deg[w] += len(run)
    wscore = {w: deg[w] * 1_000_000 // freq[w] for w in freq}

    rows = text_rake_keywords(spark, SF).collect()
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
        assert not (set(r.phrase.split()) & stop)
    assert per_doc
    for did, rs in per_doc.items():
        assert len(rs) <= 3
        best = max(
            sum(wscore[w] for w in run) for run in phrases[did]
        )
        assert max(r.score_scaled for r in rs) == best, did


def test_link_prediction_invariants(spark):
    """Predicted links must be non-adjacent pairs, jaccard must equal
    the exact integer formula against a python replay of the strong
    graph, and every predicted pair must share >= 1 common neighbor."""
    from collections import defaultdict

    from target_s3_parquet_spark.operators.graph import (
        _strong_pairs,
        graph_link_prediction,
    )

    edges = {(r.a, r.b) for r in _strong_pairs(spark, SF).collect()}
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)

    rows = graph_link_prediction(spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        assert (r.a, r.b) not in edges and r.a < r.b
        cn = len(nbrs[r.a] & nbrs[r.b])
        assert cn == r.common_nbrs >= 1
        union = len(nbrs[r.a]) + len(nbrs[r.b]) - cn
        assert r.jaccard_scaled == cn * 1_000_000 // union
        seen.add((r.a, r.b))
    # completeness: every non-adjacent pair with a common neighbor
    expect = {
        (a, b)
        for a in nbrs
        for b in nbrs
        if a < b and (a, b) not in edges and nbrs[a] & nbrs[b]
    }
    assert seen == expect


def test_l_diversity_flags_only_homogeneous_groups(spark):
    """Flagged groups must truly have < 10 distinct user cohorts, and
    no diverse group may be flagged (python replay on the raw rows)."""
    from collections import defaultdict

    from target_s3_parquet_spark.operators.pipeline import (
        privacy_l_diversity_audit,
    )
    from target_s3_parquet_spark.operators._util import t

    groups = defaultdict(set)
    sizes = defaultdict(int)
    for r in t(spark, SF, "events").select(
        "event_type", F.date_format("ts", "yyyyMMddHH").alias("hr"), "user_id"
    ).collect():
        k = (r.event_type, int(r.hr))
        groups[k].add(r.user_id % 16)
        sizes[k] += 1

    flagged = {
        (r.event_type, r.hour_key): (r.group_size, r.l_distinct)
        for r in privacy_l_diversity_audit(spark, SF).collect()
    }
    assert flagged
    expect = {k for k, s in groups.items() if len(s) < 10}
    assert set(flagged) == expect
    for k, (gs, ld) in flagged.items():
        assert gs == sizes[k] and ld == len(groups[k])


def test_er_canonicalize_partitions_match_graph(spark):
    """Cluster labels must equal union-find over the multipass match
    edges (python replay), exactly one canonical (= min key) per
    cluster, and sizes must count the full cluster."""
    from collections import Counter

    from target_s3_parquet_spark.functions.text_analysis import (
        er_cluster_canonicalize,
    )
    from target_s3_parquet_spark.registry import QUERIES

    edges = [
        (r.key_a, r.key_b)
        for r in QUERIES["er_blocked_multipass"](spark, SF).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for x in parent:
        clusters.setdefault(find(x), set()).add(x)
    expect = {
        (k, root, len(m), 1 if k == root else 0)
        for root, mem in clusters.items()
        if len(mem) > 1
        for k, m in [(k, mem) for k in mem]
    }
    # min-label root == min member by construction of union-by-min
    expect = {
        (k, min(mem), len(mem), 1 if k == min(mem) else 0)
        for mem in ({find(x) for x in parent} and clusters.values())
        if len(mem) > 1
        for k in mem
    }

    got = {
        (r.k, r.cluster_id, r.cluster_size, r.is_canonical)
        for r in er_cluster_canonicalize(spark, SF).collect()
    }
    assert got == expect
    canon = Counter(c for _, c, _, f in got if f)
    assert all(v == 1 for v in canon.values())


def test_jl_projection_distortion_concentrates(spark):
    """JL contract: distortion ratios concentrate near 1 (mean of
    ratio^2 within 25% of 1 at k=16), the plane matrix is +-1 only,
    and one pair's d_proj matches a numpy replay bit-close."""
    import math

    from target_s3_parquet_spark.operators.similarity import (
        _JL_K,
        _JL_PLANES,
        emb_random_projection_jl,
    )
    from target_s3_parquet_spark.operators._util import t

    assert all(s in (-1, 1) for row in _JL_PLANES for s in row)

    rows = emb_random_projection_jl(spark, SF).collect()
    assert len(rows) > 500
    r2 = [r.ratio**2 for r in rows]
    mean_r2 = sum(r2) / len(r2)
    assert 0.75 < mean_r2 < 1.25  # E[ratio^2] = 1 under JL
    assert all(r.d_orig > 0 for r in rows)

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in t(spark, SF, "embeddings").filter(F.col("vec_id") < 4).collect()
    }
    ia, ib = sorted(emb)[:2]
    pa = [
        sum(s * x for s, x in zip(_JL_PLANES[j], emb[ia]))
        for j in range(_JL_K)
    ]
    pb = [
        sum(s * x for s, x in zip(_JL_PLANES[j], emb[ib]))
        for j in range(_JL_K)
    ]
    want = math.sqrt(sum((x - y) ** 2 for x, y in zip(pa, pb)) / _JL_K)
    got = next(r.d_proj for r in rows if r.ia == ia and r.ib == ib)
    assert abs(got - want) < 1e-9 * max(1.0, want)


def test_langid_confusion_rates_sum_per_class(spark):
    """Cell counts must sum to class totals, rates must be the exact
    floor rational, and the matrix must cover every labeled doc."""
    from collections import defaultdict

    from target_s3_parquet_spark.functions.text_analysis import (
        text_langid_confusion,
    )
    from target_s3_parquet_spark.operators._util import t

    rows = text_langid_confusion(spark, SF).collect()
    per_class = defaultdict(int)
    for r in rows:
        per_class[r.labeled_lang] += r.n
    n_docs = t(spark, SF, "documents").count()
    assert sum(per_class.values()) == n_docs
    for r in rows:
        assert r.rate_scaled == r.n * 1_000_000 // per_class[r.labeled_lang]
        assert r.detected_lang in ("en", "other")


def test_gini_matches_exact_replay(spark):
    """Gini numerator must equal the textbook integer identity over the
    corpus token counts (python replay), and 0 <= gini < 1."""
    import re
    from collections import Counter

    from target_s3_parquet_spark.operators.pipeline import (
        corpus_gini_concentration,
    )
    from target_s3_parquet_spark.operators._util import t

    cnt = Counter()
    for r in t(spark, SF, "documents").select("text").collect():
        cnt.update(w for w in re.split(r"[^a-z]+", r.text.lower()) if w)
    ordered = sorted(cnt.items(), key=lambda kv: (kv[1], kv[0]))
    v, n = len(ordered), sum(cnt.values())
    numer = 2 * sum(
        (i + 1) * c for i, (_, c) in enumerate(ordered)
    ) - (v + 1) * n

    r = corpus_gini_concentration(spark, SF).collect()[0]
    assert (r.vocab, r.n_tokens, r.gini_numer) == (v, n, numer)
    assert 0.0 <= r.gini < 1.0
    assert r.gini == numer / (v * n)


def test_seasonal_profile_shares_and_means(spark):
    """Shares must be the exact floor rational of per-type totals, the
    24-hour cells must cover all events, and one cell's mean must
    match a Decimal replay."""
    from collections import defaultdict
    from decimal import Decimal

    from target_s3_parquet_spark.operators.timeseries import (
        ts_seasonal_profile,
    )
    from target_s3_parquet_spark.operators._util import t

    rows = ts_seasonal_profile(spark, SF).collect()
    per_type = defaultdict(int)
    for r in rows:
        assert 0 <= r.hour_of_day <= 23
        per_type[r.event_type] += r.n
    assert sum(per_type.values()) == t(spark, SF, "events").count()
    for r in rows:
        assert r.share_scaled == r.n * 1_000_000 // per_type[r.event_type]

    r0 = min(rows, key=lambda r: (r.event_type, r.hour_of_day))
    vals = [
        Decimal(str(0.0 + x.value)).quantize(Decimal("0.000001"))
        for x in t(spark, SF, "events")
        .filter(
            (F.col("event_type") == r0.event_type)
            & (F.date_format("ts", "HH").cast("long") == r0.hour_of_day)
        )
        .collect()
    ]
    assert abs(r0.mean_value - float(sum(vals)) / len(vals)) < 1e-9


def test_cosine_histogram_counts_all_pairs(spark):
    """Bucket counts must sum to C(sample, 2), buckets must lie within
    [-1, 1] x 20, and cos_lo must be bucket/20."""
    from target_s3_parquet_spark.operators.similarity import (
        _JL_N,
        emb_cosine_histogram,
    )
    from target_s3_parquet_spark.operators._util import t

    n = (
        t(spark, SF, "embeddings")
        .filter(F.col("vec_id") < _JL_N)
        .count()
    )
    rows = emb_cosine_histogram(spark, SF).collect()
    assert sum(r.n_pairs for r in rows) == n * (n - 1) // 2
    for r in rows:
        assert -21 <= r.bucket <= 20
        assert r.cos_lo == r.bucket / 20.0


def test_boilerplate_ratio_exact_replay(spark):
    """Per-doc boilerplate counts must match a python replay of the
    3-word-block document-frequency rule."""
    from collections import Counter, defaultdict

    from target_s3_parquet_spark.operators.dedup import (
        docs_boilerplate_line_ratio,
    )
    from target_s3_parquet_spark.operators._util import t

    blocks = defaultdict(list)  # doc -> [block_text]
    for r in t(spark, SF, "documents").collect():
        ws = r.text.split(" ")
        for b in range(0, (len(ws) + 2) // 3):
            blocks[r.doc_id].append(" ".join(ws[b * 3 : b * 3 + 3]))
    ndocs = Counter()
    for did, bl in blocks.items():
        for bt in set(bl):
            ndocs[bt] += 1

    got = {
        r.doc_id: (r.n_blocks, r.n_boiler, r.boiler_ratio_scaled)
        for r in docs_boilerplate_line_ratio(spark, SF).collect()
    }
    assert set(got) == set(blocks)
    for did, bl in blocks.items():
        boiler = sum(1 for bt in bl if ndocs[bt] >= 3)
        assert got[did] == (
            len(bl),
            boiler,
            boiler * 1_000_000 // len(bl),
        ), did


def test_ccnet_buckets_are_balanced_terciles(spark):
    """Buckets must be exact terciles of the score ranking (sizes
    differing by at most 1) and monotone: every tail score <= every
    middle score <= every head score under the tie-broken key."""
    from collections import Counter

    from target_s3_parquet_spark.operators.pipeline import (
        corpus_ccnet_quality_buckets,
    )

    rows = corpus_ccnet_quality_buckets(spark, SF).collect()
    sizes = Counter(r.bucket for r in rows)
    assert set(sizes) == {"tail", "middle", "head"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    key = {r.doc_id: (r.lm_score_scaled, r.doc_id) for r in rows}
    hi = {b: max(key[r.doc_id] for r in rows if r.bucket == b) for b in sizes}
    lo = {b: min(key[r.doc_id] for r in rows if r.bucket == b) for b in sizes}
    assert hi["tail"] < lo["middle"] < hi["middle"] < lo["head"]


def test_golden_record_survivorship_rules(spark):
    """Golden rows must exist 1:1 with multi-record clusters and apply
    the declared rules: canonical_name from the min key, max balance,
    nation spread."""
    from collections import defaultdict

    from target_s3_parquet_spark.functions.text_analysis import (
        er_cluster_canonicalize,
        er_survivorship_golden_record,
    )
    from target_s3_parquet_spark.operators._util import t

    members = defaultdict(list)
    for r in er_cluster_canonicalize(spark, SF).collect():
        members[r.cluster_id].append(r.k)
    cust = {
        r.c_custkey: (r.c_name, r.c_acctbal, r.c_nationkey)
        for r in t(spark, SF, "customer").collect()
    }
    got = {
        r.cluster_id: (r.n_records, r.canonical_name, r.max_acctbal, r.n_nations)
        for r in er_survivorship_golden_record(spark, SF).collect()
    }
    assert set(got) == set(members)
    for cid, ks in members.items():
        n, name, bal, nn = got[cid]
        assert n == len(ks)
        assert name == cust[min(ks)][0]
        assert bal == max(cust[k][1] for k in ks)
        assert nn == len({cust[k][2] for k in ks})


def test_ivfpq_rerank_dominates_adc(spark):
    """The exact re-rank tier can never lose to ADC-only ranking on
    the same shortlist: per query, n_hits_rerank >= n_hits_adc, both
    within [0, 5], and the recall columns must be hits/5 exactly."""
    from target_s3_parquet_spark.operators.similarity import (
        _IPQ_NQ,
        _IPQ_TOPK,
        sim_ann_ivfpq_rerank,
    )

    rows = sim_ann_ivfpq_rerank(spark, SF).collect()
    assert len(rows) == _IPQ_NQ
    assert any(r.n_hits_rerank > r.n_hits_adc for r in rows) or all(
        r.n_hits_rerank == r.n_hits_adc for r in rows
    )
    for r in rows:
        assert 0 <= r.n_hits_adc <= r.n_hits_rerank <= _IPQ_TOPK
        assert r.recall_adc == r.n_hits_adc / _IPQ_TOPK
        assert r.recall_rerank == r.n_hits_rerank / _IPQ_TOPK
