"""Property-based invariants for pipeline operators: deterministic
split assignment and as-of join semantics checked against a naive
per-row Python reference on randomized inputs."""

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _split_of(doc_id: int) -> str:
    bucket = (
        int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:8], 16) % 100
    )
    return "train" if bucket < 80 else ("valid" if bucket < 90 else "test")


@given(st.sets(st.integers(min_value=0, max_value=10**9), max_size=40))
@settings(max_examples=20, deadline=None)
def test_hash_split_is_stable_under_any_subset(ids):
    # The defining property of hash-based splits: a document's split
    # does not depend on WHICH OTHER documents exist. (df.sample would
    # fail this instantly.)
    for doc_id in ids:
        assert _split_of(doc_id) == _split_of(doc_id)
    full = {d: _split_of(d) for d in ids}
    half = {d: _split_of(d) for d in list(ids)[: len(ids) // 2]}
    for d, s in half.items():
        assert full[d] == s


def _naive_asof(purchases, views):
    out = []
    for pid, puser, pts in purchases:
        best = None
        for vid, vuser, vts in views:
            if vuser == puser and vts <= pts:
                if best is None or (vts, vid) > (best[2], best[0]):
                    best = (vid, vuser, vts)
        out.append((pid, puser, best[0] if best else None))
    return sorted(out)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 50),  # ts
            st.booleans(),  # is_purchase
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_asof_join_matches_naive_reference(spark, raw):
    rows = [
        (i, user, ts, "purchase" if is_p else "view")
        for i, (user, ts, is_p) in enumerate(raw)
    ]
    purchases = [(i, u, ts) for i, u, ts, k in rows if k == "purchase"]
    views = [(i, u, ts) for i, u, ts, k in rows if k == "view"]

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    from pyspark.sql import Window as W

    tagged = df.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "last_view",
        F.last(
            F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    got = sorted(
        (r.event_id, r.user_id, r.last_view)
        for r in carried.filter(F.col("side") == 1).collect()
    )
    assert got == _naive_asof(purchases, views)


def test_lsh_output_is_exact_subset_of_brute_force(spark):
    """Sign-LSH soundness: every emitted pair must (a) appear in the
    brute-force all-pairs ≥ τ set and (b) carry the bit-identical
    cosine — LSH is allowed to MISS pairs (recall < 1), never to
    invent or misscore one."""
    from tests.conftest import SF_SMALL

    from target_s3_parquet_spark.operators import similarity as S

    got = {
        (r.id_a, r.id_b): r.cosine
        for r in S.sim_lsh_bucketed(spark, SF_SMALL).collect()
    }

    e = S._lsh_vectors(spark, SF_SMALL)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (S._dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= S._LSH_TAU)
        .collect()
    }
    assert set(got) <= set(brute)
    for pair, cos in got.items():
        assert cos == brute[pair]  # bit-identical, not approximately
    # the demo profile on this corpus finds a meaningful fraction
    assert len(got) >= 0.3 * len(brute)


def test_lsh_prod_profile_prunes_candidates(spark):
    """Candidate volume must collapse ~2^(R_prod-R_demo)× — the scaling
    property SCALE.md's R-growth rule rests on."""
    from tests.conftest import SF_SMALL

    from target_s3_parquet_spark.operators import similarity as S

    e = S._lsh_vectors(spark, SF_SMALL)
    demo = S._lsh_candidates(e, S._LSH_B, S._LSH_R).count()
    prod = S._lsh_candidates(e, S._LSH_PROD_B, S._LSH_PROD_R).count()
    assert prod < demo / 4


def test_kmeans_training_improves_within_cluster_cosine(spark):
    """Lloyd iterations must not make the codebook worse: the mean
    member-to-centroid cosine after 2 training iterations is at least
    the seeded (first-K) codebook's — the monotone-improvement
    property that justifies replacing `sim_ann_ivf`'s seeding with
    `ivf_kmeans_train`'s trained centroids."""
    import pyspark.sql.functions as F

    from target_s3_parquet_spark.operators.similarity import (
        _cos_col,
        _km_train,
        _KM_K,
        _vec_d,
    )
    from target_s3_parquet_spark.operators._util import t
    from tests.conftest import SF_SMALL

    v = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", _vec_d(F.col("embedding")).alias("v")
    )

    def mean_assignment_cosine(cents):
        from pyspark.sql import Window as W

        w = W.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("cid")
        )
        best = (
            v.join(F.broadcast(cents))
            .select(
                "vec_id",
                "cid",
                _cos_col(F.col("v"), F.col("cv")).alias("cos"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        return best.agg(F.avg("cos")).collect()[0][0]

    seeded = v.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    trained, _ = _km_train(spark, SF_SMALL)
    q0 = mean_assignment_cosine(seeded)
    q2 = mean_assignment_cosine(trained)
    assert q2 >= q0 - 1e-9, f"training degraded the codebook: {q0} -> {q2}"
    # and training actually moved the needle on this corpus
    assert q2 > q0, f"no improvement recorded: {q0} -> {q2}"


def test_line_dedup_keeps_each_distinct_block_exactly_once(spark):
    """docs_line_dedup's keep-first rule means the cleaned corpus
    contains every distinct block exactly once: sum(n_kept) over all
    docs == global distinct block count, and no doc keeps more than it
    had."""
    import pyspark.sql.functions as F

    from target_s3_parquet_spark.registry import get_queries
    from tests.conftest import SF_SMALL

    out = get_queries()["docs_line_dedup"](spark, SF_SMALL).cache()
    assert out.filter(F.col("n_kept") > F.col("n_blocks")).count() == 0
    kept_total = out.agg(F.sum("n_kept")).collect()[0][0]
    # recompute the distinct block count independently
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    words = F.split("text", " ")
    blocks = d.select(
        words.alias("w"),
        F.explode(
            F.sequence(
                F.lit(0), F.ceil(F.size(words) / F.lit(3.0)).cast("int") - 1
            )
        ).alias("i"),
    ).select(
        F.array_join(
            F.slice(F.col("w"), F.col("i") * 3 + 1, 3), " "
        ).alias("bt")
    )
    n_distinct = blocks.distinct().count()
    out.unpersist()
    assert kept_total == n_distinct, (kept_total, n_distinct)


def test_rolling_wau_dominates_dau_and_respects_user_total(spark):
    """For every day: DAU <= WAU(7d) <= total distinct users — the
    sandwich any correct sliding-distinct implementation must satisfy
    (equality cases define the boundaries)."""
    import pyspark.sql.functions as F

    from target_s3_parquet_spark.registry import get_queries
    from tests.conftest import SF_SMALL

    wau = get_queries()["ts_rolling_wau"](spark, SF_SMALL)
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    dau = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").alias("dau"))
    total_users = e.select("user_id").distinct().count()
    j = wau.join(dau, "day").collect()
    assert j, "no days joined"
    for row in j:
        assert row["dau"] <= row["wau"] <= total_users, row


def test_preference_pairs_have_nonnegative_margin(spark):
    """rlhf_preference_pairs pairs rank-i-from-top with rank-i-from-
    bottom; for k << group size the chosen side always scores at least
    the rejected side, so every margin is non-negative (a negative gap
    would mean the ranking or the join is wrong)."""
    import pyspark.sql.functions as F

    from target_s3_parquet_spark.registry import get_queries
    from tests.conftest import SF_SMALL

    out = get_queries()["rlhf_preference_pairs"](spark, SF_SMALL)
    assert out.filter(F.col("quality_gap") < 0).count() == 0


@given(
    st.sets(st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=12, deadline=None)
def test_dense_id_assignment_is_partitioning_invariant(spark, keys, nparts):
    # dense ids (two_phase_rank's rank - 1) must be a pure function of
    # the KEY SET — any partition count and any input distribution
    # yields rank-in-sorted-order
    from target_s3_parquet_spark.operators._util import two_phase_rank

    df = spark.createDataFrame(
        [(k,) for k in keys], "k long"
    ).repartition((nparts % 3) + 1)
    got = {
        r["k"]: r["rnk"] - 1
        for r in two_phase_rank(df, ["k"], nparts=nparts).collect()
    }
    want = {k: i for i, k in enumerate(sorted(keys))}
    assert got == want


def test_semdedup_rank_cap_bounds_oversized_cell_pair_work(spark):
    """The SemDeDup skew guard (VERDICT r3 #7): on a pathological cell
    holding nearly the whole corpus, the documented keep_rank cap must
    bound the pairwise stage's input to m*cap rows (vs m^2/2 uncapped)
    WITHOUT changing the keep order, and capped duplicate flags must be
    a subset of uncapped ones (capping can only lower max_prior_sim)."""
    import math
    import random

    import pyspark.sql.functions as F

    from target_s3_parquet_spark.operators.similarity import (
        semdedup_flags,
        semdedup_pairs,
    )

    dim, m, n_other, cap = 64, 120, 6, 8
    rng = random.Random(7)

    def unit(axis, jitter):
        v = [0.0] * dim
        v[axis] = 1.0
        v = [x + rng.uniform(-jitter, jitter) for x in v]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # one dominant direction (axis 0) + a few strays on other axes
    rows = [(i, unit(0, 0.2)) for i in range(m)]
    rows += [(m + j, unit(1 + j % 3, 0.05)) for j in range(n_other)]
    v = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = spark.createDataFrame(
        [(c, unit(c, 0.0)) for c in range(4)], "cid long, cv array<double>"
    )

    r, pairs_uncapped = semdedup_pairs(v, cents)
    sizes = {
        row["cid"]: row["n"]
        for row in r.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    assert max(sizes.values()) >= m  # the dominant cell actually formed
    want_uncapped = sum(s * (s - 1) // 2 for s in sizes.values())
    assert pairs_uncapped.count() == want_uncapped

    _, pairs_capped = semdedup_pairs(v, cents, rank_cap=cap)
    n_capped = pairs_capped.count()
    want_capped = sum(
        min(k - 1, cap) for s in sizes.values() for k in range(1, s + 1)
    )
    assert n_capped == want_capped
    assert n_capped <= (m + n_other) * cap  # the guard's task-input bound
    assert n_capped < want_uncapped

    full = semdedup_flags(v, cents).collect()
    capped = semdedup_flags(v, cents, rank_cap=cap).collect()
    rank_full = {x["vec_id"]: x["keep_rank"] for x in full}
    rank_capped = {x["vec_id"]: x["keep_rank"] for x in capped}
    assert rank_full == rank_capped  # keep ORDER unchanged by the cap
    dups_full = {x["vec_id"] for x in full if x["is_dup"]}
    dups_capped = {x["vec_id"] for x in capped if x["is_dup"]}
    assert dups_capped <= dups_full  # one-sided: capping never adds dups
    assert dups_full  # jittered same-axis vectors do exceed tau=0.9


def _naive_ntile(n: int, k: int) -> list:
    """Bucket of rank r (1-based) per NTILE's contract: the first
    n mod k buckets get n div k + 1 rows, the rest n div k."""
    q, m = divmod(n, k)
    out = []
    for r in range(1, n + 1):
        if r <= (q + 1) * m:
            out.append((r - 1) // (q + 1) + 1)
        else:
            out.append(m + (r - (q + 1) * m - 1) // max(q, 1) + 1)
    return out


@given(st.integers(1, 400), st.integers(1, 17))
@settings(max_examples=60, deadline=None)
def test_ntile_closed_form_properties(n, k):
    """Pure-python check of the closed form ntile_from_rank encodes:
    bucket ids are 1..min(n,k) and non-decreasing in rank, sizes differ
    by at most 1, and the LARGER buckets come first — the exact window
    contract on arbitrary (n, k)."""
    buckets = _naive_ntile(n, k)
    assert buckets[0] == 1 and buckets[-1] == min(n, k)
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(buckets, buckets[1:]))
    from collections import Counter

    sizes = Counter(buckets)
    vals = [sizes[b] for b in sorted(sizes)]
    assert max(vals) - min(vals) <= 1
    assert vals == sorted(vals, reverse=True)


def test_two_phase_rank_random_frames(spark):
    """Randomized cross-check of two_phase_rank against the naive
    global window on duplicate-laden multi-column orderings, including
    a running DECIMAL sum — one Spark session, several drawn frames."""
    import random

    from pyspark.sql import Window as W

    from target_s3_parquet_spark.operators._util import two_phase_rank

    rng = random.Random(20260815)
    for trial in range(3):
        n = rng.randint(1, 300)
        rows = [
            (rng.randint(0, 9), i, rng.randint(-5, 5))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "a int, key long, m long").select(
            "a", "key", F.col("m").cast("decimal(38,6)").alias("m")
        )
        order = [F.col("a").desc(), F.col("key")]
        w = W.orderBy(*order)
        naive = df.select(
            "key",
            F.row_number().over(w).alias("rnk"),
            F.sum("m")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .alias("cum"),
        )
        expected = sorted(tuple(r) for r in naive.collect())
        got = sorted(
            tuple(r)
            for r in two_phase_rank(
                df, order, sum_col="m", nparts=rng.choice([1, 2, 7, 32])
            )
            .select("key", "rnk", "cum")
            .collect()
        )
        assert got == expected, f"trial {trial}, n={n}"


# ---------------------------------------------------------------------------
# VERDICT r11 item 7: the DSIR saturating fixed-point fold and the 2^-40
# grid-quantization channel, property-tested bit-exactly against pure
# Python (the KM/NA edge-case suite pattern for the integer/dyadic
# channels every r11+ key builds on).
# ---------------------------------------------------------------------------


def _dsir_fold_py(rqs, scale=1_000_000_000, cap=1_000_000_000_000_000):
    acc = scale
    for r in rqs:
        acc = max(1, min(cap, (acc * r) // 256))
    return acc


@given(
    st.lists(
        st.lists(st.integers(min_value=64, max_value=1024), max_size=24),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=12, deadline=None)
def test_dsir_fold_matches_python_bit_exactly(spark, seqs):
    """The Spark `aggregate(...)` int64 fold must equal the pure-Python
    reference on every sequence, including both saturation rails
    (all-1024 ratios overflow to the 1e15 cap in ~10 steps; all-64
    ratios decay to the floor of 1)."""
    from target_s3_parquet_spark.operators.pipeline import (
        _DSIR_CAP,
        _DSIR_SCALE,
    )

    # append the deterministic rail-hitting sequences to every draw
    seqs = seqs + [[1024] * 24, [64] * 24, [], [256] * 5]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)],
        "id long, rqs array<long>",
    )
    got = {
        r["id"]: r["w"]
        for r in df.select(
            "id",
            F.expr(
                f"aggregate(rqs, CAST({_DSIR_SCALE} AS BIGINT),"
                " (acc, r) -> greatest(CAST(1 AS BIGINT),"
                f" least(CAST({_DSIR_CAP} AS BIGINT),"
                " (acc * r) div 256)))"
            ).alias("w"),
        ).collect()
    }
    for i, s in enumerate(seqs):
        assert got[i] == _dsir_fold_py(s, _DSIR_SCALE, _DSIR_CAP), (
            f"seq {s}"
        )
    # rails actually engaged
    assert got[len(seqs) - 4] == _DSIR_CAP
    assert got[len(seqs) - 3] == 1


@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=12, deadline=None)
def test_grid_quantization_matches_python_bit_exactly(spark, xs):
    """floor(x * 2^40) / 2^40 — the dyadic grid every quantized-fold
    key sums over — must produce IDENTICAL doubles in Spark and
    Python, including negatives, exact grid points, and values whose
    product x*2^40 rounds across an integer boundary."""
    import math

    grid = 1099511627776.0  # 2^40
    # exact grid points and boundary-straddlers join every draw
    xs = xs + [0.0, -0.0, 1.0 / grid, -1.0 / grid, 0.5 + 1.0 / grid]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "id long, x double"
    )
    got = {
        r["id"]: r["q"]
        for r in df.select(
            "id", (F.floor(F.col("x") * grid) / grid).alias("q")
        ).collect()
    }
    for i, x in enumerate(xs):
        exp = math.floor(x * grid) / grid
        assert got[i] == exp and math.copysign(1, got[i]) == math.copysign(
            1, exp
        ), f"x={x!r}: spark {got[i]!r} != python {exp!r}"
