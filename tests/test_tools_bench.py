"""Pure-python tests for the measurement tools — the skip/overlap and
interleave arithmetic that decides the recorded numbers, exercised
without a SparkSession."""

from __future__ import annotations

from tools.bench_zorder import _skips


def test_skip_counts_box_overlap():
    ranges = [
        (0, 10, 0, 10),  # overlaps every probe below
        (20, 30, 0, 10),  # x-disjoint from [0, 10]
        (0, 10, 20, 30),  # y-disjoint from [0, 10]
        (11, 19, 11, 19),  # disjoint on both
    ]
    assert _skips(ranges, 0, 10, 0, 10) == 3
    assert _skips(ranges, 0, 30, 0, 30) == 0
    assert _skips(ranges, 50, 60, 50, 60) == 4
    # touching boundaries overlap (min/max stats are inclusive)
    assert _skips([(10, 20, 10, 20)], 20, 30, 20, 30) == 0
    assert _skips([(10, 20, 10, 20)], 21, 30, 10, 20) == 1


def test_morton_interleave_orders_2d_neighbors():
    """The bit-interleave used by the z-order tool and key: points
    close in BOTH dimensions must be closer in z-value than points far
    in one dimension — checked on the classic 4x4 Morton curve."""

    def z(x, y, bits=4):
        v = 0
        for i in range(bits):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    # Morton order of the 2x2 blocks: (0,0)(1,0)(0,1)(1,1)
    assert [z(x, y) for y in (0, 1) for x in (0, 1)] == [0, 1, 2, 3]
    # quadrant locality: every z in the low-left 2x2 quadrant sorts
    # before every z in any other quadrant
    low = {z(x, y) for x in (0, 1) for y in (0, 1)}
    rest = {
        z(x, y)
        for x in range(4)
        for y in range(4)
        if not (x < 2 and y < 2)
    }
    assert max(low) < min(rest)


def test_lsh_minhash_reference_profile_is_superset_guard():
    """The minhash sweep's reference profile must dominate every swept
    profile's band count at R=1 (more bands = more chances to
    collide), which is what makes it the recall denominator."""
    from tools.bench_lsh_minhash import PROFILES, REFERENCE, TAU

    assert REFERENCE[1] == 1
    assert all(REFERENCE[0] >= b or r > 1 for b, r in PROFILES)
    assert (1 - TAU) ** REFERENCE[0] < 1e-4  # miss prob at threshold


def test_ntile_scale_forms_agree(spark):
    """The two forms the ntile crossover bench times must produce the
    same 10-row bucket table (tiny size — the bench's assertion at
    real sizes then only guards cardinality)."""
    from tools.bench_ntile import _dataset, _exact, _prod

    df = _dataset(spark, 1000)
    exact = {
        (r["decile"], r["n"], r["lo"]) for r in _exact(df).collect()
    }
    prod = {
        (r["decile"], r["n"], r["lo"])
        for r in _prod(df, spark.sparkContext.defaultParallelism).collect()
    }
    assert exact == prod and len(exact) == 10

def test_bench_stdout_contract_headline_is_last_and_fits_tail():
    """The driver records only a 2000-char stdout TAIL of bench.py and
    parses the last line in it (r6 verdict — this lost BENCH_r05 and
    BENCH_r06). Contract: the compact headline JSON is the FINAL (and
    only) stdout print, it fits the tail with headroom, and the 4 KB
    enriched record goes to stderr/BENCH_EXTRAS.json, never stdout."""
    import json
    import os
    import re

    src = open(
        os.path.join(os.path.dirname(__file__), "..", "bench.py")
    ).read()
    # every print() without file=sys.stderr must be the final_line one
    # (match the full call even when its args span multiple lines)
    stdout_prints = [
        m.group(0).replace("\n", " ")
        for m in re.finditer(r"print\((?:[^()]|\([^()]*\))*\)", src)
        if "sys.stderr" not in m.group(0)
    ]
    # exactly two sanctioned stdout prints: the headline, plus the
    # truncated-headline fallback on the overflow path (ADVICE r7 —
    # tripping the length self-check must not lose the artifact)
    assert stdout_prints == [
        "print(fallback, flush=True)",
        "print(final_line, flush=True)",
    ], stdout_prints
    # and the fallback is gated behind the overflow branch, not
    # unconditional (two stdout lines in the normal path would push
    # the headline's predecessor into the driver's tail window)
    assert "if len(final_line) >= 1900:" in src
    # the headline for the 24-key set serializes well under the window
    import bench

    fake = {
        "metric": "headline_query_wall_clock_total",
        "value": 99.999,
        "unit": "sec",
        "queries": {k: 99.999 for k in bench.HEADLINE},
        "sf": 0.1,
    }
    line = json.dumps(fake)
    assert len(line) < 1900, len(line)
    # the self-check guarding this at runtime must be present
    assert "len(final_line) >= 1900" in src


def test_bench_measure_min_failure_cleanup_and_breakdown(monkeypatch):
    """`bench.measure`, driven by stub keys on a fake clock: each key
    records the minimum of its runs, a raising key records -1.0
    without stopping the loop, caches are released once per key, and
    a replayed key's breakdown is the one of its own best run."""
    import types

    import bench
    from target_s3_parquet_spark.operators import _util
    from target_s3_parquet_spark.streaming import replay

    # the stub keys write the module-level timings; restore them after
    monkeypatch.setattr(replay, "LAST_TIMINGS", dict(replay.LAST_TIMINGS))
    clock = [0.0]
    fake_time = types.SimpleNamespace(time=lambda: clock[0])
    monkeypatch.setattr(bench, "time", fake_time)
    released = []
    monkeypatch.setattr(_util, "release_rank_caches", lambda: released.append(1))
    cleared = []
    spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: cleared.append(1))
    )

    def key(durations, replays):
        durations = iter(durations)

        def run(spark, sf_dir):
            d = next(durations)
            clock[0] += d
            if replays:
                replay.LAST_TIMINGS["stream_sec"] += d
                replay.LAST_TIMINGS["n_replays"] += 1
            return types.SimpleNamespace(count=lambda: 0)

        return run

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    queries = {
        "replayed": key([3.0, 1.0, 2.0], replays=True),
        "boom": boom,
        "batch": key([0.5, 0.25, 0.75], replays=False),
        "replayed_later": key([4.0, 5.0, 6.0], replays=True),
    }
    timings, breakdown = bench.measure(spark, "sf", queries, list(queries), 3)

    assert timings == {
        "replayed": 1.0, "boom": -1.0, "batch": 0.25, "replayed_later": 4.0,
    }
    assert len(cleared) == len(released) == len(queries)
    assert set(breakdown) == {"replayed", "replayed_later"}
    assert breakdown["replayed"]["stream_sec"] == 1.0
    assert breakdown["replayed_later"] == {
        "prep_sec": 0.0, "stream_sec": 4.0, "sink_sec": 0.0, "n_replays": 1,
    }
