"""Session settings that only the builder of the JVM's first session can
make, checked on the live session."""

from __future__ import annotations

import pytest


def test_repeated_working_set_is_not_recompiled(spark):
    """A working set of generated classes larger than Spark's default
    codegen cache (100 entries) is compiled once per JVM: replaying it
    adds no Janino compile. Each projection below generates two classes
    of its own, so one round holds about 150."""
    import bench

    def compiles_in_one_round() -> int:
        before = bench.jvm_compile_counters(spark)["janino_compiles"]
        for i in range(75):
            spark.range(4).selectExpr(f"id * {i + 2} + {i} AS x").collect()
        return bench.jvm_compile_counters(spark)["janino_compiles"] - before

    first = compiles_in_one_round()
    assert first > 100, first  # the round outgrows the default cache
    assert compiles_in_one_round() == 0


def test_jvm_compile_entry_deltas_and_failure(spark):
    """`bench.jvm_compile_entry` takes deltas of live readings, and a
    failed reading raises, so bench.py records `jvm_compile_error`."""
    import bench

    first = bench.jvm_compile_counters(spark)
    spark.range(3).selectExpr("id * 7919 + 104729 AS x").collect()
    last = bench.jvm_compile_counters(spark)
    entry = bench.jvm_compile_entry(first, first, last, last)
    assert entry["headline"] == entry["run"]
    assert entry["run"]["janino_compiles"] >= 1
    assert entry["run"]["jit_ms"] >= 0
    assert entry["metaspace_mb_end"] > 0

    failed = RuntimeError("py4j gone")
    with pytest.raises(RuntimeError) as info:
        bench.jvm_compile_entry(first, failed, last, last)
    assert info.value is failed
