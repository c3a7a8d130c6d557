"""Materializing a result whose backing storage is about to disappear.

Many streaming/transaction-log query keys run a pipeline inside a
temporary directory (memory sink, foreachBatch state dir, txlog clone)
that is torn down in a ``finally`` before the key returns — so the
result DataFrame must be detached from that storage first. Two sanctioned
ways, and ONLY these (a lint in ``tests/test_plans.py`` rejects raw
``createDataFrame(x.collect(), ...)`` elsewhere):

- :func:`snapshot_small` — round-trip through the driver, GUARDED by a
  row cap. For aggregates whose size is fixed by construction (per-type
  counts, per-window stats): the cap documents and enforces that claim.
- :func:`snapshot_persisted` — copy to a session-scoped parquet location
  outside the doomed temp dir and return a lazy scan of it. For
  DATA-PROPORTIONAL results (e.g. one row per user), where a driver
  round-trip would grow with the corpus. Cleaned at interpreter exit.

At cluster scale the second form is simply "write the result where
results live" (a real table/bucket path instead of a scratch dir); the
driver never holds the rows either way.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

# Default cap for snapshot_small. Generous for every bounded-aggregate
# key in the catalog (the largest is ~15k rows of per-key aggregates)
# while catching anything that actually scales with the input.
_SMALL_CAP = 100_000

_persisted_dirs: list[str] = []


def _cleanup_persisted() -> None:
    for d in _persisted_dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_persisted)


def snapshot_small(df: DataFrame, max_rows: int = _SMALL_CAP) -> DataFrame:
    """Driver round-trip for a bounded-by-construction result.

    Collects at most ``max_rows + 1`` rows and raises if the cap is
    exceeded — a key whose result scales with the data must use
    :func:`snapshot_persisted` instead of silently ballooning the
    driver heap.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"snapshot_small: result exceeds {max_rows} rows — this "
            "result is data-proportional; use snapshot_persisted"
        )
    return df.sparkSession.createDataFrame(rows, df.schema)


def snapshot_persisted(df: DataFrame, name: str = "snap") -> DataFrame:
    """Copy ``df`` to a session-scoped parquet dir (outside any caller
    temp dir) and return a lazy reader over it — no rows ever pass
    through the driver. The dir is removed at interpreter exit."""
    out = tempfile.mkdtemp(prefix=f"spark_graft_{name}_")
    _persisted_dirs.append(out)
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.parquet(out)


def snapshot(df: DataFrame, max_driver_rows: int = 10_000) -> DataFrame:
    """Size-routing snapshot for harness code that serves BOTH bounded
    and data-proportional results (the memory sink of
    `streaming.replay.replay_stream`): probe up to the cap; within it, the probe rows ARE the result (cheap
    driver round-trip, nothing recomputed), beyond it, route to the
    executor-side persisted copy. The routing decision only needs
    "over cap or not", so the probe cap is deliberately modest — a
    data-proportional result pays at most ``max_driver_rows`` rows of
    discarded driver materialization before the persisted re-execution,
    not :data:`_SMALL_CAP`. Callers that KNOW their result scales with
    the input should call :func:`snapshot_persisted` directly and skip
    the probe."""
    rows = df.limit(max_driver_rows + 1).collect()
    if len(rows) > max_driver_rows:
        return snapshot_persisted(df)
    return df.sparkSession.createDataFrame(rows, df.schema)

# Per-application entry cap for session_memo. One application's
# distinct (sf_dir, variant) keys number ~15 across the whole catalog;
# 32 gives headroom while making "the memo can't grow unboundedly
# within one app" a hard property instead of a usage convention.
_MEMO_CAP = 32


def session_memo(cache: dict, key: tuple, builder, cap: int = _MEMO_CAP):
    """Bounded session-scoped memo for snapshot artifacts shared across
    query keys (`dedup._AP_SNAP`, `text_analysis._ER_MP_SNAP`, the BPE
    merge list). ``key[0]`` MUST be the live applicationId: on every
    miss, entries belonging to OTHER applications are evicted first, so
    a long-lived process cycling SparkSessions (pytest, a notebook)
    never accumulates dangling handles into stopped JVMs. Within one
    application the dict is additionally FIFO-capped at ``cap``
    entries: evicting a memo entry only drops the handle (the parquet
    snapshot dir stays until interpreter exit), so a later call simply
    rebuilds — never a correctness event."""
    hit = cache.get(key)
    if hit is None:
        for stale in [k for k in cache if k[0] != key[0]]:
            del cache[stale]
        while len(cache) >= cap:
            del cache[next(iter(cache))]
        hit = builder()
        cache[key] = hit
    return hit
