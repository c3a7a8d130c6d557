"""Replay a batch table as a bounded file-source stream.

Standard local-testing harness for Structured Streaming operators: the
table is chunked into K files; ``readStream`` consumes them (optionally
one per micro-batch to exercise multi-batch state), the query runs to
quiescence with ``processAllAvailable``, and the sink's result comes
back as a normal DataFrame.

On a real deployment the source would be Kafka/Kinesis/files-on-S3 —
everything downstream of ``readStream`` is identical.
"""

from __future__ import annotations

from target_s3_parquet_spark._snapshot import snapshot

import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


# Wall-clock breakdown ACCUMULATED across replay_stream calls since
# the last reset_timings(): chunk-prep (rank/split/write of the replay
# files) vs the streaming query itself vs sink materialization, plus
# the call count (a key may replay several epochs/sources). Diagnostic
# only — the r12 VERDICT asked for the replay keys' harness fixed cost
# to be recorded SEPARATELY from the computation, without changing the
# headline2 methodology; bench.py resets it before every timed run and
# copies it (rounded) into extras next to the unchanged per-key totals.
_ZERO_TIMINGS = {
    "prep_sec": 0.0, "stream_sec": 0.0, "sink_sec": 0.0, "n_replays": 0
}
LAST_TIMINGS: dict = dict(_ZERO_TIMINGS)


def reset_timings() -> None:
    LAST_TIMINGS.update(_ZERO_TIMINGS)


@contextmanager
def stream_conf(spark: SparkSession, partitions: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` down for a bounded-replay
    streaming query. Stateful operators allocate one state store per
    shuffle partition PER OPERATOR PER MICRO-BATCH; at the session's 32
    partitions that fixed cost (store open/commit/snapshot × 32 ×
    epochs) dwarfs the data at replay scale. The store count is pinned
    at each query's FIRST batch from this conf (every replay uses a
    fresh checkpoint, so it is free to choose); results never depend on
    it. On a real deployment the knob stays at cluster scale."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def replay_stream(
    spark: SparkSession,
    source: DataFrame,
    build: Callable[[DataFrame], DataFrame],
    output_mode: str = "complete",
    n_chunks: int = 3,
    one_file_per_trigger: bool = True,
    order_col: str | None = None,
    tail_chunks: list[DataFrame] | None = None,
) -> DataFrame:
    """Write ``source`` as ``n_chunks`` parquet files, stream them
    through ``build``, return the materialized sink contents.

    ``order_col``: chunk boundaries follow this column's sort order so
    event-time progresses monotonically across micro-batches (what a
    replayed log would do) — required for watermark-sensitive ops.

    ``tail_chunks``: extra DataFrames written as their OWN files after
    the main chunks, so each becomes its own trailing micro-batch —
    end-of-log sentinels for operators (outer joins) whose final
    results only emit in a batch that runs AFTER the watermark has
    passed them (`processAllAvailable` does not wait for no-data
    batches, so the flush must ride an ordinary data batch).
    """
    from pyspark.sql import functions as F

    from target_s3_parquet_spark.operators._util import two_phase_rank

    tmp = tempfile.mkdtemp(prefix="replay_")
    name = "sink_" + uuid.uuid4().hex[:12]
    t_start = time.time()
    try:
        # Assign each row a chunk id, then write the chunks sequentially
        # so the file source's mtime ordering replays them as successive
        # micro-batches. Neither path sorts the corpus into one task
        # (the r5 gate log's `WindowExec: No Partition Defined` noise):
        # - with order_col, chunk boundaries must follow event time, so
        #   the global rank comes from `two_phase_rank`'s range-shuffle
        #   + broadcast-offsets prefix sum (ties fall in one range
        #   partition; their internal order is arbitrary-but-harmless,
        #   exactly as the old single-task sort's tie order was);
        # - without order_col, membership is declared arbitrary and
        #   every consumer's result is chunk-invariant (complete-mode
        #   aggregates / max-emission reducers), so a deterministic
        #   content hash replaces the fake lit(1) global sort.
        if order_col is not None:
            total = source.count()
            # Clamp so every chunk is NON-EMPTY by construction (rank
            # split of `total` rows into <= total chunks): callers rely
            # on each micro-batch carrying data (tail_chunks' flush
            # rides a data batch), and a tiny source must not turn the
            # tail of the chunk ladder into empty files.
            n_eff = max(1, min(n_chunks, total))
            numbered = two_phase_rank(source, [order_col]).withColumn(
                "_chunk",
                ((F.col("rnk") - 1) * n_eff / total).cast("int"),
            ).drop("rnk").cache()
        else:
            # CAVEAT (hash membership): duplicate rows always land in
            # the same chunk, and a chunk CAN be empty for small or
            # duplicate-heavy sources — an empty chunk writes a
            # zero-row parquet file, which still becomes its own
            # micro-batch (the file exists), but carries no data. Any
            # future caller that needs a flush to ride a DATA batch
            # (see tail_chunks above) must pass order_col, whose
            # rank-based split now guarantees non-empty chunks
            # UNCONDITIONALLY (n_chunks is clamped to the row count);
            # declared consumers of this branch are chunk-invariant
            # (complete-mode / max-emission), pinned by
            # tests/test_r8_operators.py's duplicate-heavy replay.
            n_eff = n_chunks
            numbered = source.withColumn(
                "_chunk",
                F.pmod(
                    F.xxhash64(F.struct(*[F.col(c) for c in source.columns])),
                    F.lit(n_chunks),
                ).cast("int"),
            ).cache()
        stream_dir = os.path.join(tmp, "stream")

        # The file source replays in MODIFICATION-TIME order; writes
        # are sequential but fast enough that two chunks can land in
        # the same mtime tick, and a tie would let a later chunk (or a
        # watermark-advancing sentinel) process first. Pin an explicit
        # +2s mtime ladder per chunk so replay order is a guarantee,
        # not a race.
        written: set[str] = set()
        base = time.time()

        def _stamp(step: int) -> None:
            for f in os.listdir(stream_dir):
                full = os.path.join(stream_dir, f)
                if full not in written and f.endswith(".parquet"):
                    os.utime(full, (base + 2 * step, base + 2 * step))
                    written.add(full)

        for i in range(n_eff):
            chunk = numbered.filter(F.col("_chunk") == i).drop("_chunk")
            chunk.coalesce(1).write.mode("append").parquet(stream_dir)
            _stamp(i)
        numbered.unpersist()
        for j, extra in enumerate(tail_chunks or []):
            extra.coalesce(1).write.mode("append").parquet(stream_dir)
            _stamp(n_eff + j)

        t_prep = time.time()
        reader = (
            spark.readStream.schema(source.schema)
            .option("maxFilesPerTrigger", 1 if one_file_per_trigger else 1000)
            .parquet(stream_dir)
        )
        out = build(reader)
        with stream_conf(spark):
            q = (
                out.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        t_stream = time.time()
        # materialize before the temp dir vanishes
        rows = spark.table(name)
        rows = snapshot(rows)  # size-routed: replay serves 3-row and 100k-row results alike
        LAST_TIMINGS["prep_sec"] += t_prep - t_start
        LAST_TIMINGS["stream_sec"] += t_stream - t_prep
        LAST_TIMINGS["sink_sec"] += time.time() - t_stream
        LAST_TIMINGS["n_replays"] += 1
        return rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
