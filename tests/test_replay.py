"""The shared stream-replay path (`streaming/replay.py`): ordered chunk
membership and replay order, and the timings a fold replay reports."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ntile(n: int, k: int) -> list[int]:
    """0-based NTILE(k) bucket of each 1-based rank 1..n: the first
    ``n mod k`` buckets take one row more than the rest."""
    q, m = divmod(n, k)
    sizes = [q + 1] * m + [q] * (k - m)
    return [b for b, size in enumerate(sizes) for _ in range(size)]


def _source(spark, n: int):
    # `ts` repeats, so only (ts, id) is a total order, and it is not
    # the row order of the source
    return spark.createDataFrame(
        [((i * 7) % 5, n - i) for i in range(n)], "ts long, id long"
    )


def test_ordered_chunks_are_ntile_and_replay_in_chunk_order(spark, tmp_path):
    """Through `write_chunks`, for n = 1..20 rows and k in {2, 3}: chunk
    i holds exactly the rows whose NTILE(k) over (ts, id) is i + 1, one
    file per non-empty chunk, and file mtimes strictly increase in
    chunk order. A foreachBatch drain over `chunk_replay` then sees
    micro-batch i = chunk i."""
    from target_s3_parquet_spark.streaming.replay import (
        chunk_replay,
        drain,
        write_chunks,
    )

    for k in (2, 3):
        for n in range(1, 21):
            d = str(tmp_path / f"k{k}_n{n}")
            write_chunks(_source(spark, n), d, n_chunks=k, order=["ts", "id"])
            files = sorted(
                (os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")),
                key=os.path.getmtime,
            )
            mtimes = [os.path.getmtime(f) for f in files]
            assert len(files) == min(n, k), (n, k, files)
            assert all(a < b for a, b in zip(mtimes, mtimes[1:])), (n, k, mtimes)
            chunk_of = {
                os.path.basename(f): i for i, f in enumerate(files)
            }
            rows = spark.read.parquet(d).select(
                "ts", "id", F.input_file_name().alias("f")
            ).collect()
            got = sorted(
                (r.ts, r.id, chunk_of[os.path.basename(r.f)]) for r in rows
            )
            assert [c for _, _, c in got] == _ntile(n, k), (n, k, got)

    n = 20
    for k in (2, 3):
        batches: dict[int, list] = {}

        def record(batch, batch_id):
            batches[batch_id] = sorted(map(tuple, batch.collect()))

        with chunk_replay(spark, _source(spark, n), k, ["ts", "id"]) as (
            reader,
            tmp,
        ):
            writer = reader.writeStream.foreachBatch(record).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
            drain(spark, writer.start)
        ordered = sorted(map(tuple, _source(spark, n).collect()))
        want = {
            i: sorted(r for r, c in zip(ordered, _ntile(n, k)) if c == i)
            for i in range(k)
        }
        assert batches == want, (k, batches)


def test_fold_replay_reports_timings(spark):
    """A fold replay adds to ``LAST_TIMINGS`` (one replay, prep and
    stream time), so `bench.measure` records a prep/stream/sink
    breakdown for the fold keys."""
    import bench
    from target_s3_parquet_spark.streaming.stream_queries import (
        stream_topk_per_group,
    )

    key = "stream_topk_per_group"
    timings, breakdown = bench.measure(
        spark, SF_SMALL, {key: stream_topk_per_group}, [key], 1
    )
    assert timings[key] > 0, timings
    b = breakdown[key]
    assert b["n_replays"] == 1, b
    assert b["prep_sec"] > 0 and b["stream_sec"] > 0 and b["sink_sec"] >= 0, b
