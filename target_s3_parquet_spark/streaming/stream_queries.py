"""Structured Streaming operators (SURVEY §2B streaming table), each
run to quiescence over a chunked replay of the ``events`` table so the
driver gets a plain DataFrame back.
Chunking, draining and foreachBatch folds all go through
`streaming/replay.py`.

Output-mode discipline: results must be invariant to micro-batch
boundaries for the oracle to hold — windowed aggregations run in
``complete`` mode (final state only); watermark-dependent ops document
their chunk-order contract via ``order_col="ts"``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from target_s3_parquet_spark._snapshot import snapshot_persisted, snapshot_small

from target_s3_parquet_spark.operators._util import dec, t
from target_s3_parquet_spark.registry import query
from target_s3_parquet_spark.streaming.replay import (
    chunk_replay,
    drain,
    fold_replay,
    replay_stream,
)


@query(
    "stream_singer_ingest",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS amounts__price,
           'orders' AS stream
    FROM orders
    """,
)
def stream_singer_ingest(spark, sf_dir):
    """R1-R13 as one streaming job: orders rows rendered as Singer
    RECORD lines across multiple log files, ingested by the
    checkpointed foreachBatch pipeline, read back from the parquet it
    wrote. The oracle recomputes the expected flattened output straight
    from the source table."""
    import json as _json
    import shutil
    import tempfile

    from target_s3_parquet_spark.sources.singer_queries import _orders_as_singer_lines
    from target_s3_parquet_spark.streaming.singer_stream import SingerStreamJob
    from target_s3_parquet_spark.sources.singer import StreamPlan

    schema = {
        "type": ["null", "object"],
        "properties": {
            "id": {"type": ["null", "integer"]},
            "status": {"type": ["null", "string"]},
            "amounts": {
                "type": ["null", "object"],
                "properties": {"price": {"type": ["null", "number"]}},
            },
        },
    }
    tmp = tempfile.mkdtemp(prefix="singer_stream_")
    try:
        log_dir = f"{tmp}/log"
        schema_line = _json.dumps(
            {"type": "SCHEMA", "stream": "orders", "schema": schema, "key_properties": ["id"]}
        )
        lines = _orders_as_singer_lines(spark, sf_dir)
        # schema header file + two record log files (two epochs)
        import os as _os

        _os.makedirs(log_dir)
        with open(f"{log_dir}/000_schema.jsonl", "w") as f:
            f.write(schema_line + "\n")
        half = lines.withColumn("_h", (F.crc32(F.col("value")) % 2).cast("int"))
        for i in (0, 1):
            half.filter(F.col("_h") == i).select("value").coalesce(1).write.mode(
                "append"
            ).text(f"{log_dir}/records_{i}")
        job = SingerStreamJob(
            plans={"orders": StreamPlan("orders", schema)},
            output_path=f"{tmp}/out",
            checkpoint_path=f"{tmp}/ckpt",
        )
        drain(spark, lambda: job.start(spark, f"{log_dir}/*", max_files_per_trigger=2))
        back = spark.read.parquet(f"{tmp}/out").withColumn(
            "id", F.col("id").cast("long")
        )
        return snapshot_persisted(back, "singer_ingest")  # 1 row/record: sf-proportional
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_window_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour event-time windows (epoch-aligned like
    date_trunc); complete mode ⇒ the final state equals the batch
    aggregation regardless of chunking."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(dec("value")).cast("double").alias("sum_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return replay_stream(spark, events, build, output_mode="complete")


@query(
    "stream_window_sliding",
    """
    WITH offsets AS (SELECT UNNEST([0, 1]) AS i)
    SELECT time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes'
             AS window_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def stream_window_sliding(spark, sf_dir):
    """Sliding windows: 1-hour duration, 30-minute slide — every event
    lands in exactly two windows. The oracle derives the same two
    window-starts per event arithmetically."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return (
            stream.groupBy(F.window("ts", "1 hour", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("window.start").alias("window_start"), "n_events")
        )

    return replay_stream(spark, events, build, output_mode="complete")


@query(
    "stream_window_session",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_window_session(spark, sf_dir):
    """Session windows (30-minute gap) per user. The oracle rebuilds
    sessionization relationally (lag → gap flag → running sum), pinning
    Spark's session_window merge semantics against an independent
    derivation."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return (
            stream.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
            )
        )

    return replay_stream(spark, events, build, output_mode="complete")


@query(
    "stream_dedup",
    """
    SELECT event_id, event_type, value
    FROM events
    """,
)
def stream_dedup(spark, sf_dir):
    """Streaming dedup on the event key with a watermark: the input is
    the events table unioned with itself (every row duplicated across
    micro-batches); dropDuplicates keeps exactly one copy."""
    events = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    doubled = events.union(events)

    def build(stream):
        return (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicates(["event_id"])
            .drop("ts")
        )

    # 3 chunks: duplicates still straddle micro-batch boundaries (the
    # cross-batch dedup being exercised) — the 4th epoch added only cost
    return replay_stream(
        spark, doubled, build, output_mode="append", order_col="ts", n_chunks=3
    )


@query(
    "stream_watermark_late",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_watermark_late(spark, sf_dir):
    """Late-data handling: a 30-minute watermark over event time with
    append output — only windows the watermark has passed are emitted;
    the trailing open windows are withheld. Because the replay chunks
    by ts order, no row is ever late and the final watermark is
    max(ts) − 30 min exactly, so the emitted set IS relational: all
    windows with end ≤ that watermark (the closing no-data micro-batch
    flushes everything the last batch's watermark passed). The oracle
    reproduces the watermark arithmetic in SQL — upgraded from the
    round-1/2 rows-only check."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )

    # 3 chunks: append-mode windows still emit PROGRESSIVELY (watermark
    # advances across ≥2 batch boundaries before the final flush); 5
    # epochs tested the same semantics at nearly 2x the fixed cost
    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts", n_chunks=3
    )


@query(
    "stream_windowed_distinct_count",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_windowed_distinct_count(spark, sf_dir):
    """Streaming windowed DISTINCT-count maintenance: exact distinct
    users per (1-hour window, event_type), kept incrementally across
    micro-batches. `count(DISTINCT ...)` is unsupported in streaming
    aggregations, so the scalable form is CHAINED stateful operators —
    a watermarked `dropDuplicates` on (window, event_type, user_id)
    whose state holds one row per distinct triple and is EVICTED as
    the watermark passes each window (the window struct is event-time
    derived, so eviction is time-bounded, not data-bounded), feeding a
    plain windowed count downstream. Chained stateful ops require
    append output, so only watermark-closed windows emit — the oracle
    restates that boundary relationally (same arithmetic as
    `stream_watermark_late`). Pairs with `stream_kmv_distinct` (the
    sketched twin: bounded state at unbounded cardinality; this key is
    the exact twin: state linear in distinct triples per open window).

    At 100 TB: dedup state is per-OPEN-window distinct triples, not
    per-event; the downstream count is a standard combinable windowed
    agg. Both shuffles key on the same (window, type) axis.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return (
            stream.withWatermark("ts", "30 minutes")
            .select(
                F.window("ts", "1 hour").alias("w"), "event_type", "user_id"
            )
            .dropDuplicates(["w", "event_type", "user_id"])
            .groupBy("w", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_users",
            )
        )

    # 3 ts-ordered chunks: the watermark advances across >=2 batch
    # boundaries, so dedup state for early windows is evicted while
    # later windows are still filling (the maintenance being exercised)
    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts", n_chunks=3
    )


@query(
    "stream_stateful_running",
    """
    SELECT user_id, COUNT(*) AS total_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running(spark, sf_dir):
    """Arbitrary stateful processing: applyInPandasWithState keeps a
    per-user (count, sum) state across micro-batches and emits the
    running totals each batch; the max emission per user equals the
    final aggregate, which the oracle recomputes relationally."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = t(spark, sf_dir, "events").select("user_id", "ts", "value")

    def update(key, pdfs, state: GroupState):
        count, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            # decimal-exact via integer micro-units to stay
            # order-independent
            total += int(pdf["value"].mul(1_000_000).round().astype("int64").sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "emit_count": [count], "emit_total": [total]}
        )

    def build(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, emit_count long, emit_total long",
            stateStructType="count long, total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    emissions = replay_stream(
        spark, events, build, output_mode="update", n_chunks=3
    )
    return emissions.groupBy("user_id").agg(
        F.max("emit_count").alias("total_events"),
        (F.max("emit_total").cast("double") / 1_000_000).alias("total_value"),
    )


@query(
    "stream_activate_version",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           CAST(2 AS BIGINT) AS _sdc_table_version
    FROM orders
    WHERE o_orderkey % 2 = 0
    """,
)
def stream_activate_version(spark, sf_dir):
    """L5 in the streaming pipeline: epoch 1 appends a version-1 sync,
    epoch 2 carries the version-2 full re-sync plus its
    ACTIVATE_VERSION — the swap replaces the stream's partition with
    exactly the activated version's rows via dynamic partition
    overwrite, superseding epoch 1's data. (The batch twin is
    `singer_activate_version`; the micro-batch constraint — activation
    swaps versions synced within its own epoch — is documented on
    `SingerStreamJob.activate_version`.)"""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from target_s3_parquet_spark.sources.singer import StreamPlan
    from target_s3_parquet_spark.streaming.singer_stream import SingerStreamJob

    schema = {
        "type": ["null", "object"],
        "properties": {
            "id": {"type": ["null", "integer"]},
            "status": {"type": ["null", "string"]},
        },
        "required": ["id"],
    }
    o = t(spark, sf_dir, "orders")

    def lines(pred, version):
        return o.filter(pred).select(
            F.to_json(
                F.struct(
                    F.lit("RECORD").alias("type"),
                    F.lit("orders").alias("stream"),
                    F.struct(
                        F.col("o_orderkey").alias("id"),
                        F.col("o_orderstatus").alias("status"),
                    ).alias("record"),
                    F.lit(version).alias("version"),
                )
            ).alias("value")
        )

    tmp = tempfile.mkdtemp(prefix="singer_av_stream_")
    try:
        log_dir = f"{tmp}/log"
        _os.makedirs(log_dir)
        lines(F.col("o_orderkey") < 1000, 1).coalesce(1).write.mode(
            "append"
        ).text(f"{log_dir}/a_v1")
        v2 = lines(F.col("o_orderkey") % 2 == 0, 2)
        activate = spark.createDataFrame(
            [
                (
                    _json.dumps(
                        {
                            "type": "ACTIVATE_VERSION",
                            "stream": "orders",
                            "version": 2,
                        }
                    ),
                )
            ],
            "value string",
        )
        v2.unionAll(activate).coalesce(1).write.mode("append").text(
            f"{log_dir}/b_v2"
        )
        job = SingerStreamJob(
            plans={"orders": StreamPlan("orders", schema)},
            output_path=f"{tmp}/out",
            checkpoint_path=f"{tmp}/ckpt",
            activate_version=True,
        )
        drain(spark, lambda: job.start(spark, f"{log_dir}/*", max_files_per_trigger=1))
        back = (
            spark.read.parquet(f"{tmp}/out")
            .select(
                F.col("id").cast("long").alias("id"),
                "status",
                "_sdc_table_version",
            )
        )
        return snapshot_persisted(back, "activate_version")  # sf-proportional
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_join_static",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_join_static(spark, sf_dir):
    """Stream-static enrichment join: the event stream joins a static
    dimension (customer) micro-batch by micro-batch — the canonical
    "enrich the firehose with reference data" pattern. The static side
    is re-resolved each trigger (so a refreshed dim table is picked up
    without restarting the query) and carries no pinned broadcast hint:
    customer is sf-proportional, so the planner broadcasts it while it
    fits the threshold and falls back to a per-batch shuffled join at
    scale; state is only the running aggregate, never the join itself.
    Complete-mode aggregation makes the result micro-batch-invariant,
    which is what lets a batch oracle verify it."""
    events = t(spark, sf_dir, "events")
    customer = t(spark, sf_dir, "customer")

    def build(stream):
        enriched = (
            stream.filter(F.col("event_type") == "purchase")
            .join(customer, F.col("user_id") == F.col("c_custkey"))
        )
        return enriched.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )

    return replay_stream(spark, events, build, output_mode="complete")


@query(
    "stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: purchases matched to same-user views
    from the preceding 10 minutes, both sides unbounded streams.

    Each side carries a watermark; the interval condition bounds how
    long a view must be buffered (10 min + watermark delay), so join
    state is evicted continuously — the ONLY way an unbounded x
    unbounded join is feasible. Append-mode output makes every emitted
    pair final, which is what lets the batch interval-join oracle
    verify it. At 100 TB/day the state store holds minutes, not days."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "30 minutes")
        )
        v = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "30 minutes")
        )
        return p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")),
        ).select("purchase_id", "view_id", "user_id")

    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts"
    )


@query(
    "stream_foreachbatch_upsert",
    """
    SELECT user_id, last_ts, last_value, last_event_type FROM (
      SELECT user_id, ts AS last_ts, value AS last_value,
             event_type AS last_event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark, sf_dir):
    """Streaming upsert sink via `foreachBatch`: each micro-batch MERGEs
    into a keyed snapshot (latest row per user), the pattern for
    maintaining a serving table from a CDC/event stream when the sink
    has no native MERGE. Batch-id-aware writes + the checkpoint give
    exactly-once application per epoch; the merge keeps max (ts,
    event_id) per key, so the final snapshot is micro-batch-boundary
    invariant — which is what the batch oracle (latest event per user)
    verifies. The read-union-overwrite here is the toy-scale stand-in
    for a Delta/Iceberg MERGE or dynamic partition overwrite; the
    dataflow (the batch keyed against the snapshot, latest row per key
    kept) is the real shape."""
    from pyspark.sql import Window as W

    events = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(prev, batch):
        cand = batch if prev is None else prev.unionByName(batch)
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    # three chunks in ts order, replayed as micro-batches — exact
    # NTILE(3) membership (the unique (ts, event_id) tiebreak makes it
    # bit-restatable)
    with fold_replay(spark, events, latest, order=["ts", "event_id"]) as state:
        snap = state.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
        # One row PER USER — data-proportional, so the snapshot goes
        # executor-to-parquet (persisted copy), never through the
        # driver (the r4 review's only data-proportional collect).
        return snapshot_persisted(snap, "fb_upsert")


def scd2_merge_increment(prev, batch, w):
    """One epoch of keyed-incremental SCD2 change-point maintenance:
    re-window ONLY the entities the batch touches; untouched prior
    state rows union through byte-identical, never entering a window.

    The batch's distinct entity keys (bounded by the trigger size, so
    broadcast-able) semi-split the prior change-point table: the
    touched slice unions with the batch and re-runs the lag-dedup, the
    anti slice is passed through via a broadcast-hash anti join — a
    map-side scan, no shuffle of untouched history. Per-epoch shuffled
    rows are therefore O(touched entities' change rows + batch), not
    O(total change rows): the MERGE-on-touched-keys shape a warehouse
    SCD2 pipeline runs at 100 TB. Correct because every entity's change
    rows land entirely on one side of the split (the entity key is the
    window partition key), so untouched entities' keep/drop decisions
    cannot change. `tests/test_r7_operators.py` pins the pass-through
    property (a non-canonical untouched row must SURVIVE an epoch,
    proving it was not re-windowed)."""
    cols = ["o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"]
    batch = batch.select(*cols)
    untouched = None
    cur = batch
    if prev is not None:
        keys = batch.select("o_custkey").distinct()
        untouched = prev.join(F.broadcast(keys), "o_custkey", "left_anti")
        cur = prev.join(F.broadcast(keys), "o_custkey", "leftsemi").unionByName(
            batch
        )
    ordered = cur.select(
        *cols,
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
        F.row_number().over(w).alias("rn"),
    )
    changes = ordered.filter(
        (F.col("rn") == 1) | (F.col("o_orderpriority") != F.col("prev_prio"))
    ).select(*cols)
    if untouched is not None:
        changes = untouched.select(*cols).unionByName(changes)
    return changes


@query(
    "stream_cdc_scd2",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_prio,
             ROW_NUMBER() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE rn = 1 OR o_orderpriority <> prev_prio
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current
    FROM changes
    """,
)
def stream_cdc_scd2(spark, sf_dir):
    """INCREMENTAL SCD2 maintenance as a stream: the order log replays
    in event-time order (3 micro-batches chunked by the exact
    two-phase NTILE over the SCD2 ordering itself, so per-entity
    arrival order is the history order) and each epoch's foreachBatch
    merges new rows into the persisted CHANGE-POINT table — union the
    prior change rows with the batch, rerun the lag-dedup on the
    touched keys, atomically replace the state (batch-id staging +
    rename = exactly-once application per epoch, the `fold_replay`
    commit every foreachBatch fold shares).

    Why storing only CHANGE rows suffices: priorities are constant
    between change points, so a new row's keep/drop decision against
    the last CHANGE row equals its decision against its true raw
    predecessor — the incremental rebuild touches O(changes + batch)
    rows per entity, never the full raw history. The final snapshot's
    valid_from/valid_to intervals must be IDENTICAL to the one-shot
    batch build (`cdc_scd2_history`), which is exactly what the
    shared oracle verifies — convergence of incremental maintenance
    to the batch semantics, the property every warehouse SCD2
    pipeline owes its consumers. At 100 TB the state is a real table
    (Delta/Iceberg MERGE on touched entity keys); the per-epoch data
    motion here — `scd2_merge_increment`'s broadcast key-split of the
    state plus one entity-key shuffle over touched-changes ∪ batch,
    with untouched state passing through join-free — is that
    pipeline's exact shape (r6 design note closed: per-epoch shuffled
    rows are O(touched + batch), not O(total change rows))."""
    from pyspark.sql import Window as W

    order = ["o_orderdate", "o_orderkey"]
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", *order
    )
    w = W.partitionBy("o_custkey").orderBy(*order)
    # chunked by the exact NTILE(3) over the SCD2 ordering itself
    with fold_replay(
        spark, orders, lambda prev, batch: scd2_merge_increment(prev, batch, w),
        order=order,
    ) as changes:
        valid_to = F.lead("o_orderdate").over(w)
        hist = changes.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("valid_from"),
            valid_to.alias("valid_to"),
            valid_to.isNull().alias("is_current"),
        )
        # one row per change point — data-proportional, so the result
        # leaves through an executor-side persisted copy
        return snapshot_persisted(hist, "fb_scd2")


@query(
    "stream_quarantine_sink",
    """
    SELECT is_valid, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM (SELECT user_id, event_type <> 'error' AS is_valid FROM events)
    GROUP BY is_valid
    """,
)
def stream_quarantine_sink(spark, sf_dir):
    """Dead-letter-queue pattern: one streaming pass splits each
    micro-batch into a clean sink and a quarantine sink (here the rule
    quarantines 'error' events — in the Singer pipeline it's the
    compiled JSON-Schema checks; see `singer_validate_quarantine` for
    the batch twin).
    `foreachBatch` writes BOTH sides from one batch scan — the stream
    is never read twice, and the checkpoint makes the split
    exactly-once per epoch. Malformed data never kills the pipeline
    and never silently disappears: it lands queryable, with the same
    schema plus the violation flag."""
    import os

    events = t(spark, sf_dir, "events")
    with chunk_replay(spark, events) as (reader, tmp):
        good_dir = os.path.join(tmp, "good")
        dlq_dir = os.path.join(tmp, "dlq")

        def split(batch, batch_id):
            flagged = batch.withColumn(
                "is_valid", F.col("event_type") != "error"
            ).cache()
            flagged.filter("is_valid").write.mode("append").parquet(good_dir)
            flagged.filter(~F.col("is_valid")).write.mode("append").parquet(
                dlq_dir
            )
            flagged.unpersist()

        writer = reader.writeStream.foreachBatch(split).option(
            "checkpointLocation", os.path.join(tmp, "ckpt")
        )
        drain(spark, writer.start)
        parts = []
        for d in (good_dir, dlq_dir):
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                parts.append(spark.read.parquet(d))
        both = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        out = both.groupBy("is_valid").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        return snapshot_small(out)


@query(
    "stream_available_now",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_available_now(spark, sf_dir):
    """Trigger.AvailableNow: process everything that exists, in rate-
    limited micro-batches, then STOP — the modern scheduled-batch-over-
    streaming-source pattern (replaces the deprecated Trigger.Once,
    which crammed the backlog into a single batch). The job keeps
    streaming semantics — checkpoint, exactly-once, maxFilesPerTrigger
    pacing — but runs to completion like a batch job, so a cron
    schedule gets incremental processing with no always-on cluster.
    The complete-mode aggregate at termination must equal the batch
    aggregate over the same files, which is what the oracle checks."""
    import os
    import uuid

    events = t(spark, sf_dir, "events")
    name = "sink_" + uuid.uuid4().hex[:12]
    with chunk_replay(spark, events) as (reader, tmp):
        agg = reader.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )
        writer = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
        )
        drain(spark, writer.start)  # AvailableNow terminates on its own
        return snapshot_small(spark.table(name))


@query(
    "stream_python_datasource",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total_price
    FROM orders
    """
    + "GROUP BY o_orderstatus",
)
def stream_python_datasource(spark, sf_dir):
    """Streaming read through the Spark 4 Python DataSource API
    (`sources/pyds.py` SimpleDataSourceStreamReader): the orders table
    is serialized to three Singer JSONL chunk files, the custom source
    tails the directory (offset = files ingested, replayable between
    offsets for exactly-once restart), and the typed micro-batch
    aggregate at termination must equal the batch aggregate the oracle
    computes straight from the table."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import types as T

    from target_s3_parquet_spark.sources.pyds import register

    o = t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="pyds_stream_")
    name = "sink_" + uuid.uuid4().hex[:12]
    try:
        log_dir = os.path.join(tmp, "log")
        os.makedirs(log_dir)
        record = F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        lines = o.select(
            F.to_json(
                F.struct(
                    F.lit("RECORD").alias("type"),
                    F.lit("orders").alias("stream"),
                    record.alias("record"),
                )
            ).alias("value"),
            (F.col("o_orderkey") % 3).alias("chunk"),
        )
        # one job, three chunk files: partitionBy writes every chunk in
        # a single orders scan (the previous per-chunk filter+write
        # re-scanned the table three times)
        part = os.path.join(tmp, "chunks")
        lines.repartition(1, "chunk").write.mode("overwrite").partitionBy(
            "chunk"
        ).text(part)
        for i in range(3):
            cdir = os.path.join(part, f"chunk={i}")
            src = [
                f
                for f in os.listdir(cdir)
                if f.startswith("part-") and f.endswith(".txt")
            ][0]
            shutil.move(
                os.path.join(cdir, src), os.path.join(log_dir, f"{i:03d}.jsonl")
            )

        register(spark)
        raw = spark.readStream.format("singer_jsonl").load(log_dir)
        rec_schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("status", T.StringType()),
                T.StructField("price", T.DoubleType()),
            ]
        )
        agg = (
            raw.filter(F.col("msg_type") == "RECORD")
            .select(F.from_json("record", rec_schema).alias("r"))
            .groupBy(F.col("r.status").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(dec(F.col("r.price"))).cast("double").alias(
                    "total_price"
                ),
            )
        )
        writer = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        )
        drain(spark, writer.start)
        return (
            spark.table(name)
            .select("status", "n_orders", "total_price")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_txlog_sink",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_txlog_sink(spark, sf_dir):
    """Streaming into the transaction-log table format: each
    micro-batch lands as one serializable txlog commit
    (`expected_prev` chained batch-to-batch inside foreachBatch), so
    the lakehouse table gains one atomic version per epoch — readers
    never see a torn batch, failed epochs leave no visible data, and
    the version history IS the ingest audit log. The final snapshot
    aggregate must equal the batch aggregate over the source (the
    oracle). At 100 TB this is the standard 'streaming upsert into
    Delta' topology with the commit protocol spelled out."""
    import os

    from target_s3_parquet_spark.sources import txlog

    events = t(spark, sf_dir, "events").select("event_id", "event_type", "value", "ts")
    with chunk_replay(spark, events) as (reader, tmp):
        root = os.path.join(tmp, "tbl")

        def commit_batch(batch, batch_id):
            prev = txlog.latest_version(root)
            txlog.commit(batch, root, expected_prev=prev)

        writer = reader.writeStream.foreachBatch(commit_batch).option(
            "checkpointLocation", os.path.join(tmp, "ckpt")
        )
        drain(spark, writer.start)
        if txlog.latest_version(root) != 2:
            raise RuntimeError("one version per epoch")
        snap = (
            txlog.read_table(spark, root)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(dec("value")).cast("double").alias("total_value"),
            )
        )
        return snapshot_small(snap)


@query(
    "stream_epoch_metrics",
    """
    WITH chunked AS (
      SELECT CAST(NTILE(3) OVER (ORDER BY ts, event_id) - 1 AS BIGINT)
               AS epoch,
             event_id, value
      FROM events
    )
    SELECT epoch, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM chunked GROUP BY epoch
    """,
)
def stream_epoch_metrics(spark, sf_dir):
    """Per-micro-batch pipeline observability: every epoch publishes
    its own quality metrics (row count, decimal-exact value total,
    id bounds) from INSIDE the foreachBatch hook — the streaming twin
    of `scan_observe_metrics`, and the hook where a production
    circuit-breaker aborts the epoch commit when a metric breaches
    contract. Metrics are per-epoch rows, so the run's health history
    is itself a queryable table.

    Determinism: the replayed log is chunked by NTILE(3) over
    (ts, event_id) and one file maps to one micro-batch (mtime-ordered
    file source, maxFilesPerTrigger=1), so epoch membership — and
    therefore every metric row — is exactly restatable by the batch
    oracle."""
    import os

    events = t(spark, sf_dir, "events")
    metrics: list[tuple] = []

    def observe_epoch(batch, batch_id):
        row = batch.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        ).collect()[0]
        metrics.append(
            (
                int(batch_id),
                row["n_rows"],
                row["total_value"],
                row["min_event_id"],
                row["max_event_id"],
            )
        )

    # exact NTILE(3) membership without a single-task sort — the oracle
    # restates epoch membership
    with chunk_replay(spark, events, order=["ts", "event_id"]) as (reader, tmp):
        writer = reader.writeStream.foreachBatch(observe_epoch).option(
            "checkpointLocation", os.path.join(tmp, "ckpt")
        )
        drain(spark, writer.start)
        return spark.createDataFrame(
            metrics,
            "epoch long, n_rows long, total_value double,"
            " min_event_id long, max_event_id long",
        )


@query(
    "stream_update_mode",
    """
    WITH numbered AS (
      SELECT event_type,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) * 3.0
                        / (COUNT(*) OVER ())) AS BIGINT) AS chunk
      FROM events
    ),
    epochs AS (SELECT UNNEST([0, 1, 2]) AS e)
    SELECT n.event_type, COUNT(*) AS n_events
    FROM epochs
    JOIN numbered n ON n.chunk <= epochs.e
    WHERE n.event_type IN (
      SELECT DISTINCT event_type FROM numbered u WHERE u.chunk = epochs.e
    )
    GROUP BY epochs.e, n.event_type
    """,
)
def stream_update_mode(spark, sf_dir):
    """UPDATE output mode — the third streaming output semantics
    (complete and append are covered by the window keys): each
    micro-batch emits ONLY the aggregate rows that changed in that
    epoch, so the sink receives a changelog of per-type counts — one
    row per (epoch, updated type) carrying the cumulative count at
    that epoch. This is the mode that feeds incremental-refresh
    serving tables without re-emitting the whole state every trigger
    (complete) and without waiting for watermark finalization
    (append).

    The memory sink accumulates the changelog; the oracle restates it
    exactly: for every epoch, the types present in that chunk paired
    with their running totals over chunks ≤ epoch (deterministic
    chunking shared with the replay helper — same floor arithmetic,
    same unique order key)."""
    events = t(spark, sf_dir, "events")

    def build(stream):
        return stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )

    return replay_stream(
        spark,
        events,
        build,
        output_mode="update",
        order_col="event_id",
    )


@query(
    "stream_session_dynamic_gap",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             CASE WHEN event_type = 'purchase'
                  THEN 3600000000 ELSE 1800000000 END AS gap_us
      FROM events
    ),
    flags AS (
      SELECT user_id, ts, us,
             CASE WHEN MAX(us + gap_us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > us
                  THEN 0 ELSE 1 END AS new_s
      FROM g
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS sid
      FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark, sf_dir):
    """Session windows with a DYNAMIC, per-event gap (Spark's
    `session_window(ts, gap_expr)`): purchases hold the session open
    for 60 minutes, everything else 30 — the engagement-modeling shape
    where high-intent actions extend the session. Each event
    contributes a window [ts, ts+gap) and overlapping windows merge.

    The oracle is an independent relational derivation of exactly that
    merge rule: an event starts a new session iff the running MAX of
    predecessors' (ts + gap) does not strictly exceed its own ts —
    the half-open-interval semantics pinned cross-engine at
    microsecond precision. Complete output mode ⇒ final state equals
    the batch statement regardless of chunking."""
    events = t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", "60 minutes"
    ).otherwise("30 minutes")

    def build(stream):
        return (
            stream.groupBy(
                F.session_window("ts", gap).alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
            )
        )

    return replay_stream(spark, events, build, output_mode="complete")


@query(
    "stream_dedup_within_watermark",
    """
    SELECT event_id, ts, event_type, value FROM events
    """,
)
def stream_dedup_within_watermark(spark, sf_dir):
    """`dropDuplicatesWithinWatermark`: key-only dedup with BOUNDED
    state. Plain `dropDuplicates(["event_id"])` keeps every key's
    state forever unless the event-time column is part of the dedup
    key — but real duplicates (retried producers, at-least-once
    sources) arrive with DIFFERENT timestamps, so keying on ts would
    not dedup them at all. The within-watermark variant dedups on the
    key alone and still evicts each key's state once the watermark
    passes its first sighting + delay — the only shape whose state is
    O(keys per watermark window), not O(all keys ever).

    Demo: every event re-arrives 5 minutes later (a retry with a new
    timestamp, inside the 2-hour delay). Each first sighting is
    emitted immediately in append mode; each retry is swallowed. The
    oracle is simply the original events — WITH their timestamps,
    proving the kept copy is the first arrival, not the retry.

    The retries ride ``tail_chunks`` — a strictly LATER micro-batch
    than every original — so "first arrival" is enforced by batch
    boundaries, not by intra-batch row order (rows of one batch reach
    the dedup state in shuffle-fetch order, which a split input file
    would scramble)."""
    events = t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    retries = events.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )

    def build(stream):
        return stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        )

    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts",
        n_chunks=3, tail_chunks=[retries],
    )


@query(
    "stream_stream_join_outer",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    """,
)
def stream_stream_join_outer(spark, sf_dir):
    """LEFT OUTER stream-stream interval join: `stream_stream_join`
    plus the rows that DIDN'T match — purchases with no same-user view
    in the preceding 10 minutes emit with a NULL view id. The engine
    can only declare "no match will ever come" once the watermark has
    passed a purchase's full validity window, so outer results trail
    the inner ones by watermark delay — correct and unavoidable in an
    unbounded join.

    The replay appends a far-future SENTINEL view (user_id -1, 12h
    past the data's end) whose only job is to push the watermark past
    every real purchase's window so the tail's outer rows flush before
    the harness stops — the streaming twin of an end-of-log marker;
    a no-data micro-batch after it emits the final NULLs. State story
    is unchanged from the inner join: both sides evicted continuously,
    the store holds minutes of events at any throughput."""
    events = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    # One sentinel per SIDE and per WAVE: the global watermark is the
    # MIN over all watermark operators (a view-only sentinel would
    # leave the purchase side pinned at its last real event), and TWO
    # waves in successive trailing micro-batches are needed — wave 1
    # advances the watermark past every real window; wave 2 is the
    # data batch DURING which that watermark evicts the remaining
    # purchase state and emits its NULL rows.
    def sentinel_wave(hours):
        return events.groupBy().agg(
            (F.max("ts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts")
        ).select(
            F.explode(F.array(F.lit("view"), F.lit("purchase"))).alias(
                "event_type"
            ),
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            "ts",
        ).select(*events.columns)

    def build(stream):
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "30 minutes")
        )
        v = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "30 minutes")
        )
        return p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")),
            "left_outer",
        ).select("purchase_id", "view_id", "user_id")

    # The sentinel purchases' own outer rows are dropped on the
    # MATERIALIZED result — a filter inside the streaming plan would
    # be pushed below the watermark operator and silently remove the
    # sentinels from the watermark computation itself.
    # 2 data chunks (cross-batch buffering still exercised: batch-1
    # purchases match batch-2 views) + the 2 sentinel waves = 4 epochs,
    # the semantic minimum for an outer join whose NULLs flush only in
    # a data batch after the watermark passes every real window.
    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts",
        n_chunks=2,
        tail_chunks=[sentinel_wave(12), sentinel_wave(24)],
    ).filter(F.col("purchase_id") >= 0)


@query(
    "stream_kmv_distinct",
    """
    WITH uh AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM uh
    )
    SELECT event_type, COUNT(*) AS k_eff, MAX(h) AS hk,
           CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 31 * CAST(4503599627370496 AS DOUBLE) / MAX(h) END
             AS kmv_est
    FROM ranked WHERE rn <= 32
    GROUP BY event_type
    """,
)
def stream_kmv_distinct(spark, sf_dir):
    """Streaming distinct-count sketch: each epoch's foreachBatch folds
    the batch's per-type user hashes into a persisted bottom-k=32
    state table. This is `agg_kmv_distinct_union`'s sketch maintained
    INCREMENTALLY, and the convergence is provable, not approximate:
    bottom-k of (bottom-k(state) ∪ batch) = bottom-k of everything
    seen, for ANY chunking and arrival order — the mergeability that
    makes bottom-k the sketch distributed and streaming engines agree
    on. The shared oracle pins the final state bit-for-bit to the
    one-shot batch sketch (the same batch-convergence property
    `stream_cdc_scd2` proves for SCD2 state).

    Per-epoch work: the batch reduces map-side to distinct (type,
    hash); state is O(k * n_types) rows, so the merge window ranks at
    most k + batch-distinct rows per type — bounded state, bounded
    shuffle, at any corpus size. Estimates derive from the k-th order
    statistic on the exact 52-bit md5 hex grid; below capacity the
    sketch IS the exact distinct set (est = k_eff).

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    from pyspark.sql import Window as W

    _K = 32
    events = t(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    w = W.partitionBy("event_type").orderBy("h")

    def bottom_k(prev, batch):
        cand = batch.select("event_type", h.alias("h")).distinct()
        if prev is not None:
            cand = prev.unionByName(cand).distinct()
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _K)
            .drop("rn")
        )

    # chunk membership is deliberately arbitrary (content hash) — the
    # sketch's mergeability makes the result chunk-invariant
    with fold_replay(spark, events, bottom_k) as sk:
        est = F.when(
            F.count(F.lit(1)) < _K, F.count(F.lit(1)).cast("double")
        ).otherwise(
            F.lit(float(_K - 1)) * F.lit(4503599627370496.0) / F.max("h")
        )
        out = sk.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.max("h").alias("hk"),
            est.alias("kmv_est"),
        )
        return snapshot_small(out)


@query(
    "stream_asof_join",
    """
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             v.event_id AS view_id, v.ts AS v_ts,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
       AND v.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    )
    SELECT purchase_id, user_id,
           view_id AS asof_view_id, v_ts AS asof_view_ts
    FROM pairs WHERE rn = 1
    """,
)
def stream_asof_join(spark, sf_dir):
    """Stream-stream AS-OF join: each purchase matched to the LATEST
    same-user view at or before it (within a 2-hour validity
    window) — the one as-of variant the r1 asof family lacked, and the
    canonical quotes/trades shape. Structured Streaming has no native
    as-of, so it composes two supported stateful operators:
    `stream_stream_join`'s interval join produces every candidate
    (purchase, view) pair, and a CHAINED event-time aggregation
    (Spark >= 3.5 multiple-stateful-operator support) reduces each
    purchase to its max-(v_ts, view_id) candidate. The aggregation
    groups by window(p_ts) so its own watermark is event-time-bound;
    purchase_id inside the window keys the reduction. Append mode:
    every emitted as-of row is FINAL (watermark has passed its
    window), which is what lets the batch ROW_NUMBER oracle verify it
    bit-for-bit; the deterministic (v_ts, view_id) tie-break makes the
    argmax engine-neutral.

    Flush mechanics: two sentinel waves (one per side, +12h/+24h)
    push the watermark past every real purchase window so the final
    windows emit before the harness stops — sentinel pairs land in a
    far-future window and are dropped from the MATERIALIZED result
    (a filter inside the plan would sit below the watermark operator).

    State story at 100 TB/day: the join buffers 2 hours + watermark
    delay per side (continuously evicted); the agg holds one window of
    per-purchase argmax partials — both bounded by time, not data."""
    events = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )

    def sentinel_wave(hours):
        return events.groupBy().agg(
            (F.max("ts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts")
        ).select(
            F.explode(F.array(F.lit("view"), F.lit("purchase"))).alias(
                "event_type"
            ),
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            "ts",
        ).select(*events.columns)

    def build(stream):
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "30 minutes")
        )
        v = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "30 minutes")
        )
        pairs = p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
            & (F.col("v_ts") <= F.col("p_ts")),
        )
        return (
            pairs.groupBy(
                F.window("p_ts", "10 minutes"), "purchase_id", "user_id"
            )
            .agg(
                F.max_by(
                    "view_id", F.struct("v_ts", "view_id")
                ).alias("asof_view_id"),
                F.max("v_ts").alias("asof_view_ts"),
            )
            .select(
                "purchase_id", "user_id", "asof_view_id", "asof_view_ts"
            )
        )

    return replay_stream(
        spark, events, build, output_mode="append", order_col="ts",
        n_chunks=2,
        tail_chunks=[sentinel_wave(12), sentinel_wave(24)],
    ).filter(F.col("purchase_id") >= 0)


def _reservoir_fold(state, batch, k=4):
    """One fold of the bottom-k ROW reservoir: bottom-k per event_type
    of (state UNION batch) on (h, event_id). The full-row dedup makes
    the fold IDEMPOTENT — under at-least-once batch redelivery the
    re-applied rows are already in state, and without the dedup a
    duplicate would occupy two reservoir slots and evict a legitimate
    row (bottom-k is a SET operation). fold(fold(s, b), b) ==
    fold(s, b), pinned in tests/test_r9_operators.py."""
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("h", "event_id")
    cand = state.unionByName(batch) if state is not None else batch
    return (
        cand.dropDuplicates(["event_type", "event_id", "user_id", "h"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _topk_measure_fold(state, batch, k=4):
    """One fold of the per-group top-k-by-measure state: top-k per
    event_type of (state UNION batch) on (value DESC, event_id). The
    full-row dedup keeps the fold idempotent under at-least-once batch
    redelivery, exactly as `_reservoir_fold` — pinned in
    tests/test_r9_operators.py."""
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    cand = state.unionByName(batch) if state is not None else batch
    return (
        cand.dropDuplicates(["event_type", "event_id", "user_id", "value"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@query(
    "stream_reservoir_sample",
    """
    WITH h AS (
      SELECT event_type, event_id, user_id,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)
               AS BIGINT) AS hash52
      FROM events
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY hash52, event_id) AS sample_rank
      FROM h
    )
    SELECT event_type, CAST(sample_rank AS BIGINT) AS sample_rank,
           event_id, user_id, hash52
    FROM ranked WHERE sample_rank <= 4
    """,
)
def stream_reservoir_sample(spark, sf_dir):
    """Streaming per-group reservoir: `sample_reservoir_per_group`'s
    hash-rank draw maintained INCREMENTALLY — each epoch's foreachBatch
    folds the batch's rows into a persisted bottom-k=4 state per event
    type. Convergence is provable, not approximate: bottom-k of
    (bottom-k(state) UNION batch) = bottom-k of everything seen, for
    ANY chunking and arrival order — the same mergeability
    `stream_kmv_distinct` proves for the distinct sketch, here carrying
    whole ROWS (the reservoir payload), which is exactly how a
    distributed streaming engine keeps a uniform sample without RNG
    state. The shared oracle pins the final reservoir bit-for-bit to
    the one-shot batch draw.

    Per-epoch work: the batch reduces map-side to its own bottom-k per
    type (WindowGroupLimit); state is O(k * n_types) rows, so the
    merge window ranks at most k + k rows per type — bounded state,
    bounded shuffle, at any stream rate.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    from pyspark.sql import Window as W

    h = F.expr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    events = t(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id", h.alias("h")
    )
    with fold_replay(spark, events, _reservoir_fold) as state:
        state = snapshot_small(state)
    w = W.partitionBy("event_type").orderBy("h", "event_id")
    return state.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("sample_rank"),
        "event_id",
        "user_id",
        F.col("h").alias("hash52"),
    )


def _histogram_fold(state, batch, batch_id):
    """One fold of the per-group integer-cents histogram: the batch
    reduces map-side to (event_type, bin, cnt) partials, which merge
    into state by summed counts. COUNT semantics cannot be made
    idempotent by dedup, so the fold records the last applied
    ``batch_id`` on every state row (`_b`) and RETURNS STATE UNCHANGED
    when a batch is redelivered — the foreachBatch idempotent-write
    pattern. Pinned in tests/test_r9_operators.py."""
    agg = (
        batch.groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("_b", F.lit(batch_id).cast("long"))
    )
    if state is None:
        return agg
    applied = state.agg(F.max("_b")).collect()[0][0]
    if applied is not None and batch_id <= applied:
        return state
    return (
        state.unionByName(agg)
        .groupBy("event_type", "bin")
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.max("_b").alias("_b"),
        )
    )


@query(
    "stream_histogram_quantile",
    """
    WITH b AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS bin
      FROM events
    ),
    c AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bin,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MIN(CASE WHEN cum * 2 >= n THEN bin END) AS p50_cents,
           MIN(CASE WHEN cum * 100 >= 95 * n THEN bin END) AS p95_cents,
           MIN(CASE WHEN cum * 100 >= 99 * n THEN bin END) AS p99_cents
    FROM cum GROUP BY event_type
    """,
)
def stream_histogram_quantile(spark, sf_dir):
    """Streaming quantile maintenance via a MERGEABLE fixed-grid
    histogram: each epoch folds the batch's (event_type, integer-cents
    bin) partial counts into persisted per-group histogram state —
    counts merge by addition for ANY chunking, so the final p50/p95/
    p99 are a deterministic function of the merged histogram and the
    oracle restates them relationally (type-1 lower quantile: smallest
    bin whose cumulative count reaches ceil(q*n), compared in pure
    integers as 100*cum >= q100*n — no float quantile arithmetic to
    drift cross-engine). This is the fixed-bucket member of the
    mergeable-summary family (`stream_kmv_distinct` bounds distinct
    state; this bounds QUANTILE state by value-domain granularity —
    the DDSketch/fixed-histogram pattern production metric pipelines
    maintain, exact rather than epsilon-approximate on a bounded
    grid). COUNT semantics cannot be dedup-idempotent, so the fold
    skips re-applied batches by recorded batch_id (`_histogram_fold`).

    Per-epoch work: map-side combinable batch groupBy + a state merge
    keyed on (type, bin); state is O(types x observed bins), never
    O(rows). At 100 TB the histogram IS the shuffle payload.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    from pyspark.sql import Window as W

    events = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bin"),
    )
    with fold_replay(spark, events, _histogram_fold) as state:
        state = snapshot_small(state)
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("event_type")
    cum = state.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("bin"))).alias(
            "p50_cents"
        ),
        F.min(
            F.when(F.col("cum") * 100 >= 95 * F.col("n"), F.col("bin"))
        ).alias("p95_cents"),
        F.min(
            F.when(F.col("cum") * 100 >= 99 * F.col("n"), F.col("bin"))
        ).alias("p99_cents"),
    )


@query(
    "stream_topk_per_group",
    """
    WITH ranked AS (
      SELECT event_type, event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS topk_rank
      FROM events
    )
    SELECT event_type, CAST(topk_rank AS BIGINT) AS topk_rank,
           event_id, user_id, value
    FROM ranked WHERE topk_rank <= 4
    """,
)
def stream_topk_per_group(spark, sf_dir):
    """Streaming per-group top-k BY MEASURE: the top 4 events per type
    by (value DESC, event_id) maintained incrementally — each epoch's
    foreachBatch folds the batch into a persisted k-row state per
    type. Same mergeability as `stream_reservoir_sample`'s bottom-k
    (top-k of (top-k(state) UNION batch) = top-k of everything seen,
    for ANY chunking) with a MEASURE ordering instead of a hash rank —
    the streaming twin of the batch `window_topk_per_group` /
    `sample_reservoir_per_group` WindowGroupLimit plan, and the
    leaderboard shape (top sellers, hottest documents) a pipeline
    maintains without re-scanning history. The shared oracle pins the
    final state bit-for-bit to the one-shot batch ROW_NUMBER.

    Per-epoch work: the batch reduces map-side to its own top-k per
    type (WindowGroupLimit); the merge window ranks at most k + k rows
    per type — bounded state, bounded shuffle, at any stream rate.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    from pyspark.sql import Window as W

    events = t(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id", "value"
    )
    with fold_replay(spark, events, _topk_measure_fold) as state:
        state = snapshot_small(state)
    w = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return state.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("topk_rank"),
        "event_id",
        "user_id",
        "value",
    )
