"""The traced phase of a ``--trace 1`` run and its per-layer metrics.

The untraced warm passes have already run in this process. The session
is restarted (same JVM) with a Spark event log, one untraced pass warms
the new session, the program's public ingest functions are wrapped in
spans at their module boundary, and traced warm passes run. Afterwards:

- span durations give each layer's time as its caller sees it (planning in
  ``plans.jsonschema``, control-plane collects, sink writes, keys);
- the event log gives Spark jobs, task time, shuffle and spill bytes,
  attributed to the span that submitted each job;
- the lazy ingest stages are timed from outside by materialising them
  to Spark's ``noop`` sink: the parsed log alone, then each stream's
  records, and the difference is the records stage;
- streaming epochs come from the query's ``recentProgress``.

Every per-layer metric is emitted on every workload; a layer the
workload does not reach reports 0.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

import harness
import spans
import workloads

# the operator and function modules the query keys live in
MODULES = [
    "operators.tpch",
    "operators.relational",
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.dedup",
    "operators.similarity",
    "operators.pipeline",
    "functions.text_analysis",
    "functions.udfs",
]
# layer → tag used in the ``spark.<tag>.*`` counter names
SPARK_LAYERS = {
    "sources.singer": "singer",
    "sources.sink": "sink",
    "streaming": "streaming",
    **{m: m for m in MODULES},
}
SPARK_COUNTERS = [("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]

METRICS: list[tuple[str, str]] = [
    ("session.get_spark.s", "s"),
    ("singer.parse.s", "s"),
    ("singer.control_plane.s", "s"),
    ("singer.control_plane.rows", "count"),
    ("singer.records.s", "s"),
    ("singer.records.rows_out", "count"),
    ("singer.log_scan_ratio", "ratio"),
    ("jsonschema.plan.s", "s"),
    ("jsonschema.leaf_columns", "count"),
    ("sink.write.s", "s"),
    ("sink.write_jobs", "count"),
    ("sink.files", "count"),
    ("sink.bytes", "bytes"),
    ("files_out", "count"),
    ("out_bytes_per_in_byte", "ratio"),
    ("streaming.epochs", "count"),
    ("streaming.epoch.s", "s"),
    ("streaming.epoch.s_max", "s"),
    ("streaming.add_batch.s", "s"),
    ("streaming.trigger_overhead.s", "s"),
    *[(f"{m}.s", "s") for m in MODULES],
    *[(f"query.{k}.s", "s") for k in workloads.QUERY_KEYS],
    *[(f"spark.{tag}.{c}", unit) for tag in SPARK_LAYERS.values() for c, unit in SPARK_COUNTERS],
    ("cold_wall_s", "s"),
    ("warm_wall_s", "s"),
    ("records_per_s", "records/s"),
    ("trace.warm_wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("peak_rss_mb", "MB"),
]


@dataclass
class Traced:
    spark: object
    rewarm: harness.Ops
    ops: harness.Ops
    span_file: str


def _wrap_ingest(tracer: spans.Tracer) -> None:
    from target_s3_parquet_spark.sources import singer, sink
    from target_s3_parquet_spark.streaming import singer_stream

    for module, attr, name, layer in [
        (singer, "read_message_log", "singer.read_message_log", "sources.singer"),
        (singer, "collect_control_plane", "singer.control_plane", "sources.singer"),
        (singer, "records_for_stream", "singer.records_for_stream", "sources.singer"),
        (singer, "jsonschema_to_spark", "jsonschema.jsonschema_to_spark", "plans.jsonschema"),
        (singer, "flatten_df", "jsonschema.flatten_df", "plans.jsonschema"),
        (sink, "write_stream_parquet", "sink.write_stream_parquet", "sources.sink"),
        (singer_stream, "plans_from_log_head", "streaming.plans_from_log_head", "streaming"),
        (singer_stream, "parse_message_lines", "singer.parse_message_lines", "sources.singer"),
        (singer_stream, "records_for_stream", "singer.records_for_stream", "sources.singer"),
    ]:
        tracer.wrap(module, attr, name, layer)


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _ingest_stages(spark, wl) -> tuple[float, float]:
    """(parse seconds, records seconds): the parsed log to ``noop``, then
    each stream's validated, flattened records to ``noop`` minus the
    parse they repeat."""
    from target_s3_parquet_spark.sources import singer

    messages = singer.read_message_log(spark, wl.inputs["log"])
    parse = _noop_s(messages)
    plans, _, _ = singer.collect_control_plane(messages)
    records = sum(_noop_s(singer.records_for_stream(messages, p, "strict")) - parse for p in plans.values())
    return parse, records


def traced_phase(wl, spark, work: str, out_dir: str, seconds: float, run_id: str):
    """Restart the session with an event log, run traced warm passes and
    return (per-layer metrics, Traced)."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark.stop()
    spark = harness.start_session(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        }
    )
    # the new session starts new Python workers: one untraced pass first
    rewarm = harness.Ops()
    harness.run_passes(wl, spark, spans.Tracer(run_id, enabled=False), rewarm, 0, 1)
    tracer = spans.Tracer(run_id, enabled=True, spark_context=spark.sparkContext)
    if wl.name == "ingest":
        _wrap_ingest(tracer)
    first = len(wl.pass_stats)
    ops = harness.Ops()
    harness.run_passes(wl, spark, tracer, ops, seconds, 1)
    tracer.enabled = False
    stages = _ingest_stages(spark, wl) if wl.name == "ingest" else (0.0, 0.0)
    spark.stop()  # flushes the event log

    span_file = os.path.join(out_dir, f"spans-{run_id}.jsonl")
    tracer.dump(span_file)
    jobs = spans.read_event_log(log_dir)
    metrics = _metrics(wl, tracer.spans, jobs, wl.pass_stats[first:], ops, stages)
    return metrics, Traced(spark, rewarm, ops, span_file)


def _metrics(wl, span_list, jobs, stats, ops: harness.Ops, stages) -> dict:
    by_id = {s.id: s for s in span_list}
    passes = [s for s in span_list if s.name == "pass"]
    n = len(passes)

    def ancestors(s):
        while s is not None:
            yield s
            s = by_id.get(s.parent)

    def layer_of(s):
        return next((a.layer for a in ancestors(s) if a.layer), None)

    def total(name):
        return sum(s.end - s.start for s in span_list if s.name == name) / n

    owner = spans.attribute(jobs, span_list)
    job_layer = [(j, layer_of(by_id[sid])) for sid, js in owner.items() for j in js]
    under_batch = {
        sid for sid, s in by_id.items() if any(a.name == "ingest.batch" for a in ancestors(s))
    }

    v: dict[str, float] = {name: 0.0 for name, _ in METRICS}
    for layer, tag in SPARK_LAYERS.items():
        mine = [j for j, lay in job_layer if lay == layer]
        v[f"spark.{tag}.jobs"] = len(mine) / n
        v[f"spark.{tag}.task_s"] = sum(j.task_s for j in mine) / n
        v[f"spark.{tag}.shuffle_bytes"] = sum(j.shuffle_bytes for j in mine) / n
        v[f"spark.{tag}.spill_bytes"] = sum(j.spill_bytes for j in mine) / n
    v["trace.warm_wall_s"] = statistics.median(ops.walls())

    if wl.name == "ingest":
        log_bytes = wl.inputs["log_bytes"]
        v["singer.parse.s"], v["singer.records.s"] = stages
        v["singer.control_plane.s"] = total("singer.control_plane")
        v["singer.control_plane.rows"] = len(wl.inputs["rows"]) + wl.inputs["state_messages"]
        v["singer.records.rows_out"] = wl.records
        v["singer.log_scan_ratio"] = (
            sum(j.input_bytes for sid, js in owner.items() if sid in under_batch for j in js)
            / n
            / log_bytes
        )
        v["jsonschema.plan.s"] = sum(
            s.end - s.start
            for s in span_list
            if s.layer == "plans.jsonschema" and by_id.get(s.parent, s).layer != "plans.jsonschema"
        ) / n
        v["jsonschema.leaf_columns"] = sum(len(c) for c in wl.inputs["columns"].values())
        writes = [s.id for s in span_list if s.name == "sink.write_stream_parquet"]
        v["sink.write.s"] = total("sink.write_stream_parquet")
        v["sink.write_jobs"] = sum(len(owner.get(sid, [])) for sid in writes) / n
        v["sink.files"] = statistics.mean(t["files_batch"] for t in stats)
        v["sink.bytes"] = statistics.mean(t["bytes_batch"] for t in stats)
        v["files_out"] = statistics.mean(t["files_batch"] + t["files_stream"] for t in stats)
        v["out_bytes_per_in_byte"] = statistics.mean(
            (t["bytes_batch"] + t["bytes_stream"]) / (2 * log_bytes) for t in stats
        )
        epochs = [e for t in stats for e in t["progress"]]
        v["streaming.epochs"] = len(epochs) / n
        v["streaming.epoch.s"] = statistics.median(e["trigger_ms"] for e in epochs) / 1000
        v["streaming.epoch.s_max"] = max(e["trigger_ms"] for e in epochs) / 1000
        v["streaming.add_batch.s"] = statistics.median(e["add_batch_ms"] for e in epochs) / 1000
        v["streaming.trigger_overhead.s"] = (
            statistics.median(e["trigger_ms"] - e["add_batch_ms"] for e in epochs) / 1000
        )
    else:
        for key in workloads.QUERY_KEYS:
            v[f"query.{key}.s"] = statistics.median(o[1] for o in ops.all() if o[0] == key)
        for s in span_list:
            if s.name.startswith("query."):
                v[f"{s.layer}.s"] += (s.end - s.start) / n
    units = dict(METRICS)
    return {name: {"value": val, "unit": units[name]} for name, val in v.items()}
