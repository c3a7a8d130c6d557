"""The two workloads: one pass of each, its correctness check, and the
registry keys and layers it reaches.

- ``ingest``: a Singer log through the batch target
  (``sink.run_singer_to_parquet``: strict validation, zstd, partition by
  stream) and, split into chunk files, through the streaming job
  (``SingerStreamJob`` drained with ``processAllAvailable``). Reaches
  ``sources.singer``, ``plans.jsonschema``, ``sources.sink`` and
  ``streaming``.
- ``query``: registry keys from every operator and function module the
  LLM-pipeline surface is built from, materialised with ``toPandas``.

An operation is one batch ingest, one stream drain, or one key. Every
operation's output is checked outside its timed region: ingest against
the generator's expectation (rows and a per-column checksum per stream,
read back with DuckDB, and the final STATE), queries against the hash of
the key's DuckDB oracle on the same tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import gen
import harness

# One key per operator and function module, so every layer is timed
# within the run budget: tpch, relational, joins, aggregates and windows
# run in the JVM only; dedup, similarity, pipeline, text_analysis and
# udfs use Python and Arrow workers.
QUERY_KEYS = [
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "join_inner_hash",
    "agg_cube",
    "window_rank",
    "text_near_dedup_minhash_prod",
    "sim_knn_cosine",
    "e2e_corpus_build",
    "er_fellegi_sunter_weights",
    "udf_pandas_scalar",
]


def key_layer(fn) -> str:
    """``target_s3_parquet_spark.operators.tpch`` → ``operators.tpch``."""
    return ".".join(fn.__module__.split(".")[-2:])


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


# --------------------------------------------------------------------------
# ingest


class Ingest:
    name = "ingest"

    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.inputs = gen.write_singer_inputs(
            os.path.join(work, "input"),
            seed,
            size["records"],
            size["streams"],
            size["chunks"],
        )
        self.records = self.inputs["records"]
        self.pass_stats: list[dict] = []  # per pass: files, bytes, epochs
        self.sizes = {
            "records": self.records,
            "streams": size["streams"],
            "chunks": size["chunks"],
            "log_bytes": self.inputs["log_bytes"],
            "rows_per_stream": self.inputs["rows"],
        }
        self._n = 0

    def run_pass(self, spark, tracer, record) -> None:
        """One batch ingest, then one stream drain, one chunk file per
        epoch. ``record(op, seconds, ok)`` receives each operation."""
        from target_s3_parquet_spark.sources.sink import SinkConfig, run_singer_to_parquet
        from target_s3_parquet_spark.streaming.singer_stream import (
            SingerStreamJob,
            latest_state,
            plans_from_log_head,
        )

        self._n += 1
        base = os.path.join(self.work, f"pass-{self._n}")
        out_b = os.path.join(base, "batch")
        cfg = SinkConfig(path=out_b, compression="zstd", partition_by_stream=True)
        with harness.Timer() as t, tracer.span("ingest.batch", "sources.sink"):
            _, state = run_singer_to_parquet(spark, self.inputs["log"], cfg, validate="strict")
        record("batch", t, self.check(out_b, state))

        out_s = os.path.join(base, "stream")
        sdir = os.path.join(base, "state")
        with harness.Timer() as t, tracer.span("ingest.stream", "streaming"):
            plans = plans_from_log_head(spark, self.inputs["chunks"])
            job = SingerStreamJob(
                plans=plans,
                output_path=out_s,
                checkpoint_path=os.path.join(base, "checkpoint"),
                compression="zstd",
                state_dir=sdir,
            )
            q = job.start(spark, self.inputs["chunks"])
            try:
                q.processAllAvailable()
            finally:
                progress = list(q.recentProgress)
                q.stop()
        state_s = latest_state(sdir)
        ok = not job.observed_schema_changes and self.check(out_s, state_s)
        record("stream", t, ok)
        files_b, bytes_b = _files(out_b)
        files_s, bytes_s = _files(out_s)
        self.pass_stats.append(
            {
                "files_batch": files_b,
                "bytes_batch": bytes_b,
                "files_stream": files_s,
                "bytes_stream": bytes_s,
                "progress": [
                    {
                        "trigger_ms": p.durationMs.get("triggerExecution", 0),
                        "add_batch_ms": p.durationMs.get("addBatch", 0),
                        "rows": p.numInputRows,
                    }
                    for p in progress
                    if p.numInputRows
                ],
            }
        )
        shutil.rmtree(base, ignore_errors=True)

    def check(self, out: str, state) -> bool:
        """Rows and per-column checksums of every stream, and the final
        STATE, against the generator's expectation."""
        import duckdb

        if state is None or json.loads(state) != self.inputs["state"]:
            return False
        con = duckdb.connect()
        try:
            for stream, kinds in self.inputs["columns"].items():
                glob_ = os.path.join(out, f"stream={stream}", "*.parquet")
                got = con.sql(gen.checksum_sql(glob_, kinds)).fetchone()
                want = [self.inputs["rows"][stream]]
                for key in kinds:
                    want.extend(self.inputs["checksums"][stream][key])
                if [int(x) for x in got] != want:
                    return False
        except duckdb.Error:
            return False
        finally:
            con.close()
        return True


# --------------------------------------------------------------------------
# query


def _canon(pdf):
    """Columns sorted by name, rows stable-sorted by every column."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _cell(v) -> str:
    """One token for None/NaN/NaT (not equal to themselves), else str()."""
    try:
        if v is None or v != v:
            return "∅"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_hash(pdf) -> str:
    """Order-independent value hash of a result (row count, column names
    and cells)."""
    pdf = _canon(pdf)
    h = hashlib.sha256(repr((len(pdf), list(pdf.columns))).encode())
    for row in pdf.itertuples(index=False, name=None):
        h.update("\x1f".join(_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Query:
    name = "query"

    def __init__(self, work: str, seed: int, size: dict):
        self.tables = os.path.join(work, "tables")
        self.rows = gen.write_tables(self.tables, seed, size["scale"])
        self.records = sum(self.rows.values())
        self.sizes = {"scale": size["scale"], "keys": len(QUERY_KEYS), "table_rows": self.rows}
        self.expected = self._oracle_hashes()
        self.pass_stats: list[dict] = []

    def _oracle_hashes(self) -> dict[str, str]:
        """DuckDB oracle hash per key, computed before the session starts."""
        import duckdb

        from target_s3_parquet_spark.registry import get_oracles

        oracles = get_oracles()
        expected = {}
        con = duckdb.connect()
        try:
            con.sql("SET threads = 1")
            for t in self.rows:
                p = os.path.join(self.tables, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for key in QUERY_KEYS:
                expected[key] = frame_hash(con.sql(oracles[key]).df())
        finally:
            con.close()
        return expected

    def run_pass(self, spark, tracer, record) -> None:
        from target_s3_parquet_spark.operators._util import release_rank_caches
        from target_s3_parquet_spark.registry import get_queries

        queries = get_queries()
        for key in QUERY_KEYS:
            fn = queries[key]
            with harness.Timer() as t, tracer.span(f"query.{key}", key_layer(fn)):
                pdf = fn(spark, self.tables).toPandas()
            spark.catalog.clearCache()
            release_rank_caches()
            record(key, t, frame_hash(pdf) == self.expected[key])


WORKLOADS = {"ingest": Ingest, "query": Query}
