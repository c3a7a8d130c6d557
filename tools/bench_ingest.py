"""Singer-ingest throughput bench: generate an N-record message log,
run the full batch pipeline (parse → control plane → validate →
flatten → typed cast → parquet sink), report records/sec.

    python tools/bench_ingest.py [n_records]     # default 500_000

Architectural comparison to the reference (which cannot run here — it
requires a live S3 endpoint): the reference processes the log on
exactly 2 OS processes with a pickled-tuple queue between them
(`/root/reference/target_s3_parquet/__init__.py:178-182, 324-331`) and
holds each serialized output file wholly in RAM (`__init__.py:272`);
this pipeline parallelizes parse/validate/flatten/write across all
cores with spill, so single-node throughput scales with cores instead
of topping out at the two-process pipeline's slower stage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCHEMA = {
    "type": ["null", "object"],
    "properties": {
        "id": {"type": ["null", "integer"]},
        "status": {"type": ["null", "string"]},
        "amounts": {
            "type": ["null", "object"],
            "properties": {
                "price": {"type": ["null", "number"]},
                "tax_est": {"type": ["null", "number"]},
            },
        },
        "flags": {"type": ["null", "array"]},
    },
}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    from pyspark.sql import functions as F

    from target_s3_parquet_spark.session import get_spark
    from target_s3_parquet_spark.sources.singer import (
        collect_control_plane,
        parse_message_lines,
        records_for_stream,
    )
    from target_s3_parquet_spark.sources.sink import SinkConfig, write_streams

    spark = get_spark("bench_ingest")
    tmp = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        log_dir = os.path.join(tmp, "log")
        os.makedirs(log_dir)
        with open(os.path.join(log_dir, "000_schema.jsonl"), "w") as f:
            f.write(
                json.dumps(
                    {
                        "type": "SCHEMA",
                        "stream": "orders",
                        "schema": SCHEMA,
                        "key_properties": ["id"],
                    }
                )
                + "\n"
            )
            f.write(json.dumps({"type": "STATE", "value": {"pos": n}}) + "\n")
        # N synthetic RECORD lines, generated distributed (not driver-side).
        record = F.struct(
            F.col("id").alias("id"),
            (F.col("id") % 3).cast("string").alias("status"),
            F.struct(
                (F.col("id") * 1.5).alias("price"),
                (F.col("id") * 0.105).alias("tax_est"),
            ).alias("amounts"),
            F.array(F.lit("a"), F.lit("b")).alias("flags"),
        )
        spark.range(n).select(
            F.to_json(
                F.struct(
                    F.lit("RECORD").alias("type"),
                    F.lit("orders").alias("stream"),
                    record.alias("record"),
                )
            ).alias("value")
        ).write.mode("append").text(os.path.join(log_dir, "records"))

        t0 = time.time()
        # Batch file listing is size-ordered, not name-ordered, so the
        # in-band SCHEMA header is prepended explicitly (a tap runner
        # guarantees line order; a file dump must re-establish it).
        header = spark.read.text(os.path.join(log_dir, "000_schema.jsonl"))
        raw = spark.read.text(os.path.join(log_dir, "records"))
        messages = parse_message_lines(header.unionAll(raw))
        plans, state, _ = collect_control_plane(messages)
        streams = {
            s: records_for_stream(messages, p) for s, p in plans.items()
        }
        written = write_streams(
            streams, {}, SinkConfig(path=os.path.join(tmp, "out"), compression="zstd")
        )
        out_rows = sum(spark.read.parquet(w).count() for w in written)
        wall = time.time() - t0
        assert out_rows == n, f"{out_rows} != {n}"
        print(
            json.dumps(
                {
                    "metric": "singer_ingest_throughput",
                    "value": round(n / wall, 1),
                    "unit": "records/sec",
                    "records": n,
                    "wall_sec": round(wall, 2),
                    "final_state": state is not None,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
