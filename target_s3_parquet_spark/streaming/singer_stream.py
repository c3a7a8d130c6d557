"""The reference pipeline restated as Structured Streaming (SURVEY §2B
``stream_singer_ingest``): ``readStream`` over a growing Singer message
log → per-batch parse/validate/flatten → per-stream Parquet fan-out via
``foreachBatch`` — the true replacement for the reference's
producer/consumer processes + final-state-on-stdout (R13/R14):

- checkpointLocation makes the job resumable (the reference loses its
  place on crash and re-uploads — at-least-once with no recovery log).
- STATE bookmarks are recorded per epoch AFTER the epoch's writes
  commit, so a restart resumes from the last durable bookmark.
- Each epoch writes every known stream through the batch target's
  writer (``sink.write_streams``). Its lines are ordered by file name,
  then position, so its bookmark is its last-named file's last STATE.
- An epoch with a corrupt line, or a RECORD of a stream neither planned
  nor given a SCHEMA earlier in the epoch, fails the query before any
  write or STATE, as the batch target fails the run.

Schema handling: SCHEMA messages must be known before the stream
starts (they define the output StructTypes); a mid-run SCHEMA change
lands in ``observed_schema_changes`` for the operator to restart with — the
explicit policy SURVEY §7 'hard parts #4' calls for.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from target_s3_parquet_spark.sources.singer import (
    StreamPlan,
    activations_from,
    check_control_plane,
    control_plane_rows,
    final_state,
    parse_message_lines,
    records_for_stream,
)
from target_s3_parquet_spark.sources.sink import SinkConfig, write_streams


@dataclass
class SingerStreamJob:
    """One resumable streaming ingest job."""

    plans: dict[str, StreamPlan]
    output_path: str
    checkpoint_path: str
    compression: str = "snappy"
    state_dir: str | None = None
    compat: bool = False
    validate: str = "strict"
    # L5: apply ACTIVATE_VERSION swaps per micro-batch (an epoch whose
    # log slice carries an activation replaces that stream's partition
    # with the activated version's rows via dynamic partition
    # overwrite). Constraint of the micro-batch restatement: the swap
    # covers the version's rows in the SAME epoch as the activation
    # (the shape a full-table sync emits — records then activation in
    # one sync); an activation whose version's rows all landed in
    # prior epochs is a no-op here (dynamic overwrite touches only
    # partitions present in the written data) — replay such logs
    # through the batch path (`sink.run_singer_to_parquet`), which
    # sees the whole log at once.
    activate_version: bool = False
    observed_schema_changes: list[str] = field(default_factory=list)

    def _process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        messages = parse_message_lines(batch)
        messages.cache()
        try:
            # control plane: ONE collect per epoch serves the checks (run
            # before any write), activations, final STATE, schema changes
            control = control_plane_rows(messages)
            check_control_plane(control, declared=self.plans)
            frames = {
                stream: records_for_stream(
                    messages,
                    plan,
                    validate=self.validate,
                    compat=self.compat,
                    with_version=self.activate_version,
                )
                for stream, plan in self.plans.items()
            }
            cfg = SinkConfig(
                self.output_path, self.compression, activate_version=self.activate_version
            )
            write_streams(frames, activations_from(control), cfg)
            # record the epoch's final STATE *after* the writes above
            # committed (R13 ordering)
            state_val = final_state(control)
            if state_val is not None and self.state_dir:
                os.makedirs(self.state_dir, exist_ok=True)
                with open(
                    os.path.join(self.state_dir, f"state-{epoch_id:010d}.json"), "w"
                ) as f:
                    f.write(state_val)
            # schema evolution: surface SCHEMA messages for unknown
            # streams AND mid-run re-SCHEMAs of known streams whose
            # payload differs from the plan in force — the latter is the
            # actual evolution case (new columns would otherwise keep
            # parsing under the stale plan and be silently dropped).
            for r in control:
                if r["type"] != "SCHEMA" or r["stream"] is None:
                    continue
                plan = self.plans.get(r["stream"])
                if plan is None or json.loads(r["schema_json"] or "{}") != plan.json_schema:
                    self.observed_schema_changes.append(r["stream"])
        finally:
            messages.unpersist()

    def start(self, spark: SparkSession, log_dir: str, max_files_per_trigger: int = 1):
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(log_dir)
        )
        return (
            raw.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .start()
        )


def latest_state(state_dir: str) -> str | None:
    """The most recent durable bookmark (what a restart resumes from)."""
    if not os.path.isdir(state_dir):
        return None
    names = sorted(n for n in os.listdir(state_dir) if n.startswith("state-"))
    if not names:
        return None
    with open(os.path.join(state_dir, names[-1])) as f:
        return f.read()


def plans_from_log_head(spark: SparkSession, log_dir: str) -> dict[str, StreamPlan]:
    """Bootstrap the control plane from the log files present at start
    (batch read of SCHEMA messages only)."""
    from target_s3_parquet_spark.sources.singer import collect_control_plane

    messages = parse_message_lines(spark.read.text(os.path.join(log_dir, "*")))
    plans, _, _ = collect_control_plane(messages)
    return plans
