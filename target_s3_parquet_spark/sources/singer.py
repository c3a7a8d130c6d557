"""Singer message-log ingestion — the reference's entire active pipeline
(SURVEY §2A R1-R13) restated as one declarative Spark job.

Reference lifecycle (``target_s3_parquet/__init__.py:212-331``):
stdin text → ``singer.parse_message`` → dispatch RECORD/SCHEMA/STATE →
Draft4 validate → flatten → per-stream buffer → Arrow pivot → Parquet →
S3 upload, with a 2-process queue in the middle.

Spark restatement: the message log is a text source (batch here;
``streaming.singer_stream`` is the readStream twin). SCHEMA and STATE
messages are *control plane* — tiny, driver-side; RECORD messages are
*data plane* — parsed, validated, flattened and written entirely on
executors. The per-contiguous-run buffering (R8) becomes
``partitionBy(stream)``: order-independent, no small-file explosion on
interleaved streams.

Each line is parsed exactly once: one ``from_json`` yields the envelope,
the raw JSON text of the record/schema/state payloads and the
corrupt-line flag. One ``(type, stream)`` aggregate over the parsed log
is the whole control plane (plans, final STATE, activations, the
record-before-schema guard), shared by the batch and streaming paths.

Validation (R4): the baked-in image has no ``jsonschema`` package, so
the Draft4 subset that matters for tabular data (type, required,
nullability, maxLength, min/max) is compiled to native ``when``-checks
over ONE map parse of each record (key presence for ``required``, the
raw text of each property for the rest) — vectorized, codegen'd, and
linear in the number of checks; rows failing in strict mode raise
(like the reference), in permissive mode they're quarantined to an
error column.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from target_s3_parquet_spark.plans.jsonschema import (
    flatten_df,
    jsonschema_to_spark,
)

# Envelope columns common to all Singer message types
# (reference __init__.py:215-251; spec: singer-spec SCHEMA/RECORD/STATE).
ENVELOPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("stream", T.StringType()),
        T.StructField("record", T.StringType()),  # kept as raw JSON text
        T.StructField("schema", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("key_properties", T.ArrayType(T.StringType())),
        T.StructField("time_extracted", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)
# the line parse: the envelope plus Spark's corrupt-record column, set
# whenever the line is not a JSON object or a field has the wrong type
_LINE = T.StructType([*ENVELOPE.fields, T.StructField("_corrupt_record", T.StringType())])
_RECORD_MAP = T.MapType(T.StringType(), T.StringType())


class SingerError(ValueError):
    """Pipeline-fatal condition (invalid JSON, record-before-schema,
    validation failure in strict mode) — mirrors the reference's
    fail-fast behavior (__init__.py:220, 224-229, 231)."""


@dataclass
class StreamPlan:
    """Control-plane state for one stream: JSON schema, key properties."""

    stream: str
    json_schema: dict[str, Any]
    key_properties: list[str] = field(default_factory=list)


def read_message_log(spark: SparkSession, path: str) -> DataFrame:
    """R1+R2: read line-delimited Singer messages as a DataFrame with the
    envelope parsed. Malformed lines are surfaced as ``_corrupt`` (see
    ``parse_message_lines``) for the caller to raise on — same
    hard-error contract as ``singer.parse_message`` raising."""
    raw = spark.read.text(path)
    return parse_message_lines(raw)


def parse_message_lines(raw: DataFrame, line_col: str = "value") -> DataFrame:
    """R2+R3 prep: parse each text line into the envelope with ONE
    ``from_json``. ``record``, ``schema`` and ``value`` are STRING in
    the envelope, so the parse itself returns their raw JSON text
    (schema applied later, per-stream).

    A non-blank line is ``_corrupt`` when the parse sets the corrupt-
    record column (not a JSON object, or an envelope field of the wrong
    type such as a non-integer ``version``) or the object carries no
    envelope ``type`` (a bare number or string is valid JSON yet not a
    Singer message — the reference's ``singer.parse_message`` raises on
    any such line, so silently dropping it would diverge). Repeated
    keys are not corrupt: like ``json.loads``, the last one wins.
    ``_file`` (source file, '' for none) is taken here, before caching."""
    line = F.col(line_col)
    m = F.from_json(
        line,
        _LINE,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return raw.select(line.alias("_raw"), m.alias("m")).select(
        "_raw",
        F.input_file_name().alias("_file"),
        "m.type",
        "m.stream",
        F.col("m.record").alias("record_json"),
        F.col("m.schema").alias("schema_json"),
        F.col("m.value").alias("state_json"),
        "m.key_properties",
        "m.time_extracted",
        "m.version",
        (
            (F.length(F.trim("_raw")) > 0)
            & (F.col("m._corrupt_record").isNotNull() | F.col("m.type").isNull())
        ).alias("_corrupt"),
    )


def control_plane_rows(messages: DataFrame) -> list[dict]:
    """The one control-plane aggregate: a row per (type, stream) with its
    first/last line, the last schema/state/key_properties/version and
    whether any of its lines is corrupt; every control-plane reader
    (plans, final STATE, activations, streaming schema changes) derives
    from these O(types x streams x files) rows. A line's position is
    (file name, row id): row ids follow Spark's packing of files into
    partitions, largest first, so Spark aggregates per file and the
    driver merges the files in name order."""
    per_file = (
        messages.withColumn("_line", F.monotonically_increasing_id())
        .groupBy("type", "stream", "_file")
        .agg(
            F.min("_line").alias("first_line"),
            F.max("_line").alias("last_line"),
            F.max_by("schema_json", "_line").alias("schema_json"),
            F.max_by("state_json", "_line").alias("state_json"),
            F.max_by("key_properties", "_line").alias("key_properties"),
            F.max_by("version", "_line").alias("version"),
            F.max(F.col("_corrupt").cast("int")).alias("corrupt"),
        )
        .collect()
    )
    rows: dict[tuple, dict] = {}
    for r in sorted(per_file, key=lambda r: r["_file"]):
        prev = rows.get((r["type"], r["stream"]))
        rows[r["type"], r["stream"]] = {
            **r.asDict(),
            "first_line": prev["first_line"] if prev else (r["_file"], r["first_line"]),
            "last_line": (r["_file"], r["last_line"]),
            "corrupt": max(r["corrupt"], prev["corrupt"] if prev else 0),
        }
    return list(rows.values())


def final_state(rows: list[dict]) -> str | None:
    """R13: the value of the log's last STATE message."""
    states = [r for r in rows if r["type"] == "STATE"]
    return max(states, key=lambda r: r["last_line"])["state_json"] if states else None


def activations_from(rows: list[dict]) -> dict[str, int]:
    """L5: the last ACTIVATE_VERSION's version per stream."""
    return {
        r["stream"]: int(r["version"])
        for r in rows
        if r["type"] == "ACTIVATE_VERSION"
        and r["stream"] is not None
        and r["version"] is not None
    }


def check_control_plane(rows: list[dict], declared=()) -> None:
    """Fail fast like the reference's consumer: raise on a corrupt line
    (R2) or on a RECORD whose stream has no earlier SCHEMA (R5); streams
    in ``declared`` (a streaming job's plans) count as having one."""
    if any(r["corrupt"] for r in rows):
        raise SingerError("invalid JSON in message log")
    schema_at = {r["stream"]: r["first_line"] for r in rows if r["type"] == "SCHEMA"}
    for r in rows:
        s = r["stream"]
        if r["type"] == "RECORD" and s and s not in declared:
            if s not in schema_at or r["first_line"] < schema_at[s]:
                raise SingerError(
                    f"A record for stream {s} was encountered before a corresponding schema"
                )


def collect_control_plane(messages: DataFrame) -> tuple[dict[str, StreamPlan], str | None, list[dict]]:
    """Driver-side control plane from the one ``(type, stream)``
    aggregate: build per-stream plans and find the final STATE value
    (R13: only the last one matters).

    Returns (plans, last_state_json, control-plane rows), after
    ``check_control_plane`` passes the rows.

    Schema-evolution policy (SURVEY hard part #4): the reference
    validates each record under the schema in force at its log
    position (`__init__.py:241` rebuilds the validator in-line); this
    batch restatement applies the LAST schema to the whole run — a
    deliberate deviation, since a single DataFrame has one schema.
    Runs that change schemas mid-log should be split at the SCHEMA
    boundary (the streaming path surfaces exactly this via
    ``SingerStreamJob.observed_schema_changes`` and restarts).
    """
    rows = control_plane_rows(messages)
    check_control_plane(rows)
    # later SCHEMAs replace earlier ones (reference __init__.py:241)
    plans = {
        r["stream"]: StreamPlan(
            stream=r["stream"],
            json_schema=json.loads(r["schema_json"] or "{}"),
            key_properties=list(r["key_properties"] or []),
        )
        for r in rows
        if r["type"] == "SCHEMA" and r["stream"]
    }
    return plans, final_state(rows), rows


def _compile_validators(
    plan: StreamPlan, m: Column, keys: Column, vals: Column
) -> list[tuple[str, Column]]:
    """R4 as native checks: compile the Draft4 subset into Columns that
    are true when the record VIOLATES the constraint, all reading ONE
    ``MAP<STRING,STRING>`` parse of the record (``m``; ``keys`` and
    ``vals`` are its keys and values in reverse order): key presence
    for ``required``, each property's raw JSON text for the rest. Map
    keys are matched verbatim, so a property named ``a.b`` is that key,
    not a path. Numbers are read with ``try_cast`` so a malformed value
    is a violation, not a cast error, in either SQL mode."""
    checks: list[tuple[str, Column]] = []
    props = plan.json_schema.get("properties") or {}
    required = plan.json_schema.get("required") or []
    for name in required:
        # Draft4 'required' asserts key PRESENCE — an explicit JSON null
        # satisfies it when the type allows null; a record that isn't a
        # JSON object at all (NULL map) also violates.
        checks.append(
            (
                f"required:{name}",
                ~F.coalesce(F.map_contains_key(m, F.lit(name)), F.lit(False)),
            )
        )
    for name, prop in props.items():
        # like json.loads, the LAST of repeated keys wins (element_at
        # would return the first), hence the lookup from the end
        i = F.array_position(keys, F.lit(name)).cast("int")
        raw = F.when(i > 0, F.element_at(vals, i))
        jt = prop.get("type")
        types = [jt] if isinstance(jt, str) else list(jt or [])
        if "integer" in types:
            checks.append(
                (
                    f"type:{name}:integer",
                    raw.isNotNull() & raw.try_cast("long").isNull(),
                )
            )
            if prop.get("maximum") is not None:
                checks.append(
                    (
                        f"max:{name}",
                        raw.try_cast("long") > F.lit(int(prop["maximum"])),
                    )
                )
            if prop.get("minimum") is not None:
                checks.append(
                    (
                        f"min:{name}",
                        raw.try_cast("long") < F.lit(int(prop["minimum"])),
                    )
                )
        elif "number" in types:
            checks.append(
                (
                    f"type:{name}:number",
                    raw.isNotNull() & raw.try_cast("double").isNull(),
                )
            )
        if "string" in types and prop.get("maxLength") is not None:
            checks.append(
                (
                    f"maxLength:{name}",
                    F.length(raw) > int(prop["maxLength"]),
                )
            )
    return checks


def records_for_stream(
    messages: DataFrame,
    plan: StreamPlan,
    validate: str = "strict",
    add_metadata: bool = False,
    compat: bool = False,
    with_version: bool = False,
) -> DataFrame:
    """R3+R4+R6+R10 for one stream: filter its RECORDs, apply the typed
    schema, validate, flatten. Pure narrow transformations — no shuffle.

    validate: 'strict' → any violation poisons the run via raise_error
    (reference fail-fast); 'permissive' → adds ``_validation_error``;
    'none' → skip.

    with_version: carry the RECORD envelope's ``version`` through as
    ``_sdc_table_version`` (L5 ACTIVATE_VERSION support — pipelinewise
    full-table syncs stamp every record with the sync's version).
    """
    struct = jsonschema_to_spark(plan.json_schema, compat=compat)
    recs = messages.filter(
        (F.col("type") == "RECORD") & (F.col("stream") == plan.stream)
    )
    rec = F.col("record_json")

    checks = []
    if validate != "none":
        # the map parse and its reversed keys/values are projected ONCE
        # ahead of the checks; inline, Spark would evaluate them again in
        # every check
        recs = recs.withColumn("_m", F.from_json(rec, _RECORD_MAP)).withColumns(
            {"_k": F.reverse(F.map_keys("_m")), "_v": F.reverse(F.map_values("_m"))}
        )
        checks = _compile_validators(plan, F.col("_m"), F.col("_k"), F.col("_v"))
    # the first failing check's label: one flat coalesce, linear in the
    # number of checks
    err = (
        F.coalesce(*[F.when(bad, F.lit(label)) for label, bad in checks])
        if checks
        else F.lit(None).cast("string")
    )
    version_cols = (
        [F.col("version").cast("long").alias("_sdc_table_version")]
        if with_version
        else []
    )
    typed = recs.select(
        F.from_json(rec, struct).alias("r"),
        err.alias("_validation_error"),
        F.col("time_extracted"),
        *version_cols,
    )
    if validate == "strict":
        typed = typed.withColumn(
            "r",
            F.when(
                F.col("_validation_error").isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"validation failed for stream {plan.stream}: "),
                        F.col("_validation_error"),
                    )
                ).cast(struct),
            ).otherwise(F.col("r")),
        )

    carry = ["_validation_error", "time_extracted"] + (
        ["_sdc_table_version"] if with_version else []
    )
    flat = typed.select("r.*", *carry)
    flat = flatten_df(flat, compat=compat)

    if add_metadata:
        # L1 metadata columns (reference README.md:86, legacy
        # __init__.py:85-88).
        flat = (
            flat.withColumn(
                "_sdc_extracted_at", F.col("time_extracted").cast("timestamp")
            )
            .withColumn("_sdc_batched_at", F.current_timestamp())
            .withColumn(
                "_sdc_deleted_at",
                F.col("_sdc_deleted_at")
                if "_sdc_deleted_at" in flat.columns
                else F.lit(None).cast("string"),
            )
        )
    if validate != "permissive":
        flat = flat.drop("_validation_error")
    return flat.drop("time_extracted")


def ingest(
    spark: SparkSession,
    path: str,
    validate: str = "strict",
    add_metadata: bool = False,
    compat: bool = False,
) -> tuple[dict[str, DataFrame], str | None]:
    """Full batch ingestion: message log → {stream: flattened typed DF},
    plus the final STATE (to emit AFTER sinks commit — R13 at-least-once
    ordering)."""
    messages = read_message_log(spark, path)
    plans, state, _ = collect_control_plane(messages)
    out = {
        s: records_for_stream(messages, p, validate, add_metadata, compat)
        for s, p in plans.items()
    }
    return out, state
