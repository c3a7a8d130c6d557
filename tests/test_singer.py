"""Conformance tests for the Singer ingest pipeline (SURVEY §5 item 1):
assertions are on OUTPUTS — flattened rows, written parquet content,
applied compression — closing the reference's `assertTrue(True)` TODO
(reference tests/integration/test_target_s3_parquet.py:24-39).
"""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from tests import singer_fixtures as fx


@pytest.fixture()
def log3(tmp_path):
    return fx.write_log(str(tmp_path), fx.three_stream_log())


def _ingest(spark, path, **kw):
    from target_s3_parquet_spark.sources.singer import ingest

    return ingest(spark, path, **kw)


def test_three_streams_rows_and_schema(spark, log3):
    streams, state = _ingest(spark, log3)
    assert set(streams) == {"app-users", "app-clicks", "app-sessions"}

    users = streams["app-users"].orderBy("id").collect()
    assert [r["id"] for r in users] == [1, 2, 3]
    assert [r["name"] for r in users] == ["ada", "bo", "cy"]
    assert users[1]["score"] is None  # missing field → null, not dropped

    # int32 bounds in schema → IntegerType (SURVEY §1.3)
    users_schema = dict(streams["app-users"].dtypes)
    assert users_schema["id"] == "int"
    assert users_schema["score"] == "double"


def test_nested_flatten_and_types(spark, log3):
    streams, _ = _ingest(spark, log3)
    clicks = streams["app-clicks"]
    # nested object → parent__child (2 levels deep), array preserved
    assert set(clicks.columns) == {
        "id", "at", "meta__page", "meta__depth",
        "meta__geo__lat", "meta__geo__lon", "tags",
    }
    rows = {r["id"]: r for r in clicks.collect()}
    assert rows[10]["meta__geo__lat"] == 1.5
    assert rows[10]["tags"] == ["a", "b"]
    assert rows[11]["meta__depth"] is None
    # lossless mode: date-time string → TimestampType
    assert dict(clicks.dtypes)["at"] == "timestamp"


def test_compat_mode_stringifies_arrays(spark, log3):
    streams, _ = _ingest(spark, log3, compat=True)
    clicks = {r["id"]: r for r in streams["app-clicks"].collect()}
    # reference utils.py:61 applies str() to list values
    assert clicks[10]["tags"] == "['a', 'b']"
    assert clicks[11]["tags"] is None
    assert dict(streams["app-clicks"].dtypes)["at"] == "string"


def test_state_is_last_one(spark, log3):
    _, state = _ingest(spark, log3)
    assert json.loads(state) == {
        "bookmarks": {"app-users": {"id": 3}, "app-clicks": {"id": 11}}
    }


def test_invalid_json_raises(spark, tmp_path):
    from target_s3_parquet_spark.sources.singer import SingerError

    p = fx.write_log(str(tmp_path), fx.invalid_json_log())
    with pytest.raises(SingerError, match="invalid JSON"):
        _ingest(spark, p)


def test_record_before_schema_raises(spark, tmp_path):
    from target_s3_parquet_spark.sources.singer import SingerError

    p = fx.write_log(str(tmp_path), fx.record_before_schema_log())
    with pytest.raises(SingerError, match="before a corresponding schema"):
        _ingest(spark, p)


def test_validation_strict_raises(spark, tmp_path):
    p = fx.write_log(str(tmp_path), fx.validation_failure_log())
    streams, _ = _ingest(spark, p, validate="strict")
    with pytest.raises(Exception, match="validation failed"):
        streams["app-users"].collect()


def test_validation_permissive_quarantines(spark, tmp_path):
    p = fx.write_log(str(tmp_path), fx.validation_failure_log())
    streams, _ = _ingest(spark, p, validate="permissive")
    rows = streams["app-users"].collect()
    assert len(rows) == 1
    assert rows[0]["_validation_error"] == "maxLength:name"


def test_sink_applies_compression_and_partitions(spark, log3, tmp_path):
    from target_s3_parquet_spark.sources.sink import SinkConfig, run_singer_to_parquet

    out = str(tmp_path / "out")
    written, state = run_singer_to_parquet(
        spark, log3, SinkConfig(path=out, compression="gzip", max_records_per_file=1)
    )
    assert state is not None
    # R8: one dir per stream, hash-partitioned not run-contiguous
    dirs = sorted(os.path.basename(d) for d in glob.glob(f"{out}/stream=*"))
    assert dirs == ["stream=app-clicks", "stream=app-sessions", "stream=app-users"]
    files = glob.glob(f"{out}/stream=app-users/*.parquet")
    # R9: maxRecordsPerFile=1 → 3 users → ≥3 files
    assert len(files) >= 3
    # R12: codec ACTUALLY applied (the reference's dropped-codec bug)
    meta = pq.ParquetFile(files[0]).metadata
    assert meta.row_group(0).column(0).compression == "GZIP"
    # round trip: all rows back
    back = spark.read.parquet(out)
    assert back.filter("stream = 'app-users'").count() == 3


def test_metadata_columns(spark, log3):
    streams, _ = _ingest(spark, log3, add_metadata=True)
    cols = streams["app-users"].columns
    assert "_sdc_extracted_at" in cols and "_sdc_batched_at" in cols

def test_schema_replacement_last_wins(spark, tmp_path):
    lines = [
        fx._msg(type="SCHEMA", stream="s", schema={"properties": {"a": {"type": ["null", "integer"]}}}, key_properties=[]),
        fx._msg(type="RECORD", stream="s", record={"a": 1}),
        fx._msg(type="SCHEMA", stream="s", schema={"properties": {"a": {"type": ["null", "integer"]}, "b": {"type": ["null", "string"]}}}, key_properties=[]),
        fx._msg(type="RECORD", stream="s", record={"a": 2, "b": "x"}),
    ]
    p = fx.write_log(str(tmp_path), lines)
    streams, _ = _ingest(spark, p)
    # later SCHEMA replaces earlier (reference __init__.py:241): full
    # column set present, early records get nulls for new columns
    rows = {r["a"]: r for r in streams["s"].collect()}
    assert rows[1]["b"] is None and rows[2]["b"] == "x"


def test_activate_version_swaps_table(spark, tmp_path):
    """L5 upgrade path (reference logs-and-drops ACTIVATE_VERSION,
    __init__.py:144-145): a v2 full re-sync + ACTIVATE_VERSION must
    atomically replace the stream's rows via dynamic partition
    overwrite, leaving other streams untouched."""
    from target_s3_parquet_spark.sources.sink import SinkConfig, run_singer_to_parquet

    run1, run2 = fx.activate_version_logs()
    out = str(tmp_path / "out")
    cfg = SinkConfig(path=out, activate_version=True)

    run_singer_to_parquet(spark, fx.write_log(str(tmp_path), run1, "r1.jsonl"), cfg)
    users = spark.read.parquet(out).filter("stream = 'app-users'")
    assert sorted(r["id"] for r in users.select("id").collect()) == [1, 2, 3]
    assert users.select("_sdc_table_version").distinct().collect()[0][0] == 1

    run_singer_to_parquet(spark, fx.write_log(str(tmp_path), run2, "r2.jsonl"), cfg)
    back = spark.read.parquet(out)
    users2 = back.filter("stream = 'app-users'")
    # the swap: v1's rows (1,2,3) are superseded by v2's full table (2,4)
    assert sorted(r["id"] for r in users2.select("id").collect()) == [2, 4]
    assert users2.select("_sdc_table_version").distinct().collect()[0][0] == 2
    # the untouched stream survives the other stream's overwrite
    assert back.filter("stream = 'app-sessions'").count() == 1


def test_activate_version_requires_stream_partitioning(spark, tmp_path):
    from target_s3_parquet_spark.sources.sink import SinkConfig, activate_version_swap

    df = spark.range(1).select(
        F.col("id"), F.lit(1).alias("_sdc_table_version")
    )
    cfg = SinkConfig(path=str(tmp_path / "x"), partition_by_stream=False,
                     activate_version=True)
    with pytest.raises(ValueError):
        activate_version_swap(spark, df, "s", 1, cfg)


def test_required_accepts_explicit_null_rejects_absence(spark, tmp_path):
    """Draft4 'required' asserts key PRESENCE: {"id": null} with type
    ["null","integer"] is VALID (ADVICE r1: the get_json_object check
    conflated missing and null and poisoned the run); a record missing
    the key entirely still fails strict validation."""
    schema = {
        "type": ["null", "object"],
        "properties": {
            "id": {"type": ["null", "integer"]},
            "name": {"type": ["null", "string"]},
        },
        "required": ["id"],
    }
    ok = [
        fx._msg(type="SCHEMA", stream="s", schema=schema, key_properties=[]),
        fx._msg(type="RECORD", stream="s", record={"id": None, "name": "x"}),
        fx._msg(type="RECORD", stream="s", record={"id": 1}),
    ]
    streams, _ = _ingest(spark, fx.write_log(str(tmp_path), ok, "ok.jsonl"))
    rows = streams["s"].collect()  # strict mode: must NOT raise
    assert sorted((r["id"] is None, r["name"]) for r in rows) == [
        (False, None), (True, "x"),
    ]

    bad = [
        fx._msg(type="SCHEMA", stream="s", schema=schema, key_properties=[]),
        fx._msg(type="RECORD", stream="s", record={"name": "no-id"}),
    ]
    streams, _ = _ingest(spark, fx.write_log(str(tmp_path), bad, "bad.jsonl"))
    import pytest as _pytest
    from pyspark.errors import PySparkRuntimeError
    from py4j.protocol import Py4JJavaError

    with _pytest.raises((PySparkRuntimeError, Py4JJavaError, Exception)):
        streams["s"].collect()


def test_non_message_json_line_is_corrupt(spark, tmp_path):
    """A bare number/string is valid JSON but not a Singer message —
    the reference's parse_message raises; silently dropping it would
    diverge (ADVICE r1)."""
    from target_s3_parquet_spark.sources.singer import SingerError

    lines = fx.three_stream_log()[:4] + ["42"]
    import pytest as _pytest

    with _pytest.raises(SingerError):
        _ingest(spark, fx.write_log(str(tmp_path), lines))


def _raw_log(tmp_path, name, schema, records):
    """A log whose RECORD lines are written verbatim (json.dumps cannot
    emit repeated keys)."""
    lines = [fx._msg(type="SCHEMA", stream="s", schema=schema, key_properties=[])]
    lines += ['{"type": "RECORD", "stream": "s", "record": %s}' % r for r in records]
    return fx.write_log(str(tmp_path), lines, name)


def test_dotted_property_name_is_a_key_not_a_path(spark, tmp_path):
    """A property named ``a.b`` is the record key "a.b"; a JSON-path
    lookup would read the nested path a -> b, miss, and let a bad value
    through."""
    schema = {"type": "object", "properties": {"a.b": {"type": "integer"}}}
    p = _raw_log(tmp_path, "dotted.jsonl", schema, ['{"a.b": "x"}'])
    streams, _ = _ingest(spark, p, validate="strict")
    with pytest.raises(Exception, match="validation failed"):
        streams["s"].collect()
    streams, _ = _ingest(spark, p, validate="permissive")
    assert [r["_validation_error"] for r in streams["s"].collect()] == [
        "type:a.b:integer"
    ]


def test_repeated_key_is_validated_on_its_last_value(spark, tmp_path):
    """Like the reference's json.loads, the last of repeated keys wins,
    in validation as in the typed record."""
    schema = {
        "type": "object",
        "properties": {"id": {"type": ["null", "integer"]}},
        "required": ["id"],
    }
    ok = _raw_log(tmp_path, "ok.jsonl", schema, ['{"id": "x", "id": 1}'])
    streams, _ = _ingest(spark, ok, validate="strict")
    assert [r["id"] for r in streams["s"].collect()] == [1]

    bad = _raw_log(tmp_path, "bad.jsonl", schema, ['{"id": 2, "id": "x"}'])
    streams, _ = _ingest(spark, bad, validate="permissive")
    assert [r["_validation_error"] for r in streams["s"].collect()] == [
        "type:id:integer"
    ]


def test_validation_plan_grows_linearly_with_checks(spark):
    """The violation label is one flat expression over the checks: twice
    the constrained properties must not mean more than ~twice the plan
    (a when-chain nesting the previous label doubles with each check)."""
    from target_s3_parquet_spark.sources.singer import (
        StreamPlan,
        parse_message_lines,
        records_for_stream,
    )

    messages = parse_message_lines(spark.createDataFrame([], "value string"))

    def plan_size(n):
        schema = {
            "type": "object",
            "properties": {
                f"p{i}": {"type": ["null", "string"], "maxLength": 8}
                for i in range(n)
            },
        }
        df = records_for_stream(messages, StreamPlan("s", schema), "permissive")
        return len(df._jdf.queryExecution().analyzed().toString())

    assert plan_size(12) < 3 * plan_size(6)


def test_truncated_line_is_corrupt(spark, tmp_path):
    """A line cut off mid-write still yields its leading envelope fields
    from a lenient parse; it must fail the run all the same."""
    from target_s3_parquet_spark.sources.singer import SingerError

    lines = fx.three_stream_log()[:4]
    lines.append(lines[3][:-2])
    with pytest.raises(SingerError, match="invalid JSON"):
        _ingest(spark, fx.write_log(str(tmp_path), lines))
