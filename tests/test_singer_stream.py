"""Streaming Singer ingest: multi-epoch processing, per-epoch durable
bookmarks, and checkpoint-based resume without duplicates — the
exactly-once-per-epoch upgrade over the reference's at-least-once
re-upload-on-crash behavior."""

import json
import os

from tests import singer_fixtures as fx


def test_stream_ingest_multi_epoch_and_resume(spark, tmp_path):
    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        latest_state,
        plans_from_log_head,
    )

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    lines = fx.three_stream_log()
    # epoch 1: schemas + first users/clicks records
    fx.write_log(str(log_dir), lines[:8], "000.jsonl")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdir = str(tmp_path / "state")

    plans = plans_from_log_head(spark, str(log_dir))
    # sessions schema arrives later — declare it up front from the full
    # fixture (policy: schemas known at start; evolution is surfaced)
    assert set(plans) == {"app-users", "app-clicks"}

    job = SingerStreamJob(
        plans=plans, output_path=out, checkpoint_path=ckpt, state_dir=sdir
    )
    q = job.start(spark, str(log_dir))
    q.processAllAvailable()
    q.stop()

    users1 = spark.read.parquet(out).filter("stream = 'app-users'").count()
    assert users1 == 2
    assert json.loads(latest_state(sdir))["bookmarks"]["app-users"]["id"] == 2

    # epoch 2: the remaining log arrives; restart from checkpoint —
    # already-processed files must NOT be re-ingested
    fx.write_log(str(log_dir), lines[8:], "001.jsonl")
    job2 = SingerStreamJob(
        plans=plans, output_path=out, checkpoint_path=ckpt, state_dir=sdir
    )
    q2 = job2.start(spark, str(log_dir))
    q2.processAllAvailable()
    q2.stop()

    back = spark.read.parquet(out)
    assert back.filter("stream = 'app-users'").count() == 3  # not 5: no re-read
    assert back.filter("stream = 'app-clicks'").count() == 2
    # schema evolution surfaced for the stream declared mid-log
    assert "app-sessions" in job2.observed_schema_changes
    # bookmark advanced with epoch 2
    assert json.loads(latest_state(sdir))["bookmarks"]["app-users"]["id"] == 3
    # flattened nested columns survived the streaming path
    assert "meta__geo__lat" in back.columns


def test_known_stream_reschema_surfaces_evolution(spark, tmp_path):
    """A mid-run re-SCHEMA of a KNOWN stream with a different payload is
    the actual evolution case — it must land in observed_schema_changes
    (ADVICE r1: it was silently ignored and new columns were dropped
    under the stale plan), while a re-SCHEMA identical to the plan in
    force (the normal replay of the bootstrap SCHEMA line) must NOT."""
    import copy

    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        plans_from_log_head,
    )

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    evolved = copy.deepcopy(fx.USERS_SCHEMA)
    evolved["properties"]["email"] = {"type": ["null", "string"]}
    lines = [
        fx._msg(type="SCHEMA", stream="app-users", schema=fx.USERS_SCHEMA,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users", record={"id": 1, "name": "a"}),
        # identical re-SCHEMA: NOT evolution (bootstrap replay)
        fx._msg(type="SCHEMA", stream="app-users", schema=fx.USERS_SCHEMA,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users", record={"id": 2, "name": "b"}),
    ]
    fx.write_log(str(log_dir), lines, "000.jsonl")
    plans = plans_from_log_head(spark, str(log_dir))
    job = SingerStreamJob(
        plans=plans,
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
    )
    q = job.start(spark, str(log_dir))
    q.processAllAvailable()
    q.stop()
    assert job.observed_schema_changes == []

    # epoch 2: same stream re-SCHEMAs with a NEW column -> surfaced
    lines2 = [
        fx._msg(type="SCHEMA", stream="app-users", schema=evolved,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users",
                record={"id": 3, "name": "c", "email": "c@x"}),
    ]
    fx.write_log(str(log_dir), lines2, "001.jsonl")
    q2 = job.start(spark, str(log_dir))
    q2.processAllAvailable()
    q2.stop()
    assert "app-users" in job.observed_schema_changes


def test_epoch_state_follows_file_names(spark, tmp_path):
    """Two files in one epoch, each ending with a STATE: the bookmark is
    the later-named file's STATE, even though that file is the larger
    one, which Spark packs into the first partition."""
    from target_s3_parquet_spark.sources.singer import StreamPlan
    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        latest_state,
    )

    log_dir = tmp_path / "log"
    log_dir.mkdir()

    def chunk(ids):
        recs = [fx._msg(type="RECORD", stream="app-users", record={"id": i}) for i in ids]
        return recs + [fx._msg(type="STATE", value={"pos": ids[-1]})]

    fx.write_log(str(log_dir), chunk([1]), "a.jsonl")
    fx.write_log(str(log_dir), chunk(list(range(2, 50))), "b.jsonl")
    sdir = str(tmp_path / "state")
    job = SingerStreamJob(
        plans={"app-users": StreamPlan("app-users", fx.USERS_SCHEMA)},
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        state_dir=sdir,
    )
    q = job.start(spark, str(log_dir), max_files_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    assert len(os.listdir(sdir)) == 1  # one epoch
    assert json.loads(latest_state(sdir)) == {"pos": 49}
    assert spark.read.parquet(str(tmp_path / "out")).count() == 49
