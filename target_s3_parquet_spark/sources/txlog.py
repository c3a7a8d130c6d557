"""Transaction-log table format over plain parquet — the lakehouse
commit protocol (Delta/Iceberg-shaped) implemented against the public
filesystem API, since no lakehouse jars ship in this container.

Layout:

    table_root/
      _txlog/00000000.json     one manifest per committed version:
      _txlog/00000001.json       {"version": n, "op": ..., "dirs": [...]}
      data/v0-<op>/...parquet   each commit's files live in their own dir

Protocol properties:
- **Atomic commits.** A version exists iff its manifest file exists;
  manifests are created with O_EXCL (`open(..., "x")`), so two writers
  racing for version n — one wins, the loser retries at n+1 after
  re-reading state (optimistic concurrency, same contract as Delta's
  log store). Data files written before the manifest are invisible
  until it lands — readers never see partial commits.
- **Snapshot isolation / time travel.** A manifest lists every live
  data dir for its version; `read_table(version=k)` plans only those
  dirs, so concurrent appends never tear a running query.
- **Append vs overwrite.** Append manifests extend the previous
  version's dir list; overwrite manifests replace it (old dirs stay on
  disk for time travel until a vacuum).
- **Data skipping.** ``commit(..., stats_cols=[...])`` records per-dir
  min/max column stats in the manifest (Delta-style file statistics);
  ``merge_into`` uses them to rewrite only the dirs whose key range
  overlaps the change batch — untouched dirs are carried into the new
  manifest verbatim, so a merge touching one partition of a 100 TB
  table rewrites one partition, not the table.
- **Conflict detection.** ``commit(..., expected_prev=v)`` raises
  ``ConflictError`` if another writer committed after the caller read
  version ``v`` (serializable optimistic concurrency, the same check
  Delta runs at commit time). ``merge_into`` retries the whole
  read-merge-commit cycle on conflict, so concurrent merges serialize
  instead of silently last-writer-winning.

At 100 TB the same protocol holds: manifests are O(files) JSON on the
same object store, and the only serialization point is the manifest
PUT-if-absent (S3 conditional put / a DynamoDB-style log store).
"""

from __future__ import annotations

from target_s3_parquet_spark._snapshot import snapshot_persisted, snapshot_small

import json
import os

from pyspark.sql import DataFrame, SparkSession

_LOG = "_txlog"


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.json")


def latest_version(root: str) -> int | None:
    """Highest committed version, or None for an empty table."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    versions = [
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions) if versions else None


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


class ConflictError(RuntimeError):
    """Another writer committed after the version this transaction read
    (the serializable-conflict signal; callers re-read and retry)."""


def _column_stats(df: DataFrame, cols: list[str]) -> dict:
    """Per-column [min, max] for a just-written dir (Delta-style file
    stats). One extra agg job per commit; values must be JSON-encodable
    (int/float/str — the partition/merge-key types)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: [row[f"min__{c}"], row[f"max__{c}"]] for c in cols}


def _claim_manifest(root, op, dirs_fn, stats_fn, expected_prev) -> int:
    """Claim the next version slot with O_EXCL. ``dirs_fn(prev)`` /
    ``stats_fn(prev)`` recompute the manifest against the freshest
    predecessor on every attempt, so a lost race never publishes a
    stale dir list. With ``expected_prev`` set (three-valued: an int,
    None-for-empty-table, or ``"any"`` to skip the check), a predecessor
    other than the one the transaction read raises ConflictError
    instead of silently merging over the rival's commit."""
    while True:
        prev = latest_version(root)
        if expected_prev != "any" and prev != expected_prev:
            raise ConflictError(
                f"table at version {prev}, transaction read {expected_prev}"
            )
        version = (prev + 1) if prev is not None else 0
        manifest = {"version": version, "op": op, "dirs": dirs_fn(prev)}
        stats = stats_fn(prev)
        if stats:
            manifest["stats"] = stats
        try:
            with open(_manifest_path(root, version), "x") as f:
                json.dump(manifest, f)
            return version
        except FileExistsError:
            # lost the race — another writer claimed this version;
            # recompute against the new latest and try the next slot
            continue


def commit(
    df: DataFrame,
    root: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    expected_prev: int | None | str = "any",
) -> int:
    """Write ``df`` as a new table version; returns the version number.

    Data lands first (invisible — no manifest yet), then the manifest
    is claimed with an exclusive create. On a version collision the
    claim retries against the refreshed latest version; the data files
    are version-agnostic so no rewrite is needed.

    ``stats_cols`` records per-dir min/max in the manifest (enables
    merge pruning). ``expected_prev`` (int or None-for-empty) turns the
    blind retry into serializable conflict detection: if another writer
    committed since the caller read that version, ConflictError is
    raised rather than appending onto the rival's result.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_log_dir(root), exist_ok=True)

    import uuid

    attempt = (latest_version(root) + 1) if latest_version(root) is not None else 0
    # uuid suffix: dir names must be unique across failed/orphaned
    # attempts (a conflict-aborted commit leaves its dir for vacuum)
    data_dir = os.path.join(
        root, "data", f"v{attempt}-{mode}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(data_dir)
    new_stats = _column_stats(df, stats_cols) if stats_cols else None

    def dirs_fn(prev):
        if mode == "append" and prev is not None:
            return _read_manifest(root, prev)["dirs"] + [data_dir]
        return [data_dir]

    def stats_fn(prev):
        carried = {}
        if mode == "append" and prev is not None:
            carried = dict(_read_manifest(root, prev).get("stats") or {})
        if new_stats is not None:
            carried[data_dir] = new_stats
        return carried

    return _claim_manifest(root, mode, dirs_fn, stats_fn, expected_prev)


def read_table(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read of the table at ``version`` (default: latest).

    ``merge_schema=True`` unions the column sets of every live dir
    (Delta-style additive schema evolution: an append that introduced
    new columns widens the table; older dirs surface NULLs for the
    columns they predate). Off by default — schema merging pays a
    footer read per file at planning."""
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed versions under {root}")
    manifest = _read_manifest(root, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*manifest["dirs"])


def history(root: str) -> list[dict]:
    """All manifests, oldest first (the audit log)."""
    last = latest_version(root)
    if last is None:
        return []
    return [_read_manifest(root, v) for v in range(last + 1)]


def merge_into(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    delete_col: str | None = None,
    max_retries: int = 3,
) -> int:
    """MERGE with file-level pruning and serializable conflict retry.

    Matched keys take the change row (upsert); unmatched change rows
    insert; change rows with ``delete_col`` true delete. Old versions
    remain time-travelable.

    **Pruning.** Dirs whose recorded ``key`` min/max (see
    ``commit(stats_cols=...)``) is disjoint from the change batch's key
    range cannot contain a matched row; they are carried into the new
    manifest unrewritten. Dirs without stats are conservatively
    rewritten. At 100 TB this is the difference between rewriting one
    time-partition and rewriting the table.

    **Concurrency.** The commit is claimed with ``expected_prev`` =
    the version this merge read; if a rival lands first, the whole
    read-merge-commit cycle is retried (up to ``max_retries``) against
    the fresh snapshot — concurrent merges serialize instead of the
    second silently overwriting the first's effect.
    """
    from pyspark.sql import functions as F

    c = changes
    if delete_col is None:
        c = c.withColumn("__del", F.lit(False))
        delete_col = "__del"
    kmin, kmax = c.agg(F.min(key), F.max(key)).collect()[0]
    upserts = c.filter(~F.col(delete_col)).drop(delete_col)

    last_err = None
    for _ in range(max_retries + 1):
        read_v = latest_version(root)
        if read_v is None:
            raise FileNotFoundError(f"no committed versions under {root}")
        manifest = _read_manifest(root, read_v)
        stats = manifest.get("stats") or {}
        touched, untouched = [], []
        for d in manifest["dirs"]:
            s = (stats.get(d) or {}).get(key)
            if (
                s is not None
                and s[0] is not None
                and kmin is not None
                and (s[1] < kmin or s[0] > kmax)
            ):
                untouched.append(d)
            else:
                touched.append(d)

        if touched:
            affected = spark.read.parquet(*touched)
            survivors = affected.join(c.select(key), key, "left_anti")
            merged = survivors.unionByName(upserts)
        else:
            merged = upserts

        import uuid

        new_dir = os.path.join(
            root, "data", f"v{read_v + 1}-merge-{uuid.uuid4().hex[:8]}"
        )
        merged.write.mode("error").parquet(new_dir)
        new_stats = _column_stats(merged, [key]) if stats else None

        def dirs_fn(prev, _u=untouched, _n=new_dir):
            return _u + [_n]

        def stats_fn(prev, _u=untouched, _n=new_dir, _s=new_stats):
            carried = {d: stats[d] for d in _u if d in stats}
            if _s is not None:
                carried[_n] = _s
            return carried

        try:
            return _claim_manifest(root, "merge", dirs_fn, stats_fn, read_v)
        except ConflictError as e:
            last_err = e  # rival commit landed; orphan dir awaits vacuum
            continue
    raise last_err


def vacuum(
    root: str, retain_versions: int = 1, retention_seconds: float = 3600.0
) -> list[str]:
    """Delete data dirs unreachable from the newest ``retain_versions``
    manifests (and drop the older manifests). Returns removed dirs.
    After a vacuum, time travel only reaches the retained window —
    the Delta-style retention contract.

    ``retention_seconds`` guards concurrent writers: ``commit()`` writes
    its data dir BEFORE claiming a manifest, so an unreferenced dir may
    belong to an in-flight commit. Dirs younger than the threshold are
    skipped (mirroring Delta's vacuum retention check); pass 0 only when
    the caller is provably the single writer."""
    import shutil
    import time

    last = latest_version(root)
    if last is None:
        return []
    keep_from = max(0, last - retain_versions + 1)
    live: set[str] = set()
    for v in range(keep_from, last + 1):
        live.update(_read_manifest(root, v)["dirs"])
    removed = []
    now = time.time()
    data_root = os.path.join(root, "data")
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, d)
            if full in live:
                continue
            if now - os.path.getmtime(full) < retention_seconds:
                continue  # possibly an in-flight commit's dir
            shutil.rmtree(full)
            removed.append(full)
    for v in range(0, keep_from):
        mp = _manifest_path(root, v)
        if os.path.exists(mp):
            os.remove(mp)
    return removed


def optimize_compact(
    spark: SparkSession,
    root: str,
    target_partitions: int = 1,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE: rewrite the current snapshot's (possibly many small)
    data dirs into ``target_partitions`` compacted files and publish
    the rewrite as a new version — logically a no-op (same rows), so
    readers pinned to older versions keep working and the audit log
    records op='optimize'. The small-file problem is THE read-side
    killer at 100 TB (a dir per micro-append ⇒ footer-fetch storms and
    task-per-tiny-file scheduling); compaction restores scan-sized
    files without blocking writers — a concurrent append between our
    read and our claim raises ConflictError (serializable), leaving
    the log consistent for a retry.
    """
    read_v = latest_version(root)
    if read_v is None:
        raise FileNotFoundError(f"no committed versions under {root}")
    snap = read_table(spark, root, version=read_v)

    import uuid

    data_dir = os.path.join(root, "data", f"opt-{uuid.uuid4().hex[:8]}")
    snap.coalesce(target_partitions).write.mode("error").parquet(data_dir)
    new_stats = (
        _column_stats(spark.read.parquet(data_dir), stats_cols)
        if stats_cols
        else None
    )

    return _claim_manifest(
        root,
        "optimize",
        lambda prev: [data_dir],
        lambda prev: {data_dir: new_stats} if new_stats else {},
        expected_prev=read_v,
    )


# -- registered query key -----------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from target_s3_parquet_spark.operators._util import t  # noqa: E402
from target_s3_parquet_spark.registry import query  # noqa: E402


@query(
    "txlog_time_travel",
    """
    SELECT 0 AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 5000
    UNION ALL
    SELECT 1, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 2, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def txlog_time_travel(spark, sf_dir):
    """Time travel through the transaction log: three commits (append,
    append, overwrite) then a snapshot read of EVERY version — each
    version's stats must equal the batch recomputation of what the
    table contained at that commit, which is exactly the snapshot-
    isolation guarantee. Demonstrates the commit protocol end-to-end:
    invisible-until-manifest data files, version pinning, overwrite
    preserving history."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="txlog_")
    try:
        root = f"{tmp}/orders_tbl"
        commit(o.filter(F.col("o_orderkey") < 5000), root)
        commit(o.filter(F.col("o_orderkey") >= 5000), root)
        commit(o.filter(F.col("o_orderkey") % 3 == 0), root, mode="overwrite")

        parts = []
        for v in range(3):
            snap = read_table(spark, root, version=v)
            parts.append(
                snap.agg(
                    F.lit(v).alias("version"),
                    F.count("*").alias("n_rows"),
                    F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                    .cast("double")
                    .alias("total"),
                )
            )
        out = parts[0].unionAll(parts[1]).unionAll(parts[2])
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "txlog_merge_prune",
    """
    WITH mid AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
    changes AS (
        SELECT o_orderkey,
               o_totalprice * 2 AS o_totalprice,
               (o_orderkey % 11 = 0) AS is_del
        FROM orders, mid
        WHERE o_orderkey >= mid.m AND o_orderkey % 7 = 0
    ),
    final AS (
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM changes WHERE NOT is_del
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM final
    """,
)
def txlog_merge_prune(spark, sf_dir):
    """Pruned MERGE through the transaction log: orders committed as two
    key-range-disjoint dirs with min/max stats, then a change batch
    touching only the upper half merged in. The lower-half dir's stats
    interval is disjoint from the change keys, so merge_into carries it
    into the new manifest unrewritten (asserted — pruning is part of
    the contract, not just the result), and the final snapshot must
    equal the batch restatement of upsert+delete over the full table."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mid = o.agg(F.max("o_orderkey")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="txlog_merge_")
    try:
        root = f"{tmp}/orders_tbl"
        lower = o.filter(F.col("o_orderkey") < mid)
        upper = o.filter(F.col("o_orderkey") >= mid)
        commit(lower, root, stats_cols=["o_orderkey"])
        commit(upper, root, stats_cols=["o_orderkey"])

        changes = (
            o.filter((F.col("o_orderkey") >= mid) & (F.col("o_orderkey") % 7 == 0))
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .withColumn("is_del", F.col("o_orderkey") % 11 == 0)
        )
        merge_into(spark, root, changes, key="o_orderkey", delete_col="is_del")

        final = _read_manifest(root, latest_version(root))
        lower_dir = _read_manifest(root, 0)["dirs"][0]
        if lower_dir not in final["dirs"]:
            raise RuntimeError("lower-half dir should be pruned, not rewritten")

        snap = read_table(spark, root)
        out = snap.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total"),
        )
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "txlog_optimize_compact",
    """
    SELECT 'pre' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
           4 AS n_dirs
    FROM orders
    UNION ALL
    SELECT 'post', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
           1
    FROM orders
    """,
)
def txlog_optimize_compact(spark, sf_dir):
    """OPTIMIZE end-to-end: four micro-appends fragment the table into
    four data dirs (the streaming small-file pathology), compaction
    rewrites the snapshot into one dir and publishes it as a new
    version. The oracle pins BOTH that the rewrite is logically a
    no-op (pre/post aggregates equal the source table) and the
    physical dir counts (4 → 1) read from the manifests."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="txlog_opt_")
    try:
        root = f"{tmp}/orders_tbl"
        for i in range(4):
            commit(o.filter(F.col("o_orderkey") % 4 == i), root)
        pre_v = latest_version(root)
        pre_dirs = len(_read_manifest(root, pre_v)["dirs"])
        pre = read_table(spark, root).agg(
            F.lit("pre").alias("phase"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total"),
            F.lit(pre_dirs).alias("n_dirs"),
        )
        opt_v = optimize_compact(spark, root, target_partitions=1)
        post_dirs = len(_read_manifest(root, opt_v)["dirs"])
        post = read_table(spark, root).agg(
            F.lit("post").alias("phase"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total"),
            F.lit(post_dirs).alias("n_dirs"),
        )
        out = pre.unionAll(post)
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "txlog_schema_evolution",
    """
    SELECT o_orderkey AS id, o_orderstatus AS status,
           CAST(NULL AS DOUBLE) AS price
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def txlog_schema_evolution(spark, sf_dir):
    """Additive schema evolution through the transaction log: commit 0
    lands (id, status), commit 1 appends the same entity shape WITH a
    new `price` column; a merge-schema snapshot read widens the table
    and surfaces NULL price for the pre-evolution rows — Delta's
    mergeSchema contract on plain parquet + manifests. The oracle
    reproduces the union of the two column sets relationally."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="txlog_evo_")
    try:
        root = f"{tmp}/orders_tbl"
        commit(
            o.filter(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_orderkey").alias("id"),
                F.col("o_orderstatus").alias("status"),
            ),
            root,
        )
        commit(
            o.filter(F.col("o_orderkey") % 2 == 1).select(
                F.col("o_orderkey").alias("id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ),
            root,
        )
        snap = read_table(spark, root, merge_schema=True).select(
            "id", "status", "price"
        )
        return snapshot_persisted(snap, "schema_evolution")  # sf-proportional
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "txlog_changes_between",
    """
    WITH mid AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
    v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders, mid
      WHERE o_orderkey % 2 = 1 AND o_orderkey < mid.m
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
      WHERE o_orderkey % 3 = 0
    ),
    classified AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
             CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                  WHEN v2.o_orderkey IS NULL THEN 'delete'
                  WHEN v1.o_totalprice <> v2.o_totalprice THEN 'update'
                  ELSE 'unchanged' END AS op,
             COALESCE(v2.o_totalprice, 0) - COALESCE(v1.o_totalprice, 0)
               AS delta
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT op, COUNT(*) AS n_rows,
           CAST(SUM(CAST(delta AS DECIMAL(38,6))) AS DOUBLE) AS price_delta
    FROM classified
    WHERE op <> 'unchanged'
    GROUP BY op
    """,
)
def txlog_changes_between(spark, sf_dir):
    """Incremental change feed between two table versions (the Delta
    CDF / Iceberg incremental-read shape): two snapshot reads of the
    SAME transaction-log table at pinned versions, full-outer-joined
    on the key and classified into insert / delete / update with the
    net price delta per class.

    The committed history: v0 = even keys, v1 = v0 + lower-half odd
    keys (append), v2 = keys divisible by 3 at doubled price
    (overwrite). Diffing v1→v2 exercises all three change classes
    against the snapshot-isolation guarantee, and the oracle restates
    both versions set-theoretically from `orders` — so the change feed
    itself is value-verified. At 100 TB a real CDF avoids the
    two-snapshot join by reading only the delta files of the versions
    in between; the join form here is the correctness reference that
    any file-level shortcut must reproduce."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mid_v = o.agg(F.max("o_orderkey")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="txlog_cdf_")
    try:
        root = f"{tmp}/orders_tbl"
        commit(o.filter(F.col("o_orderkey") % 2 == 0), root)
        commit(
            o.filter(
                (F.col("o_orderkey") % 2 == 1)
                & (F.col("o_orderkey") < mid_v)
            ),
            root,
        )
        commit(
            o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            root,
            mode="overwrite",
        )

        v1 = read_table(spark, root, version=1).alias("a")
        v2 = read_table(spark, root, version=2).alias("b")
        j = v1.join(
            v2, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
        )
        op = (
            F.when(F.col("a.o_orderkey").isNull(), "insert")
            .when(F.col("b.o_orderkey").isNull(), "delete")
            .when(
                F.col("a.o_totalprice") != F.col("b.o_totalprice"), "update"
            )
            .otherwise("unchanged")
        )
        delta = F.coalesce(F.col("b.o_totalprice"), F.lit(0.0)) - F.coalesce(
            F.col("a.o_totalprice"), F.lit(0.0)
        )
        out = (
            j.select(op.alias("op"), delta.alias("delta"))
            .filter(F.col("op") != "unchanged")
            .groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("delta").cast("decimal(38,6)"))
                .cast("double")
                .alias("price_delta"),
            )
        )
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def clone_table(src_root: str, dst_root: str) -> int:
    """SHALLOW CLONE: publish a new table whose v0 manifest references
    the SOURCE's current data dirs — zero data copied, instant at any
    table size (the Delta `CREATE TABLE ... SHALLOW CLONE` shape).
    The clone is immediately independent: later commits to either side
    write their own manifests (and their own data dirs), so the clone
    is a true snapshot fork — the dev/test-against-prod-data pattern.
    Source vacuums are the one coupling (they can delete dirs a clone
    still references — same caveat Delta documents); a promotion to
    deep clone copies dirs lazily."""
    src_v = latest_version(src_root)
    if src_v is None:
        raise FileNotFoundError(f"no committed versions under {src_root}")
    src_manifest = _read_manifest(src_root, src_v)
    os.makedirs(_log_dir(dst_root), exist_ok=True)
    return _claim_manifest(
        dst_root,
        f"clone:{src_root}@{src_v}",
        lambda prev: list(src_manifest["dirs"]),
        lambda prev: src_manifest.get("stats", {}),
        expected_prev=None,
    )


@query(
    "txlog_clone_shallow",
    """
    WITH mid AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
    v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders, mid
      WHERE o_orderkey % 2 = 1 AND o_orderkey < mid.m
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT 'source_after_overwrite' AS snapshot, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM v2
    UNION ALL
    SELECT 'clone', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
    FROM v1
    """,
)
def txlog_clone_shallow(spark, sf_dir):
    """Shallow-clone isolation, end to end: a table built in two
    commits is cloned (zero bytes copied — the clone's manifest points
    at the source's data dirs), the SOURCE is then overwritten, and
    the key reads both: the source shows the overwrite, the clone
    still shows the pre-overwrite snapshot. That pair of rows IS the
    isolation guarantee — a fork, not a reference; the oracle restates
    both table states from `orders`. At 100 TB the clone costs one
    manifest PUT regardless of table size."""
    import shutil
    import tempfile

    from pyspark.sql import functions as FF

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mid_v = o.agg(FF.max("o_orderkey")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="txlog_clone_")
    try:
        src = f"{tmp}/src_tbl"
        dst = f"{tmp}/clone_tbl"
        commit(o.filter(FF.col("o_orderkey") % 2 == 0), src)
        commit(
            o.filter(
                (FF.col("o_orderkey") % 2 == 1)
                & (FF.col("o_orderkey") < mid_v)
            ),
            src,
        )
        clone_table(src, dst)
        commit(
            o.filter(FF.col("o_orderkey") % 3 == 0), src, mode="overwrite"
        )

        def stats(df, label):
            return df.agg(
                FF.lit(label).alias("snapshot"),
                FF.count("*").alias("n_rows"),
                FF.sum(FF.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("total"),
            )

        out = stats(read_table(spark, src), "source_after_overwrite").unionAll(
            stats(read_table(spark, dst), "clone")
        )
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def deepen_clone(root: str) -> int:
    """DEEP-CLONE promotion: copy every data dir the current manifest
    references from OUTSIDE this table's own data root into it, then
    commit a `deepen` manifest referencing the local copies (per-dir
    stats carried under the new paths). Closes the one coupling a
    shallow clone has — after promotion, source-side VACUUMs can no
    longer delete dirs this table reads. Idempotent: with nothing
    external referenced, no copy and no new version. The copy is
    file-level (no decode/rewrite) and per-dir parallelizable; time
    travel to pre-deepen versions still reads source dirs and is
    subject to the old caveat — vacuum here removes those manifests
    normally."""
    import shutil
    import uuid

    v = latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no committed versions under {root}")
    man = _read_manifest(root, v)
    data_root = os.path.join(root, "data")
    os.makedirs(data_root, exist_ok=True)
    mapping: dict[str, str] = {}
    for d in man["dirs"]:
        if os.path.commonpath([os.path.abspath(d), os.path.abspath(data_root)]) == os.path.abspath(data_root):
            continue  # already local
        local = os.path.join(
            data_root, f"deep-{uuid.uuid4().hex[:8]}-{os.path.basename(d)}"
        )
        shutil.copytree(d, local)
        mapping[d] = local
    if not mapping:
        return v
    new_dirs = [mapping.get(d, d) for d in man["dirs"]]
    old_stats = man.get("stats") or {}
    new_stats = {mapping.get(d, d): s for d, s in old_stats.items()}
    return _claim_manifest(
        root,
        "deepen",
        lambda prev: new_dirs,
        lambda prev: new_stats,
        expected_prev=v,
    )


@query(
    "txlog_clone_deep",
    """
    WITH mid AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
    v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders, mid
      WHERE o_orderkey % 2 = 1 AND o_orderkey < mid.m
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT 'source_after_vacuum' AS snapshot, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM v2
    UNION ALL
    SELECT 'deep_clone_after_source_vacuum', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
    FROM v1
    """,
)
def txlog_clone_deep(spark, sf_dir):
    """Deep-clone survival, end to end: source table (2 commits) →
    shallow clone → `deepen_clone` promotion (dirs copied into the
    clone's own data root) → source OVERWRITTEN and then VACUUMED with
    zero retention, physically deleting every pre-overwrite data dir
    the shallow clone used to reference. The clone still reads its
    full pre-overwrite snapshot — the exact failure mode
    `txlog_clone_shallow` documents as the shallow caveat, closed.
    The oracle restates both end states from `orders`; vacuum
    correctness is what the clone row proves (an un-promoted clone
    would raise on read here)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as FF

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mid_v = o.agg(FF.max("o_orderkey")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="txlog_deep_")
    try:
        src = f"{tmp}/src_tbl"
        dst = f"{tmp}/clone_tbl"
        commit(o.filter(FF.col("o_orderkey") % 2 == 0), src)
        commit(
            o.filter(
                (FF.col("o_orderkey") % 2 == 1)
                & (FF.col("o_orderkey") < mid_v)
            ),
            src,
        )
        clone_table(src, dst)
        deepen_clone(dst)
        commit(
            o.filter(FF.col("o_orderkey") % 3 == 0), src, mode="overwrite"
        )
        # single-writer test harness: zero retention is safe here and
        # makes the deletion of the clone's former source dirs certain
        vacuum(src, retain_versions=1, retention_seconds=0)

        def stats(df, label):
            return df.agg(
                FF.lit(label).alias("snapshot"),
                FF.count("*").alias("n_rows"),
                FF.sum(FF.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("total"),
            )

        out = stats(read_table(spark, src), "source_after_vacuum").unionAll(
            stats(read_table(spark, dst), "deep_clone_after_source_vacuum")
        )
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "txlog_vacuum_retention",
    """
    SELECT 'pre' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
           5 AS n_dirs_on_disk
    FROM orders
    UNION ALL
    SELECT 'post', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
           1
    FROM orders
    """,
)
def txlog_vacuum_retention(spark, sf_dir):
    """VACUUM end-to-end — the retention half of the lakehouse
    maintenance pair (`txlog_optimize_compact` rewrites, vacuum
    reclaims): four micro-appends then OPTIMIZE leave four data dirs
    referenced only by pre-compaction manifests; vacuum with
    retain_versions=1 deletes them and drops the old manifests, so
    disk holds exactly the one live dir while the CURRENT snapshot is
    byte-identical pre/post (the oracle pins both the aggregates and
    the 5 -> 1 on-disk dir counts). retention_seconds=0 is safe here
    because the key is provably the only writer of its temp table —
    the guard exists for in-flight `commit()`s, which stage data
    BEFORE claiming a manifest (`vacuum()`'s docstring contract).
    Time travel past the retained window is gone after vacuum — the
    Delta-style retention trade, asserted in the invariant test.

    Reference scope check: the reference sink appends flat parquet
    with no table log (`target_s3_parquet/__init__.py`); the txlog
    family is declared extension surface (SURVEY.md §2C)."""
    import shutil
    import tempfile

    o = t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="txlog_vac_")
    try:
        root = f"{tmp}/orders_tbl"
        for i in range(4):
            commit(o.filter(F.col("o_orderkey") % 4 == i), root)
        optimize_compact(spark, root, target_partitions=1)

        def on_disk():
            data_root = os.path.join(root, "data")
            return len(os.listdir(data_root))

        def phase_row(label, n_dirs):
            return read_table(spark, root).agg(
                F.lit(label).alias("phase"),
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("total"),
                F.lit(n_dirs).alias("n_dirs_on_disk"),
            )

        pre = phase_row("pre", on_disk())
        pre = snapshot_small(pre)  # materialize BEFORE files vanish
        removed = vacuum(root, retain_versions=1, retention_seconds=0)
        if len(removed) != 4:
            raise RuntimeError(removed)
        post = phase_row("post", on_disk())
        out = pre.unionAll(post)
        return snapshot_small(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
