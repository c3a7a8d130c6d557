"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same conf block is what
we'd ship to a 1000-executor cluster — AQE owns runtime re-planning
(partition coalescing, skew-join splitting, join-strategy switching),
shuffle partitions start at a sane value and AQE coalesces down,
Arrow is on for any pandas-UDF exchange, and the session timezone is
pinned to UTC so results are comparable across engines (DuckDB oracle
included).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# S3A conf we would enable on a real cluster (hadoop-aws on classpath).
# Harmless when the jars are absent as long as no s3a:// path is read.
_S3A_CONF = {
    # Magic committer: task output goes straight to the final location via
    # multipart uploads, no rename penalty on S3's flat namespace.
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    # Replaces the reference's hand-rolled boto3 backoff
    # (reference s3.py:16-21 — 5 tries, factor 10).
    "spark.hadoop.fs.s3a.retry.limit": "5",
    "spark.hadoop.fs.s3a.connection.maximum": "96",
}


def s3a_conf_from_config(config: dict) -> dict[str, str]:
    """Map the reference's AWS config keys (README.md:80-91, s3.py:28-53
    `create_client` / the commented `upload_file` encryption args) onto
    S3A Hadoop conf — the Spark-native equivalent of a boto3 session:

    - aws_access_key_id / aws_secret_access_key / aws_session_token →
      fs.s3a access/secret/session keys (temporary-credentials provider
      when a session token is present);
    - aws_profile → the SDK profile provider (reference falls back to
      $AWS_PROFILE; S3A reads the same environment);
    - aws_endpoint_url → fs.s3a.endpoint + path-style access (the
      MinIO/localstack case the reference supports via endpoint_url);
    - encryption_type='KMS' (+ optional encryption_key) →
      fs.s3a.server-side-encryption-algorithm/key (SSE-KMS per object,
      default KMS key when no key id given — same contract as the
      reference's ServerSideEncryption/SSEKMSKeyId ExtraArgs).
    """
    conf: dict[str, str] = {}
    p = "spark.hadoop.fs.s3a."
    if config.get("aws_access_key_id") and config.get("aws_secret_access_key"):
        conf[p + "access.key"] = config["aws_access_key_id"]
        conf[p + "secret.key"] = config["aws_secret_access_key"]
        if config.get("aws_session_token"):
            conf[p + "session.token"] = config["aws_session_token"]
            conf[p + "aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
    elif config.get("aws_profile"):
        # the SDK's profile chain reads AWS_PROFILE; surface the intent
        # in conf so a cluster submit can translate it to spark-env
        conf[p + "aws.credentials.provider"] = (
            "com.amazonaws.auth.profile.ProfileCredentialsProvider"
        )
        os.environ.setdefault("AWS_PROFILE", str(config["aws_profile"]))
    if config.get("aws_endpoint_url"):
        conf[p + "endpoint"] = config["aws_endpoint_url"]
        conf[p + "path.style.access"] = "true"
    enc = (config.get("encryption_type") or "none").lower()
    if enc == "kms":
        conf[p + "server-side-encryption-algorithm"] = "SSE-KMS"
        if config.get("encryption_key"):
            conf[p + "server-side-encryption.key"] = config["encryption_key"]
    elif enc != "none":
        raise NotImplementedError(
            f"Encryption type '{config.get('encryption_type')}' is not "
            "supported. Expected: 'none' or 'KMS'"
        )
    return conf


def runtime_conf_from_config(config: dict) -> dict[str, str]:
    """Map the reference's runtime config keys onto Spark conf (L7):

    - temp_dir (reference README.md:91, the commented legacy spool dir
      at __init__.py:45-50 — "Directory of temporary CSV files with
      RECORD messages") → ``spark.local.dir``, Spark's scratch space
      for shuffle spill and block storage, the moral equivalent of the
      reference's record-spool location. Expanded and created up front
      exactly like the reference's ``os.makedirs(temp_dir,
      exist_ok=True)``; note ``spark.local.dir`` is static conf — it
      must reach the session BUILDER (cli.py does), a running session
      won't re-home its spill dirs.
    """
    conf: dict[str, str] = {}
    if config.get("temp_dir"):
        temp_dir = os.path.expanduser(str(config["temp_dir"]))
        os.makedirs(temp_dir, exist_ok=True)
        conf["spark.local.dir"] = temp_dir
    return conf


def get_spark(
    app_name: str = "target_s3_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``). ``shuffle_partitions`` defaults to the local core
    count — on a cluster you'd size it to ~2-3× total executor cores
    and let AQE coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        # Generated-class cache (an LRU keyed by source). Its default of
        # 100 entries is smaller than cycles we repeat: a perfbench
        # `query` pass has 144 distinct classes, ingest 64, the bench.py
        # headline's 24 keys 207. An LRU shorter than the cycle hits
        # nothing, so every warm `query` pass recompiled ~126 classes
        # with Janino and handed the JIT brand-new classes. Static conf:
        # CodeGenerator$ reads it once, at the JVM's first codegen, so
        # only the builder of the JVM's first session can set it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Read TIMESTAMP(NANOS) parquet columns as raw long nanos instead
        # of failing (Spark timestamps are µs); load_table truncates.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in _S3A_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    """Path of one synthetic table under a scale-factor dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (parquet scan; Catalyst prunes/pushes).

    Nanosecond-precision parquet timestamps (events.ts) are outside
    Spark's µs timestamp range, so they're read as raw nanos
    (``legacy.parquet.nanosAsLong``) and truncated to µs — the same
    floor-truncation DuckDB applies when it surfaces TIMESTAMP_NS at µs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Defensive: the caller may hand us a session built elsewhere
    # (driver harness, notebook) without the nanos conf — it is
    # runtime-settable, and without it the events table read throws
    # PARQUET_TYPE_ILLEGAL before we ever see the schema. Session
    # timezone likewise: epoch-derived timestamps must render in UTC
    # to match the DuckDB oracle on a non-UTC host.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # µs parquet timestamps without isAdjustedToUTC would load as
    # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default, which
    # (a) breaks instant-typed operators (unix_micros, watermarks) and
    # (b) would force a post-scan cast that kills parquet predicate
    # pushdown on date columns. Reading them as TIMESTAMP_LTZ with the
    # session pinned to UTC yields the same wall-clock values the
    # DuckDB oracle sees for the same naive µs column, and keeps
    # pushdown native.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(table_path(sf_dir, name))
    for field in df.schema.fields:
        meta = field.metadata or {}
        if meta.get("__nanos_long__") or (
            field.name == "ts" and isinstance(field.dataType, T.LongType)
        ):
            # integer `div`, not `/`: ns-epoch longs exceed 2^53, so
            # double division would corrupt the low microseconds
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Defensive twin of the conf above for sessions where the
            # first read happened before the conf landed (cached file
            # index): reinterpret the wall-clock as a UTC instant.
            df = df.withColumn(
                field.name, F.col(field.name).cast(T.TimestampType())
            )
    return df
