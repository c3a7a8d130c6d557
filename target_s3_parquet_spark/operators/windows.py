"""Window-function operators: ranking, analytic (lag/lead/first/last),
and frame aggregations.

Each window spec shuffles once on its partition key and sorts within
partitions — at 100 TB the partition key (custkey / suppkey) has high
cardinality so partitions stay small and parallel; no single-partition
global windows (those serialize the world through one task).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from target_s3_parquet_spark.operators._util import (
    ntile_from_rank,
    t,
    two_phase_rank,
)
from target_s3_parquet_spark.registry import query


@query(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4)     OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank(spark, sf_dir):
    """Ranking family over a per-customer window (orderBy includes the
    unique orderkey so every rank is deterministic)."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w).cast("long"))
        .withColumn("quartile", F.ntile(4).over(w).cast("long"))
    )


@query(
    "window_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Top-k per group — the scalable idiom (rank + filter), never a
    per-group collect. Spark pushes the rn<=k limit into the window sort
    (WindowGroupLimit) so each partition keeps only k rows."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_analytic",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
           LAG(l_quantity)  OVER w AS prev_qty,
           LEAD(l_quantity) OVER w AS next_qty,
           FIRST_VALUE(l_quantity) OVER w AS first_qty,
           LAST_VALUE(l_quantity)  OVER w AS last_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber,
                          l_quantity)
    """,
)
def window_analytic(spark, sf_dir):
    """lag/lead/first/last over a per-supplier event-time ordering.
    Note LAST_VALUE uses the default frame (unbounded preceding →
    current row) in both engines, so it equals the current row's value —
    kept deliberately to pin that semantic.

    l_quantity closes the ordering: the synthetic lineitem carries
    duplicate (l_orderkey, l_linenumber) pairs (118k at sf0.1), and
    with TIED sort keys lag/lead are engine-nondeterministic — the
    sf0.1 gate caught exactly one such tie flipping next_qty. With
    every projected column in the sort, residual ties are whole-row
    identical and therefore hash-invariant. The general rule: an
    order-SENSITIVE window must totally order each partition (or tie
    only on rows indistinguishable in the output)."""
    w = W.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .withColumn("prev_qty", F.lag("l_quantity").over(w))
        .withColumn("next_qty", F.lead("l_quantity").over(w))
        .withColumn("first_qty", F.first("l_quantity").over(w))
        .withColumn("last_qty", F.last("l_quantity").over(w))
        .drop("l_quantity")
    )


@query(
    "window_frame_agg",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing3_spend
    FROM orders
    """,
)
def window_frame_agg(spark, sf_dir):
    """Running + sliding frame sums (decimal-exact, see _util.DEC)."""
    from target_s3_parquet_spark.operators._util import dec

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    trailing = w.rowsBetween(-2, W.currentRow)
    price = dec(F.col("o_totalprice"))
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("running_spend", F.sum(price).over(running).cast("double"))
        .withColumn("trailing3_spend", F.sum(price).over(trailing).cast("double"))
        .drop("o_totalprice")
    )


@query(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
             AS n_similar_spend
    FROM orders
    """,
)
def window_range_frame(spark, sf_dir):
    """RANGE frame over a value (not row) offset — peers within ±1000.
    (The Python `rangeBetween` API only takes integer offsets, so the
    double-valued frame goes through the SQL window syntax — same plan.)"""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice,
               COUNT(*) OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice
                              RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
                 AS n_similar_spend
        FROM orders
        """
    )


@query(
    "window_distribution",
    """
    SELECT o_orderkey, o_orderpriority,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           ntile(10) OVER w AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark, sf_dir):
    """Distribution window functions (percent_rank / cume_dist / ntile):
    the per-partition sort is shared by all three — one shuffle, one
    sort, three O(1)-state evaluators streaming over it. The o_orderkey
    tiebreak makes ranks deterministic under any partitioning."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


@query(
    "window_ignore_nulls",
    """
    SELECT event_id, user_id, v,
           LAST_VALUE(v IGNORE NULLS) OVER w AS last_known,
           FIRST_VALUE(v IGNORE NULLS) OVER w2 AS first_known
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING),
           w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS window navigation — the sensor-reading pattern
    (every third reading nulled here to simulate gaps): `last_value
    IGNORE NULLS` over a running frame is forward-fill, `first_value`
    over the full frame anchors each partition's first real value.
    Same single shuffle+sort as any window family; the null-skipping
    is evaluator-local."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("last_known"),
        F.first("v", ignorenulls=True).over(w2).alias("first_known"),
    )


@query(
    "window_ntile",
    """
    WITH deciled AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM deciled GROUP BY decile
    """,
)
def window_ntile(spark, sf_dir):
    """Equi-depth bucketing with `ntile(10)` over a TOTAL order
    (tiebreak on the key makes the bucket assignment deterministic),
    then per-decile stats — the profile you feed a histogram or a
    range-partitioner. The global ORDER BY window is the one window
    shape that single-partitions at scale; Spark's plan here is one
    sort into ONE task, fine at sf but the 100 TB version replaces it
    with `approxQuantile`-derived cut points (or a
    RangePartitioner pass) and a broadcast bucket lookup — same
    output contract, no global sort. Registered in this exact-ntile
    form because the equi-depth CONTRACT (bucket sizes differ by at
    most 1) is what the oracle can verify bit-exactly."""
    o = t(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "window_ntile_prod",
    """
    WITH deciled AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM deciled GROUP BY decile
    """,
)
def window_ntile_prod(spark, sf_dir):
    """The 100 TB form of `window_ntile`, bit-identical output: the
    global sort-into-ONE-task that `ntile(10) OVER (ORDER BY ...)`
    costs is replaced by `two_phase_rank`'s range-shuffle + local
    row_number + broadcast offsets (the package's one prefix scan),
    then the closed-form NTILE from (rank, n) — the first
    n mod 10 buckets take one extra row, exactly the window function's
    contract. Every stage is data-parallel: the only unpartitioned
    window in the plan orders the NUM-PARTITIONS offsets table. The
    exact-ntile key stays registered as the oracle reference; this is
    the plan you would actually run (equi-DEPTH buckets, exact), and
    `approxQuantile` fences are the cheaper equi-PROBABILITY variant
    when ±ε bucket boundaries are acceptable."""
    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = two_phase_rank(
        o,
        ["o_totalprice", "o_orderkey"],
        nparts=spark.sparkContext.defaultParallelism,
    )
    total = ranked.agg(F.count(F.lit(1)).alias("_total"))
    decile = ntile_from_rank(F.col("rnk"), F.col("_total"), 10)
    return (
        ranked.crossJoin(F.broadcast(total))
        .select("o_totalprice", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "window_running_distinct",
    """
    WITH firsts AS (
      SELECT event_type, user_id,
             MIN(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, CAST(first_day AS TIMESTAMP) AS day,
             COUNT(*) AS new_users
      FROM firsts GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (
             PARTITION BY event_type ORDER BY day
           ) AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def window_running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over time — the metric SQL windows
    can't express directly (DISTINCT isn't a window aggregate in
    either engine). The scalable rewrite: attribute each user to
    their FIRST day (one groupBy), count new users per day, then a
    plain cumulative SUM. Two narrow shuffles — (type, user) then
    (type, day) — instead of a per-day re-scan of history; the
    running-sum window partitions by type, so no global sort. This is
    the standard cumulative-uniques shape (DAU→cumulative-users) at
    any scale; the windowed SUM is CAST to BIGINT in the oracle
    because DuckDB widens windowed integer sums to HUGEINT."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = W.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_distinct_users"),
    )


@query(
    "window_gap_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    tagged AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id,
           strftime(MIN(d), '%Y-%m-%d') AS island_start,
           strftime(MAX(d), '%Y-%m-%d') AS island_end,
           COUNT(*) AS n_days
    FROM tagged
    GROUP BY user_id, anchor
    HAVING COUNT(*) >= 3
    """,
)
def window_gap_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (3+ days long) — the classic streak/retention primitive, via
    the date-minus-row_number trick: within a user, consecutive dates
    share `d - row_number()`, so one window + one groupBy finds every
    island with no self-join and no iteration.

    Scale shape: dedup to (user, day) first (shuffle shrinks to one
    row per active day), then a single hash-partition window on
    user_id; both exchanges carry 12-byte rows regardless of event
    volume. Dates surface as formatted strings so the engines'
    date/timestamp pandas materializations can't drift."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    tagged = days.select(
        "user_id", "d", F.date_sub("d", rn.cast("int")).alias("anchor")
    )
    return (
        tagged.groupBy("user_id", "anchor")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= 3)
        .drop("anchor")
    )


@query(
    "window_first_touch_attribution",
    """
    WITH tagged AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS us,
             MIN(CASE WHEN event_type = 'view'
                      THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                           || '_' ||
                           lpad(CAST(event_id AS VARCHAR), 12, '0') END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 259200000000 PRECEDING
                           AND 1 PRECEDING) AS first_view_key
      FROM events
    )
    -- NULLIF: DuckDB's split_part maps NULL input to '' (Spark's
    -- split keeps NULL), so the unattributed case must be re-nulled
    SELECT event_id AS purchase_id, user_id,
           CAST(NULLIF(split_part(first_view_key, '_', 2), '') AS BIGINT)
             AS attributed_view_id,
           us - CAST(NULLIF(split_part(first_view_key, '_', 1), '')
                     AS BIGINT) AS gap_us
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def window_first_touch_attribution(spark, sf_dir):
    """First-touch marketing attribution: every purchase is credited
    to the EARLIEST view by the same user within the trailing 3 days
    (purchases with no view in window surface with NULL — unattributed
    conversions are a metric, not an error).

    One RANGE-framed window over microsecond offsets does the whole
    lookback — no self-join of purchases against views, so cost is a
    single user-key shuffle + per-user sort at any event volume
    (contrast the naive time-range join, which explodes with fan-out).
    The frame's upper bound is -1 µs, excluding same-instant events
    identically in both engines; the min is over a zero-padded
    (ts, event_id) string so ties resolve deterministically. This is
    the backward-looking twin of `join_asof` (last-touch ≈ as-of
    backward; first-touch needs the frame MIN instead)."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    okey = F.format_string("%020d_%012d", us, "event_id")
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3 * 86400 * 1_000_000, -1)
    )
    first_view = F.min(
        F.when(F.col("event_type") == "view", okey)
    ).over(w)
    tagged = e.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        first_view.alias("first_view_key"),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.split("first_view_key", "_").getItem(1).cast("long").alias(
            "attributed_view_id"
        ),
        (
            F.col("us")
            - F.split("first_view_key", "_").getItem(0).cast("long")
        ).alias("gap_us"),
    )
