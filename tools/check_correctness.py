"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value hash.

The comparison deliberately goes THROUGH PANDAS on both sides, because
that is what the driver's comparator does (CORRECTNESS_r01 traceback:
``_canon`` → ``DataFrame.sort_values`` → ``Categorical`` lexsort). Two
consequences the round-1 python-tuple comparator missed:

- list/array-typed output columns are UNHASHABLE in pandas — the driver
  errors out, so this gate hard-fails any oracle-checked key whose Spark
  schema contains Array/Map/Struct columns before even running it;
- engine-side integer widening leaks through formatting: DuckDB's
  ``SUM(int) OVER`` yields HUGEINT, which pandas materializes as
  float/object ("1.0") while Spark emits int64 ("1") — a hash mismatch
  even though the values are equal. Oracles must CAST such columns.

Usage: python tools/check_correctness.py [sf_dir] [key ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf):
    """Driver-shaped canonicalization: columns sorted by name, rows
    stable-sorted by every column. Raises TypeError on list-typed cells
    exactly like the driver's comparator does."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _cell(v) -> str:
    import math

    # pandas NaN/NaT normalize to one token; everything else is str()
    # (matching a comparator that stringifies materialized cells — the
    # reason int64 "1" vs float64 "1.0" must never reach this point
    # with different dtypes for the same logical value).
    try:
        if v is None or v != v:  # NaN/NaT are not equal to themselves
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float) and math.isnan(v):
        return "∅"
    return str(v)


def frame_hash(pdf) -> str:
    pdf = _canon(pdf)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("\x1f".join(_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _nonhashable_columns(sdf):
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    # Per-key runtime budget: the gate's wall-clock is an operational
    # cost every round, and a disproportionately slow DuckDB oracle
    # (the LSH unrolls dominate) deserves a visible flag, not silent
    # drag. Budget is per side (spark / oracle), seconds.
    budget = float(os.environ.get("GATE_KEY_BUDGET_SEC", "20"))
    timings: list[tuple[str, float, float]] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if name in oracles:
                bad_cols = _nonhashable_columns(sdf)
                if bad_cols:
                    print(
                        f"FAIL {name}: array/map/struct output columns "
                        f"{bad_cols} — the driver comparator cannot hash "
                        "these; serialize (array_join) or explode to rows"
                    )
                    failures.append(name)
                    n_fail += 1
                    continue
            spdf = sdf.toPandas()
            # A few keys cache multi-consumer subtrees (sim_semdedup,
            # two_phase_rank); without this, cached relations pile up
            # in executor memory across a full 286-key session.
            spark.catalog.clearCache()
            release_rank_caches()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            failures.append(name)
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(spdf)} rows ({t_spark:.1f}s)")
            timings.append((name, t_spark, 0.0))
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            dpdf = con.sql(oracles[name]).df()
            dcols = list(dpdf.columns)
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            failures.append(name)
            n_fail += 1
            continue
        t_oracle = time.time() - t1
        timings.append((name, t_spark, t_oracle))
        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            try:
                sh, dh = frame_hash(spdf), frame_hash(dpdf)
            except Exception:
                print(f"FAIL {name}: comparator raised (driver would too)")
                traceback.print_exc()
                failures.append(name)
                n_fail += 1
                continue
            if sh != dh:
                problems.append(f"valuehash spark={sh} duck={dh}")
                sc, dc = _canon(spdf), _canon(dpdf)
                for i in range(min(len(sc), len(dc))):
                    a = tuple(_cell(v) for v in sc.iloc[i])
                    b = tuple(_cell(v) for v in dc.iloc[i])
                    if a != b:
                        problems.append(
                            f"  first diff (row {i}):\n  spark={a!r}\n  duck ={b!r}"
                        )
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    if failures:
        print("failures:", " ".join(failures))
    if timings:
        total_s = sum(ts for _, ts, _ in timings)
        total_o = sum(to for _, _, to in timings)
        print(
            f"gate wall-clock: spark {total_s:.0f}s + oracle {total_o:.0f}s"
            f" over {len(timings)} keys"
        )
        slowest = sorted(timings, key=lambda x: -(x[1] + x[2]))[:8]
        for name, ts, to in slowest:
            print(f"  slow: {name} spark={ts:.1f}s oracle={to:.1f}s")
        over = [
            (n, ts, to)
            for n, ts, to in timings
            if ts > budget or to > budget
        ]
        for n, ts, to in over:
            side = "oracle" if to > budget else "spark"
            print(
                f"OVER-BUDGET {n}: {side} side exceeds {budget:.0f}s "
                f"(spark={ts:.1f}s oracle={to:.1f}s) — simplify the "
                "oracle or shrink the key's working set"
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
