"""The generators are pure functions of the seed, and the expectation
they return matches their own output."""

import filecmp
import json
import os
import random

import duckdb

import gen


def _write_all(root, seed):
    gen.write_singer_inputs(os.path.join(root, "singer"), seed, 400, 4, 3)
    gen.write_tables(os.path.join(root, "tables"), seed, 0.05)
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def _same(a, b, files):
    return all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    files = _write_all(a, 7)
    assert files == _write_all(b, 7)
    assert _same(a, b, files)
    assert files == _write_all(c, 8)
    for f in files:
        if f.endswith(("log.jsonl", "lineitem.parquet", "documents.parquet")):
            assert not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False), f


def _lines(path):
    with open(path) as f:
        return f.read().splitlines()


def test_log_shape_and_expectation(tmp_path):
    exp = gen.write_singer_inputs(str(tmp_path), 3, 1000, 5, 2)
    lines = [json.loads(x) for x in _lines(exp["log"])]
    kinds = [m["type"] for m in lines]
    assert kinds[:5] == ["SCHEMA"] * 5
    assert kinds.count("RECORD") == exp["records"] == 1000
    assert kinds.count("STATE") == exp["state_messages"]
    assert lines[-1] == {"type": "STATE", "value": exp["state"]}
    rows = list(exp["rows"].values())
    assert rows == sorted(rows, reverse=True) and rows[-1] >= 1  # Zipf, none empty
    # nested three levels deep, flattened parent__child
    assert "customer__address__geo__lat" in exp["columns"]["orders"]
    assert exp["checksums"]["orders"]["id"][0] == exp["rows"]["orders"]
    chunk_lines = sum(len(_lines(os.path.join(exp["chunks"], f))) for f in os.listdir(exp["chunks"]))
    assert chunk_lines == len(lines) + 5  # every chunk after the first repeats the header


def test_checksum_sql_reads_back_expectation(tmp_path):
    schema = gen._orders_schema()
    rng = random.Random(1)
    records = [gen._orders_record(rng, i) for i in range(50)]
    kinds = gen.leaf_kinds(schema)
    flat = {k: [gen._leaf(r, k) for r in records] for k in kinds}
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            "(" + ", ".join(_lit(kinds[k], flat[k][i]) for k in kinds) + ")" for i in range(len(records))
        )
        + ") v(" + ", ".join(f'"{k}"' for k in kinds) + ")"
    )
    path = str(tmp_path / "t.parquet")
    con.sql(f"COPY t TO '{path}' (FORMAT parquet)")
    got = [int(x) for x in con.sql(gen.checksum_sql(path, kinds)).fetchone()]
    want = [len(records)]
    for k, pair in gen.expected_checksums(schema, records).items():
        want.extend(pair)
    assert got == want


def _lit(kind, v):
    if v is None:
        cast = {"integer": "BIGINT", "number": "DOUBLE", "boolean": "BOOLEAN", "string": "VARCHAR",
                "array": "VARCHAR[]", "timestamp": "TIMESTAMP"}[kind]
        return f"CAST(NULL AS {cast})"
    if kind == "string":
        return "'" + v.replace("'", "''") + "'"
    if kind == "array":
        return "[" + ", ".join(f"'{x}'" if isinstance(x, str) else str(x) for x in v) + "]"
    if kind == "timestamp":
        return f"TIMESTAMP '{v.replace('T', ' ').rstrip('Z')}'"
    return str(v).lower() if kind == "boolean" else str(v)
