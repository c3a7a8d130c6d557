"""Seeded input generators for the benchmark.

Two inputs, both pure functions of ``seed``:

- a Singer message log: ``n_streams`` streams with Zipf-skewed record
  counts, SCHEMA messages first, RECORDs of all streams interleaved,
  STATE bookmarks every few hundred lines. The largest stream nests
  objects three levels deep and carries arrays, ``required``, integer
  bounds, ``maxLength``, ``number`` and ``date-time`` properties; every
  record is valid under its schema, so strict validation passes.
  The log is written once whole (batch ingest) and once split into
  chunk files (streaming ingest).
- the query tables (``region nation customer supplier orders lineitem
  documents embeddings``) with the column names and Parquet types of
  the project's synthetic TPC-H-ish test data.

Alongside each log the generator returns what a correct sink must
produce: rows per stream, the final STATE, and per flattened column a
(non-null count, checksum) pair that ``checksum_sql`` recomputes from
the written Parquet.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

SEP = "__"
EPOCH0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

# --------------------------------------------------------------------------
# Singer log


def _orders_schema() -> dict:
    """The wide, nested stream: objects three levels deep, arrays and
    every constraint kind the validator compiles."""
    return {
        "type": ["null", "object"],
        "required": ["id", "status"],
        "properties": {
            "id": {"type": "integer", "minimum": 0, "maximum": 2_000_000_000},
            "status": {"type": "string", "maxLength": 12},
            "priority": {"type": ["null", "integer"], "minimum": 1, "maximum": 5},
            "amount": {"type": ["null", "number"]},
            "paid": {"type": ["null", "boolean"]},
            "updated_at": {"type": ["null", "string"], "format": "date-time"},
            "tags": {"type": ["null", "array"], "items": {"type": "string"}},
            "customer": {
                "type": ["null", "object"],
                "properties": {
                    "cid": {"type": ["null", "integer"]},
                    "name": {"type": ["null", "string"], "maxLength": 40},
                    "address": {
                        "type": ["null", "object"],
                        "properties": {
                            "city": {"type": ["null", "string"]},
                            "zip": {"type": ["null", "string"], "maxLength": 5},
                            "geo": {
                                "type": ["null", "object"],
                                "properties": {
                                    "lat": {"type": ["null", "number"]},
                                    "lon": {"type": ["null", "number"]},
                                },
                            },
                        },
                    },
                },
            },
            "lines": {"type": ["null", "array"], "items": {"type": "integer"}},
            "discount": {"type": ["null", "number"]},
        },
    }


def _flat_schema(i: int) -> dict:
    """A flat stream schema; the property mix varies with ``i``."""
    props = {
        "id": {"type": "integer", "minimum": 0},
        "name": {"type": ["null", "string"], "maxLength": 24},
        "score": {"type": ["null", "number"]},
        "count": {"type": ["null", "integer"], "minimum": 0, "maximum": 1000},
    }
    if i % 2:
        props["active"] = {"type": ["null", "boolean"]}
    if i % 3 == 0:
        props["meta"] = {
            "type": ["null", "object"],
            "properties": {
                "src": {"type": ["null", "string"]},
                "rank": {"type": ["null", "integer"]},
            },
        }
    if i % 4 == 1:
        props["seen_at"] = {"type": ["null", "string"], "format": "date-time"}
    return {"type": ["null", "object"], "required": ["id"], "properties": props}


def _iso(sec: int) -> str:
    return dt.datetime.fromtimestamp(EPOCH0 + sec, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _maybe(rng: random.Random, value, p_null: float = 0.1):
    return None if rng.random() < p_null else value


def _word(rng: random.Random) -> str:
    return rng.choice(WORDS)


def _cents(rng: random.Random, hi: int) -> float:
    return rng.randrange(hi * 100) / 100


def _orders_record(rng: random.Random, rid: int) -> dict:
    rec = {
        "id": rid,
        "status": rng.choice(["open", "shipped", "returned", "cancelled"]),
        "priority": _maybe(rng, rng.randint(1, 5)),
        "amount": _maybe(rng, _cents(rng, 10_000)),
        "paid": _maybe(rng, rng.random() < 0.5),
        "updated_at": _maybe(rng, _iso(rng.randrange(365 * 86400))),
        "tags": _maybe(rng, [_word(rng) for _ in range(rng.randint(0, 4))]),
        "customer": _maybe(
            rng,
            {
                "cid": rng.randrange(50_000),
                "name": _maybe(rng, f"Customer#{rng.randrange(10**6):06d}"),
                "address": _maybe(
                    rng,
                    {
                        "city": _maybe(rng, _word(rng).title()),
                        "zip": f"{rng.randrange(10**5):05d}",
                        "geo": _maybe(
                            rng,
                            {
                                "lat": _cents(rng, 90),
                                "lon": _cents(rng, 180),
                            },
                        ),
                    },
                ),
            },
        ),
        "lines": [rng.randrange(1000) for _ in range(rng.randint(1, 6))],
        "discount": _maybe(rng, rng.randrange(11) / 100),
    }
    if rng.random() < 0.05:  # Singer records may omit optional keys
        del rec["discount"]
    return rec


def _flat_record(rng: random.Random, schema: dict, rid: int) -> dict:
    props = schema["properties"]
    rec = {
        "id": rid,
        "name": _maybe(rng, " ".join(_word(rng) for _ in range(rng.randint(1, 3)))[:24]),
        "score": _maybe(rng, _cents(rng, 100)),
        "count": _maybe(rng, rng.randrange(1001)),
    }
    if "active" in props:
        rec["active"] = _maybe(rng, rng.random() < 0.3)
    if "meta" in props:
        rec["meta"] = _maybe(
            rng, {"src": f"src{rng.randrange(20)}", "rank": rng.randrange(100)}
        )
    if "seen_at" in props:
        rec["seen_at"] = _maybe(rng, _iso(rng.randrange(30 * 86400)))
    return rec


def stream_counts(n_records: int, n_streams: int, zipf_s: float = 1.1) -> list[int]:
    """Zipf-skewed record count per stream, summing to ``n_records``,
    every stream non-empty."""
    w = [1 / (i + 1) ** zipf_s for i in range(n_streams)]
    counts = [max(1, int(n_records * x / sum(w))) for x in w]
    counts[0] += n_records - sum(counts)
    return counts


def singer_log(seed: int, n_records: int, n_streams: int = 10, state_every: int = 500):
    """Return (lines, schemas, records_by_stream, final_state)."""
    rng = random.Random(seed)
    names = ["orders"] + [f"stream_{i:02d}" for i in range(1, n_streams)]
    schemas = {"orders": _orders_schema()}
    for i, s in enumerate(names[1:], start=1):
        schemas[s] = _flat_schema(i)
    counts = stream_counts(n_records, n_streams)
    records: dict[str, list[dict]] = {s: [] for s in names}
    for s, n in zip(names, counts):
        base = rng.randrange(10**6)
        for k in range(n):
            rid = base + k
            records[s].append(
                _orders_record(rng, rid)
                if s == "orders"
                else _flat_record(rng, schemas[s], rid)
            )
    order = [s for s, n in zip(names, counts) for _ in range(n)]
    rng.shuffle(order)

    lines = [
        json.dumps(
            {"type": "SCHEMA", "stream": s, "schema": schemas[s], "key_properties": ["id"]}
        )
        for s in names
    ]
    cursor = {s: 0 for s in names}
    state = None
    for pos, s in enumerate(order, start=1):
        rec = records[s][cursor[s]]
        cursor[s] += 1
        msg = {"type": "RECORD", "stream": s, "record": rec}
        if s == "orders":
            msg["time_extracted"] = _iso(pos)
        lines.append(json.dumps(msg))
        if pos % state_every == 0 or pos == len(order):
            state = {"bookmarks": {s: {"pos": pos, "seed": seed}}}
            lines.append(json.dumps({"type": "STATE", "value": state}))
    return lines, schemas, records, state


def write_singer_inputs(
    root: str, seed: int, n_records: int, n_streams: int, n_chunks: int
) -> dict:
    """Write ``root/log.jsonl`` (whole log) and ``root/chunks/chunk-*.jsonl``
    (the same log split for streaming). Every chunk repeats the SCHEMA
    header, as a tap re-run would; chunk modification times ascend so a
    file-stream source drains them in order. Returns the expectation."""
    lines, schemas, records, state = singer_log(seed, n_records, n_streams)
    os.makedirs(os.path.join(root, "chunks"), exist_ok=True)
    log = os.path.join(root, "log.jsonl")
    with open(log, "w") as f:
        f.write("\n".join(lines) + "\n")
    header, body = lines[:n_streams], lines[n_streams:]
    size = -(-len(body) // n_chunks)
    for c in range(n_chunks):
        path = os.path.join(root, "chunks", f"chunk-{c:03d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(header + body[c * size : (c + 1) * size]) + "\n")
        os.utime(path, (EPOCH0 + c, EPOCH0 + c))
    return {
        "log": log,
        "chunks": os.path.join(root, "chunks"),
        "log_bytes": os.path.getsize(log),
        "records": sum(len(r) for r in records.values()),
        "rows": {s: len(r) for s, r in records.items()},
        "state": state,
        "state_messages": sum(1 for line in body if line.startswith('{"type": "STATE"')),
        "columns": {s: leaf_kinds(schemas[s]) for s in schemas},
        "checksums": {s: expected_checksums(schemas[s], records[s]) for s in schemas},
    }


# --------------------------------------------------------------------------
# Expected output of a correct sink


def leaf_kinds(schema: dict, prefix: str = "") -> dict[str, str]:
    """Flattened leaf column → checksum kind, in the sink's
    ``parent__child`` naming."""
    out: dict[str, str] = {}
    for name, prop in schema["properties"].items():
        key = f"{prefix}{SEP}{name}" if prefix else name
        t = prop["type"]
        t = [x for x in ([t] if isinstance(t, str) else t) if x != "null"][0]
        if t == "object":
            out.update(leaf_kinds(prop, key))
        elif t == "string" and prop.get("format") == "date-time":
            out[key] = "timestamp"
        else:
            out[key] = t
    return out


def _leaf(rec: dict | None, key: str):
    for part in key.split(SEP):
        if not isinstance(rec, dict):
            return None
        rec = rec.get(part)
    return rec


def _measure(kind: str, v) -> int:
    if kind == "integer":
        return int(v)
    if kind == "number":
        return round(v * 100)
    if kind == "boolean":
        return int(v)
    if kind == "string":
        return len(v)
    if kind == "array":
        return len(v)
    if kind == "timestamp":
        return int(
            dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
        )
    raise ValueError(kind)


def expected_checksums(schema: dict, records: list[dict]) -> dict[str, list[int]]:
    """Per leaf column: [non-null count, sum of its measure]."""
    out = {}
    for key, kind in leaf_kinds(schema).items():
        vals = [v for v in (_leaf(r, key) for r in records) if v is not None]
        out[key] = [len(vals), sum(_measure(kind, v) for v in vals)]
    return out


_SQL_MEASURE = {
    "integer": "CAST({c} AS BIGINT)",
    "number": "CAST(round({c} * 100) AS BIGINT)",
    "boolean": "CAST({c} AS BIGINT)",
    "string": "length({c})",
    "array": "len({c})",
    "timestamp": "CAST(epoch({c}) AS BIGINT)",
}


def checksum_sql(parquet_glob: str, kinds: dict[str, str]) -> str:
    """DuckDB query returning one row: count(*), then per column
    count(col), sum(measure(col)) — the order-independent twin of
    ``expected_checksums``."""
    parts = ["count(*)"]
    for key, kind in kinds.items():
        c = f'"{key}"'
        parts.append(f"count({c})")
        parts.append(f"CAST(coalesce(sum({_SQL_MEASURE[kind].format(c=c)}), 0) AS HUGEINT)")
    return f"SELECT {', '.join(parts)} FROM read_parquet('{parquet_glob}')"


# --------------------------------------------------------------------------
# Query tables

TABLE_ROWS = {  # per unit of scale; lineitem ~4 lines per order
    "customer": 1500,
    "supplier": 100,
    "orders": 15000,
    "documents": 500,
    "embeddings": 500,
}


def write_tables(root: str, seed: int, scale: float) -> dict[str, int]:
    """Write the eight query tables as Parquet under ``root``; return
    rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {k: max(20, int(v * scale)) for k, v in TABLE_ROWS.items()}
    ts = pa.timestamp("us")
    day = 86_400_000_000
    t0 = 725_846_400 * 1_000_000  # 1993-01-01 in µs

    def money(size, lo, hi):
        return np.round(rng.uniform(lo, hi, size), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": regions,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    nc, ns, no = n["customer"], n["supplier"], n["orders"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": money(nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": money(ns, -999.99, 9999.99),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": money(no, 900, 500_000),
            "o_orderdate": pa.array(t0 + rng.integers(0, 3650, no) * day, ts),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    okeys = np.repeat(np.arange(no), per_order)
    linenos = np.concatenate([np.arange(1, k + 1) for k in per_order])
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20 * TABLE_ROWS["supplier"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenos, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": money(nl, 900, 105_000),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(t0 + rng.integers(0, 3650, nl) * day, ts),
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.08:
            # near duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 80))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
