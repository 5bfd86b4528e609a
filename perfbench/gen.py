"""Seeded input generators. The program under test only ever sees the files
these write; the same seed always produces the same bytes.

- :func:`write_tables` writes the ten analytics tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  schemas and value distributions of the engine's standard test data.
- :func:`write_bronze_round` writes one collector round of bronze product
  JSON files (FIXTURES.md section 1).
- :func:`write_event_split` writes the event-time-ordered split of an
  ``events`` table that the streaming workload replays file by file.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at scale 1.0; a run uses ``scale`` times these.
TABLE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
CATEGORIES = [
    "Electronics", "Food", "Clothing", "Books", "Toys",
    "Garden", "Sports", "Beauty", "Home", "Automotive",
]
DESC_OPENERS = [
    "A reliable", "An everyday", "A premium", "A budget", "A compact",
    "A handy", "A durable", "A lightweight",
]
DESC_CLAIMS = [
    "Works well for daily use.", "Customers say it feels good.",
    "Ships in recycled packaging.", "Easy to clean and store.",
    "Comes with a one-year warranty.", "Not for outdoor use.",
]

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates_us(rng, start: dt.datetime, end: dt.datetime, n: int) -> np.ndarray:
    days = (end - start).days
    return _us(start) + rng.integers(0, days + 1, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {k: max(10, int(v * scale)) for k, v in TABLE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _ts(_dates_us(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), o)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype("int64"),
        "l_partkey": rng.integers(0, p, li).astype("int64"),
        "l_suppkey": rng.integers(0, s, li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(_dates_us(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), li)),
    })
    e = n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, e)) + _us(dt.datetime(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(2, int(e * 0.015)), e).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype("int32"),
    })
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> int:
    """Write ``{out_dir}/{table}.parquet`` for every analytics table and
    return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    total = 0
    for name, table in _tables(rng, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        total += os.path.getsize(path)
    return total


def _user_pool(rng: np.random.Generator, n: int = 5000) -> list[str]:
    return [str(uuid.UUID(bytes=rng.bytes(16), version=4)) for _ in range(n)]


def bronze_rows(seed: int, round_no: int, rows: int) -> list[dict]:
    """One collector round of bronze products (FIXTURES.md section 1).

    Users come from a fixed 5,000-UUID pool and shops from a 10,000
    ``shop_{i}`` pool, both assigned ``row_index % pool`` after a seeded
    shuffle. Round ``r`` starts ``r * rows / 2`` rows past a seeded offset
    into the pools, so consecutive rounds share half their user and shop
    keys, and all their date keys.
    """
    pool_rng = np.random.default_rng([seed, 2])
    users = _user_pool(pool_rng)
    shops = [f"shop_{i}" for i in pool_rng.permutation(10_000)]
    base = int(pool_rng.integers(0, 5000)) + round_no * (rows // 2)
    rng = np.random.default_rng([seed, 3, round_no])
    day0 = dt.date(2024, 3, 1)
    out = []
    for i in range(rows):
        cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        name = f"Product_{int(rng.integers(1, 501))}"
        desc = (
            f"{DESC_OPENERS[int(rng.integers(0, len(DESC_OPENERS)))]} "
            f"{cat.lower()} product, {name}."
        )
        if rng.random() < 0.5:
            desc += " " + DESC_CLAIMS[int(rng.integers(0, len(DESC_CLAIMS)))]
        out.append({
            "product_name": name,
            "price": round(float(rng.uniform(1.0, 500.0)), 2),
            "quantity": int(rng.integers(1, 21)),
            "category": cat,
            "description": desc,
            "availability": bool(rng.random() < 0.9),
            "discount_percentage": round(float(rng.uniform(0.0, 50.0)), 2),
            "date": str(day0 + dt.timedelta(days=int(rng.integers(0, 30)))),
            "id": users[(base + i) % len(users)],
            "shop_id": shops[(base + i) % len(shops)],
        })
    return out


def write_bronze_round(
    out_dir: str, seed: int, round_no: int, rows: int, files: int
) -> list[str]:
    """Write one round as ``files`` JSON-lines files named
    ``{iso-ts}_{uuid}.json``; file sizes alternate between multiples and
    non-multiples of the 25-row LLM batch. Returns the paths written."""
    os.makedirs(out_dir, exist_ok=True)
    recs = bronze_rows(seed, round_no, rows)
    rng = np.random.default_rng([seed, 4, round_no])
    cuts = np.linspace(0, rows, files + 1).astype(int)
    cuts[1:-1] += np.where(np.arange(1, files) % 2 == 1, 13, 0)
    cuts = np.minimum(cuts, rows)
    stamp = dt.datetime(2024, 3, 1) + dt.timedelta(hours=round_no)
    paths = []
    for f in range(files):
        name = f"{stamp:%Y-%m-%dT%H-%M-%S}_{uuid.UUID(bytes=rng.bytes(16), version=4)}.json"
        path = os.path.join(out_dir, name)
        with open(path, "w") as fh:
            for rec in recs[cuts[f]:cuts[f + 1]]:
                fh.write(json.dumps(rec) + "\n")
        paths.append(path)
    return paths


def write_event_split(events_path: str, out_dir: str, files: int) -> list[str]:
    """Split an ``events`` parquet table, in event-time order, into
    ``files`` consecutive parquet files named so that file order is
    event-time order. ``ts`` is written as a UTC instant, matching the
    ``TIMESTAMP`` the stream's declared schema reads."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_path).sort_by("ts")
    table = table.set_column(
        table.schema.get_field_index("ts"), "ts",
        table["ts"].cast(pa.timestamp("us", "UTC")),
    )
    cuts = np.linspace(0, table.num_rows, files + 1).astype(int)
    paths = []
    for f in range(files):
        path = os.path.join(out_dir, f"events-{f:04d}.parquet")
        _write(table.slice(cuts[f], cuts[f + 1] - cuts[f]), path)
        paths.append(path)
    return paths
