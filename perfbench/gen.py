"""Seeded input generators. The program only ever sees what these write.

- ``land_cycle``: one cycle of small hive-partitioned Parquet files for the
  continuous-commit workload.
- ``write_sf_tables``: the ten TPC-H-shaped tables the query registry reads
  (same names, columns, types and value domains as the repo's test data).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANDING_SCHEMA = pa.schema([("id", pa.int64()), ("v", pa.float64()), ("tag", pa.string())])


def land_cycle(
    seed: int,
    data_dir: str,
    cycle: int,
    n_files: int,
    rows_per_file: int,
    n_partitions: int,
    mtime_s: float,
) -> list[str]:
    """Write one cycle's ``n_files`` Parquet files into ``p=<k>`` dirs, all
    with mtime ``mtime_s`` (the Parquet source groups a commit by mtime).
    Ids are unique across cycles. Returns the written paths."""
    rng = np.random.default_rng([seed, cycle])
    paths = []
    for f in range(n_files):
        first = (cycle * n_files + f) * rows_per_file
        ids = np.arange(first, first + rows_per_file, dtype=np.int64)
        table = pa.table(
            {
                "id": ids,
                "v": np.round(rng.normal(0.0, 100.0, rows_per_file), 4),
                "tag": [f"t{x}" for x in rng.integers(0, 97, rows_per_file)],
            },
            schema=LANDING_SCHEMA,
        )
        d = os.path.join(data_dir, f"p={(cycle + f) % n_partitions}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"c{cycle:05d}-f{f:02d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime_s, mtime_s))
        paths.append(path)
    return paths


_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xC2B2AE3D27D4EB4F)


def rows_digest(table: pa.Table) -> tuple[int, int]:
    """(row count, order-insensitive 64-bit digest) of landing rows."""
    ids = table.column("id").to_numpy().astype(np.uint64)
    v = np.ascontiguousarray(table.column("v").to_numpy(), dtype=np.float64).view(np.uint64)
    tags = np.array([hash_str(s) for s in table.column("tag").to_pylist()], dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = (ids * _M1) ^ (v * _M2) ^ (tags * _M1 * _M2)
        h ^= h >> np.uint64(29)
        h *= _M2
        return table.num_rows, int(h.sum(dtype=np.uint64))


def hash_str(s: str) -> int:
    """Stable 64-bit FNV-1a of a short string (Python's hash() is salted)."""
    h = 0xCBF29CE484222325
    for b in s.encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


# -- TPC-H-shaped query tables ---------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's ten input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()

    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_orders)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_EPOCH_1995.astype(np.int64) + order_days * _US_PER_DAY),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        }
    )
    ship_days = rng.integers(1, 2499, n_line)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995.astype(np.int64) + ship_days * _US_PER_DAY),
        }
    )
    ev_gap = rng.exponential(259.2 * 1e6 * (0.01 / sf), n_events).astype(np.int64) + 1
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(ev_gap)),
            "user_id": rng.integers(0, n_cust, n_events),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for _ in range(n_docs):
        words = rng.integers(0, len(_WORDS), int(rng.integers(10, 90)))
        texts.append(" ".join(_WORDS[w] for w in words))
    # near-duplicates: ~5% of docs repeat an earlier doc plus a "dup" token
    for i in range(1, n_docs):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_sf_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in sf_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
