"""Seeded generator for the star-schema + corpus tables the query panel reads.

The operator registry reads `{sf_dir}/<table>.parquet` for ten tables. The
benchmark may read only inside its own checkout, so it writes them itself,
with the column names, types and value ranges of the repository's sf0.001
test tables (about 6,000 lineitem rows). Every value is a function of the
seed; each table draws from its own stream, so adding a column to one table
leaves the others unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}
EVENT_USERS = 15
EMB_DIM = 64
DUP_SHARE = 0.05  # documents that copy another document plus " dup"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["cold", "red", "blue", "small", "large", "green", "steel", "soft"]
_PART_NOUN = ["widget", "bolt", "ring", "gear", "pipe", "valve", "spring",
              "plate"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return pa.array(base + offsets.astype("int64") * _DAY_US,
                    type=pa.timestamp("us"))


def _i32(values):
    return pa.array(np.asarray(values, dtype=np.int32))


def _region(rng):
    return {"r_regionkey": _i32(range(5)), "r_name": _REGIONS}


def _nation(rng):
    return {"n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32(rng.integers(0, 5, 25))}


def _customer(rng):
    n = ROWS["customer"]
    return {"c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": _i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": list(rng.choice(_SEGMENTS, n))}


def _supplier(rng):
    n = ROWS["supplier"]
    return {"s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": _i32(rng.integers(0, 25, n)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)}


def _part(rng):
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    return {"p_partkey": keys,
            "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                       for _ in range(n)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": list(rng.choice(_PART_TYPES, n)),
            "p_size": _i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}


def _orders(rng):
    n = ROWS["orders"]
    return {"o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, ROWS["customer"], n),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(_EPOCH_1995, rng.integers(0, 2400, n)),
            "o_orderpriority": list(rng.choice(_PRIORITIES, n))}


def _lineitem(rng):
    n = ROWS["lineitem"]
    return {"l_orderkey": rng.integers(0, ROWS["orders"], n),
            "l_partkey": rng.integers(0, ROWS["part"], n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": _i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": list(rng.choice(["F", "O"], n)),
            "l_shipdate": _days(_EPOCH_1995 + _DAY_US,
                                rng.integers(0, 2500, n))}


def _events(rng):
    n = ROWS["events"]
    month_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, month_us, n))
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, EVENT_USERS, n),
            "event_type": list(rng.choice(_EVENT_TYPES, n)),
            "value": _money(rng, 0.01, 500.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def _documents(rng):
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        src = int(rng.integers(0, n))
        if src != i and not texts[src].endswith(" dup"):
            texts[i] = texts[src] + " dup"
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": list(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng):
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, n))}


_BUILDERS = [("region", _region), ("nation", _nation),
             ("customer", _customer), ("supplier", _supplier),
             ("part", _part), ("orders", _orders),
             ("lineitem", _lineitem), ("events", _events),
             ("documents", _documents), ("embeddings", _embeddings)]
TABLES = [name for name, _ in _BUILDERS]


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as `{out_dir}/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for idx, (name, build) in enumerate(_BUILDERS):
        table = pa.table(build(np.random.default_rng([seed, idx])))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
