"""Seeded generator for the benchmark's input tables.

The benchmark may read nothing outside its checkout, so it builds its own
copy of the test lakehouse: the ten tables of the sf0.1 tier, with the
schemas, row counts and value domains of the reference test corpus the
catalog is written against.

Everything is a pure function of :data:`CORPUS_SEED`, so the stored
expected fingerprints (``expected.json``) hold for every build. Building
takes a few seconds and is not timed; a finished build is marked with a
stamp file and reused.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
#: bump when the generated bytes change; a stale build is rebuilt
LAYOUT = 1

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "large", "hot", "new", "small", "green", "old"]
PART_NOUN = ["ring", "bolt", "rod", "plate", "anvil", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400_000_000


def _days_us(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def base_tables(seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """The sf0.1-shaped tables, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(SEGMENTS).take(
            rng.integers(0, 5, n["customer"])
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": pa.array(names).take(rng.integers(0, len(names), np_)),
        "p_brand": pa.array([f"Brand#{k}" for k in range(1, 26)]).take(
            rng.integers(0, 25, np_)
        ),
        "p_type": pa.array(PART_TYPES).take(rng.integers(0, 6, np_)),
        "p_size": rng.integers(1, 51, np_).astype(i32),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(
            rng.integers(0, 3, no)
        ),
        "o_totalprice": _money(rng, 1000.0, 450000.0, no),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, no)),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, nl)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, nl)),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl)),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * _DAY_US - 60_000_000
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(start + np.sort(rng.integers(0, span, ne))),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, ne)),
        "value": np.minimum(np.round(rng.exponential(48.0, ne), 2), 560.21),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(i32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; one in twenty
    re-uses an earlier document with one word swapped for ``dup``, so the
    near-duplicate detectors have true pairs to find."""
    texts: list[str] = []
    for k in range(n):
        if k >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, k))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            idx = rng.integers(0, len(WORDS), int(rng.integers(8, 100)))
            words = [WORDS[j] for j in idx]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(LANGS).take(rng.choice(5, n, p=LANG_P)),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def stamp() -> str:
    return json.dumps({"seed": CORPUS_SEED, "layout": LAYOUT, "rows": ROWS})


def ensure(root: str) -> str:
    """Build the corpus under ``root`` unless a current build exists and
    return the table directory, in the layout
    ``sources.readers.load_table`` reads (``<dir>/<name>.parquet``)."""
    tables_dir = os.path.join(root, "sf0.1")
    ready = os.path.join(root, "_READY")
    if os.path.exists(ready):
        with open(ready) as f:
            if f.read() == stamp():
                return tables_dir
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(tables_dir)
    for name, table in base_tables().items():
        pq.write_table(table, os.path.join(tables_dir, f"{name}.parquet"))
    with open(ready, "w") as f:
        f.write(stamp())
    return tables_dir
