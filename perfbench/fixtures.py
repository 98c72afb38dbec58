"""Seeded synthetic corpus for the benchmark.

Writes the ten corpus tables (`spype_spark.tables.TABLES`) as one
Parquet file each, with the schemas and value domains FIXTURES.md
documents for the repository's test corpus: a TPC-H-ish star schema,
an ``events`` stream, near-duplicate ``documents`` and unit-norm
64-dim ``embeddings``. Every value comes from ``numpy`` seeded with the
benchmark seed, so one seed always yields the same bytes of input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per scale (documents/embeddings do not scale with sf,
#: as in the test corpus).
SCALES = {
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150,
                   documents=500, embeddings=500),
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, users=15,
                    documents=500, embeddings=500),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _day_ts(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return pa.array(base + days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype="int64")


def build_tables(seed: int, scale: str) -> dict[str, pa.Table]:
    """All corpus tables for one seed, as Arrow tables."""
    n = SCALES[scale]
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": _keys(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": _keys(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": _keys(npart),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": _keys(no),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _day_ts("1995-01-01", rng.integers(0, 2404, no)),
        "o_orderpriority": rng.choice(_PRIOS, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _day_ts("1995-01-02", rng.integers(0, 2498, nl)),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype("int64")
    ts0 = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": _keys(ne),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne).astype("int64"),
        "event_type": rng.choice(_EVENTS, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _keys(nv),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype("int32"),
    })
    return t


def _documents(rng, nd: int) -> pa.Table:
    """Word-salad texts over a 30-word vocabulary; ~5 % of docs are an
    earlier doc's text plus the token ``dup`` (the near-duplicate
    pairs the dedup kernels must find)."""
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, nd)
    ]
    for i in sorted(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": _keys(nd),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def write_corpus(out_dir: str, seed: int, scale: str) -> str:
    """Write every table to ``out_dir/<table>.parquet``; returns
    ``out_dir`` (the ``sf_dir`` registry functions take)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in build_tables(seed, scale).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
