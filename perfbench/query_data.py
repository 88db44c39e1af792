"""Seeded input tables for the headline queries.

``write_tables(out_dir, seed)`` writes the ten parquet tables the query
registry reads (``genie_spark.session.TESTDATA_TABLES``): a TPC-H-style
star schema, an ``events`` stream, a ``documents`` corpus with planted
near-duplicates, and unit-norm ``embeddings``. Column names, types and
value domains follow the repository's reference testdata
(``tools/testdata_schema.json``). Every row count is that testdata's sf0.1
count times one factor, ``SCALE``: at 0.1 the 22 queries take about 40 s
on a 4-core host, which keeps a whole run near one minute.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 reference testdata; ``event_users`` is its
# number of distinct ``events.user_id``
SF01_ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "event_users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}
SCALE = 0.1
ROWS = {name: round(n * SCALE) for name, n in SF01_ROWS.items()}
DIM = 64
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a), pa.int32())


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a), pa.int64())


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _i32(np.arange(25) % 5),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _i64(range(n["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": _i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": _i64(range(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": _i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    adj = np.array("small red blue hot old large new cold".split())
    noun = np.array("ring widget bolt gear gizmo plate anvil rod".split())
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    parts = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": _i64(parts),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n["part"])], " "),
                              noun[rng.integers(0, 8, n["part"])]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": _i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900.0 + (parts % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": _i64(range(n["orders"])),
        "o_custkey": _i64(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000.0, 499999.99, n["orders"]),
        "o_orderdate": _dates(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n["orders"])],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": _i64(rng.integers(0, n["orders"], nl)),
        "l_partkey": _i64(rng.integers(0, n["part"], nl)),
        "l_suppkey": _i64(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": _i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.99, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False)) + np.datetime64("2024-01-01", "us")
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    t["events"] = pa.table({
        "event_id": _i64(range(ne)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": _i64(rng.integers(0, n["event_users"], ne)),
        "event_type": kinds[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2).clip(0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
            texts.append(" ".join(words))
    langs, weights = zip(*LANGS)
    t["documents"] = pa.table({
        "doc_id": _i64(range(nd)),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), nd, p=weights)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": _i64([len(s) for s in texts]),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.05, (10, DIM))
    vecs = rng.normal(0.0, 1.0, (nv, DIM)) * 0.125 + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _i64(range(nv)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": _i32(labels),
    })
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
