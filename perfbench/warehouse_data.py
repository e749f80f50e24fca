"""Seeded generator of the star-schema + events + corpus parquet tables the
registry queries read (region nation customer supplier part orders lineitem
events documents embeddings), at a scale factor ``sf``.

Column names, types and value domains follow the repository's reference
testdata (TESTDATA.md) the queries were written against: TPC-H-shaped keys
and categoricals, dates 1995-2001, one month of events in 2024, a 30-word
corpus with 5% near-duplicates, 64-d unit embeddings. The values themselves
come from ``seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def _table(**cols) -> pa.Table:
    return pa.table(cols)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), int(50_000 * sf), max(int(20_000 * sf), 500)
    i32 = pa.int32()
    out = {
        "region": _table(
            r_regionkey=pa.array(range(5), i32),
            r_name=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        ),
        "nation": _table(
            n_nationkey=pa.array(range(25), i32),
            n_name=[f"NATION_{i}" for i in range(25)],
            n_regionkey=pa.array([i % 5 for i in range(25)], i32),
        ),
        "customer": _table(
            c_custkey=np.arange(n_cust, dtype=np.int64),
            c_name=[f"Customer#{i:09d}" for i in range(n_cust)],
            c_nationkey=pa.array(rng.integers(0, 25, n_cust), i32),
            c_acctbal=_money(rng, -999.99, 9999.99, n_cust),
            c_mktsegment=np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        ),
        "supplier": _table(
            s_suppkey=np.arange(n_supp, dtype=np.int64),
            s_name=[f"Supplier#{i:09d}" for i in range(n_supp)],
            s_nationkey=pa.array(rng.integers(0, 25, n_supp), i32),
            s_acctbal=_money(rng, -999.99, 9999.99, n_supp),
        ),
        "part": _table(
            p_partkey=np.arange(n_part, dtype=np.int64),
            p_name=[f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            p_brand=[f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            p_type=np.array(TYPES)[rng.integers(0, 6, n_part)],
            p_size=pa.array(rng.integers(1, 51, n_part), i32),
            p_retailprice=np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        ),
        "orders": _table(
            o_orderkey=np.arange(n_ord, dtype=np.int64),
            o_custkey=rng.integers(0, n_cust, n_ord),
            o_orderstatus=np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            o_totalprice=_money(rng, 1000.0, 500_000.0, n_ord),
            o_orderdate=_days(rng, "1995-01-01", "2001-08-01", n_ord),
            o_orderpriority=np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        ),
        "lineitem": _table(
            l_orderkey=rng.integers(0, n_ord, n_li),
            l_partkey=rng.integers(0, n_part, n_li),
            l_suppkey=rng.integers(0, n_supp, n_li),
            l_linenumber=pa.array(rng.integers(1, 8, n_li), i32),
            l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
            l_extendedprice=_money(rng, 900.0, 105_000.0, n_li),
            l_discount=rng.integers(0, 11, n_li) / 100.0,
            l_tax=rng.integers(0, 9, n_li) / 100.0,
            l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            l_linestatus=np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            l_shipdate=_days(rng, "1995-01-02", "2001-11-04", n_li),
        ),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = _table(
        event_id=np.arange(n_ev, dtype=np.int64),
        ts=ts.astype("datetime64[us]"),
        user_id=rng.integers(0, n_users, n_ev),
        event_type=np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        value=np.round(rng.exponential(50.0, n_ev), 2),
        props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
            texts.append(" ".join(words))
    out["documents"] = _table(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=texts,
        lang=np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        source=[f"src{i % 20}" for i in range(n_docs)],
        n_chars=np.array([len(t) for t in texts], dtype=np.int64),
    )
    x = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = _table(
        vec_id=np.arange(n_vec, dtype=np.int64),
        embedding=pa.array(list(x), pa.list_(pa.float32())),
        label=pa.array(rng.integers(0, 10, n_vec), i32),
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write one parquet per table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
