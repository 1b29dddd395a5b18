"""Seeded generator of the benchmark's input tables.

Writes the parquet tables the workloads read, in the layout and
physical types the engine's loaders expect (one file per table, one row
group, int64 keys, microsecond timestamps): the TPC-H-like star schema
(`region nation customer part orders lineitem`) and the vector table
`embeddings`. The value distributions follow the engine's reference
corpus; `sf` scales the star schema the way TPC-H does (lineitem =
6M x sf rows), while `embeddings` has its own size because the k-means
operators are sized by their own corpus, not by the fact table.

The same (seed, sf, vectors) always gives byte-identical tables;
`perfbench/run.py` calls `generate` once per seed.
"""
import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
DIM = 64
LABELS = 10


def _days(rng, n, first, last):
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    off = rng.integers(0, span + 1, n)
    return (np.datetime64(first) + off).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df, out, name):
    df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False,
                  engine="pyarrow", compression="snappy",
                  coerce_timestamps="us", allow_truncated_timestamps=False)


def star_schema(rng, sf):
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    nation = pd.DataFrame({"n_nationkey": nk,
                           "n_name": [f"NATION_{i}" for i in nk],
                           "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)),
                                  n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(RETURN_FLAGS, n_line),
        "l_linestatus": rng.choice(LINE_STATUS, n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    return {"region": region, "nation": nation, "customer": customer,
            "part": part, "orders": orders, "lineitem": lineitem}


def embeddings(rng, n_vecs):
    """Unit vectors around ten cluster centres, labelled by centre."""
    centres = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, n_vecs)
    v = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(v),
                         "label": labels.astype(np.int32)})


def generate(out, seed, sf, n_vecs):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sf)
    tables["embeddings"] = embeddings(rng, n_vecs)
    for name, df in tables.items():
        _write(df, out, name)
    return sorted(tables)

