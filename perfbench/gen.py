"""Seeded input generator for the graft benchmark.

Writes the star-schema tables the queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the physical types and value distributions of the
project's reference test tables:

- ids are int64 and dense from 0; dimension keys are int32;
- timestamps are naive microsecond timestamps (`timestamp[us]`);
- every fact column is drawn independently and uniformly, except
  `events.value` (exponential, mean 50), `events.ts` (sorted over 30
  days) and the planted near-duplicate documents (5% of the corpus is
  another document with " dup" appended);
- embeddings are unit-norm 64-dim float32 vectors with labels 0-9.

The same (seed, scale) always gives byte-identical tables. `lineitem`
is written as `lineitem_groups` row groups so a scan splits into as
many tasks. Every table is self-checked for row count and key
uniqueness before the directory is published.

Usage: python3 perfbench/gen.py <out_dir> <seed> [sf] [lineitem_groups]
"""
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, lineitem_groups):
    """Build every table for `seed` at scale factor `sf`.

    Row counts follow the reference proportions: sf 0.1 is 600k
    lineitem, 150k orders, 100k events, 5000 documents.
    """
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf) // lineitem_groups * lineitem_groups
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = 2000

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US + d0),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    s0, s1 = _us(dt.datetime(1995, 1, 2)), _us(dt.datetime(2001, 11, 4))
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.68, 104999.91, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(rng.integers(0, (s1 - s0) // DAY_US + 1, n_li) * DAY_US + s0)})
    e0 = _us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i in dups:
        texts[i] = texts[(i + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    expect = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
              "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_ev,
              "documents": n_docs, "embeddings": n_emb}
    keys = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
            "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
            "events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
    for name, tbl in t.items():
        if tbl.num_rows != expect[name]:
            raise AssertionError(f"{name}: {tbl.num_rows} rows, expected {expect[name]}")
        if name in keys and len(np.unique(tbl[keys[name]].to_numpy())) != tbl.num_rows:
            raise AssertionError(f"{name}.{keys[name]} is not unique")
    return t


def generate(out_dir, seed, sf, lineitem_groups):
    """Write the tables into `out_dir` unless a finished copy is there.

    The directory is built beside its final name and renamed into
    place, so an interrupted run never leaves a half-written input set.
    Returns the per-table (rows, bytes) it holds.
    """
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, tbl in tables(seed, sf, lineitem_groups).items():
            rg = tbl.num_rows // lineitem_groups if name == "lineitem" else None
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=rg)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.rename(tmp, out_dir)
    os.utime(out_dir)
    sizes = {}
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(out_dir, f)
            sizes[f[:-8]] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                             "bytes": os.path.getsize(path)}
    return sizes


if __name__ == "__main__":
    a = sys.argv[1:]
    print(generate(a[0], int(a[1]), float(a[2]) if len(a) > 2 else 0.1,
                   int(a[3]) if len(a) > 3 else 4))
