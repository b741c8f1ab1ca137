"""Seeded synthetic fixtures with the schema of the TPC-H-shaped test data.

Every table the registry queries read is generated here from ``--seed`` alone,
so the benchmark needs nothing outside its checkout.  ``scale=1.0`` gives the
row counts of the sf0.1 fixtures (600k lineitem, 150k orders, 5k documents).
Unlike those fixtures, ``(l_orderkey, l_linenumber)`` is unique, so lineitem
can carry its composite primary key through incremental imports.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ADJ = "large hot blue old cold small red green".split()
NOUN = "ring bolt plate gear nut pin".split()
EPOCH = dt.datetime(1995, 1, 1)
TS = pa.timestamp("us")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    us = rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000
    epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return us + epoch_us


def _pick(rng, values, n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx])


def star(rng, scale: float) -> dict[str, pa.Table]:
    """The sales star schema: nation, region, customer, supplier, part,
    orders, lineitem."""
    n_cust, n_ord = int(15_000 * scale), int(150_000 * scale)
    n_part, n_supp = max(int(20_000 * scale), 100), max(int(1_000 * scale), 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part),
            rng.integers(0, len(NOUN), n_part))]),
        "p_brand": pa.array([f"Brand#{b}"
                             for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = orders(rng, 0, n_ord, n_cust)
    t["lineitem"] = lineitem(rng, t["orders"], n_part, n_supp)
    return t


def orders(rng, first_key: int, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n),
                               pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n), TS),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(rng, orders_tbl: pa.Table, n_part: int, n_supp: int) -> pa.Table:
    """1-7 lines per order (4 on average), numbered from 1 per order."""
    keys = orders_tbl["o_orderkey"].to_numpy()
    odate = orders_tbl["o_orderdate"].cast(pa.int64()).to_numpy()
    k = rng.integers(1, 8, len(keys))
    idx = np.repeat(np.arange(len(keys)), k)
    starts = np.repeat(np.cumsum(k) - k, k)
    n = len(idx)
    return pa.table({
        "l_orderkey": pa.array(keys[idx], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["N", "A", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": pa.array(odate[idx] + rng.integers(1, 122, n)
                               * 86_400_000_000, TS)})


def extras(rng, scale: float) -> dict[str, pa.Table]:
    """events, documents and embeddings, read by the registry operators."""
    n_ev, n_doc = int(100_000 * scale), int(5_000 * scale)
    n_vec = max(int(2_000 * scale), 200)
    gaps = rng.integers(1, 2 * 25_920_000, n_ev)  # ~30 days of events
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    t = {"events": pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), TS),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev),
                            pa.int64()),
        "event_type": _pick(rng, ["signup", "purchase", "view", "click",
                                  "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_ev)])})}
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.02:       # a few exact duplicates
            texts.append(texts[int(rng.integers(0, len(texts)))])
        else:
            w = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[i] for i in w))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "zh", "es", "fr", "de"], n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] * 0.5 + rng.normal(0, 1, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
