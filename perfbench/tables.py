"""Seeded generator of the catalog's input tables.

The catalog's rows read ten parquet tables (``queries.TABLES``): a small
TPC-H-style star schema, an ``events`` stream, a ``documents`` text table
and an ``embeddings`` table.  This module writes tables of the same schema
and value ranges from a numpy seed, at the size of the smallest fixture
scale (500 documents, 6,000 line items), so the benchmark needs no data
from outside its checkout.  The DuckDB oracles in ``queries.CATALOG`` run
over the same files, which is what makes the generated data a correctness
check rather than only a load.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value query join group agg sort "
         "order filter scan hash merge window stream batch vector spark line "
         "part customer fast slow big small").split()
LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
ADJECTIVES = "new blue large red hot cold old small".split()
NOUNS = "gear rod anvil widget bolt ring plate gizmo".split()
P_TYPES = "ECONOMY LARGE STANDARD PROMO MEDIUM SMALL".split()
SEGMENTS = "FURNITURE MACHINERY BUILDING AUTOMOBILE HOUSEHOLD".split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = "view click purchase signup error".split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

N_DOCS = 500
N_VECS = 500
DIM = 64


def _cents(rng: np.random.RandomState, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.RandomState, start: dt.datetime, span_days: int,
          n: int) -> list[dt.datetime]:
    return [start + dt.timedelta(days=int(d))
            for d in rng.randint(0, span_days, n)]


def _documents(rng: np.random.RandomState) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.rand() < 0.06:
            # near duplicate: an earlier document plus trailing markers
            base = texts[rng.randint(i)]
            texts.append(base + " dup" * (1 + rng.randint(3)))
            continue
        n = 8 + rng.randint(80)
        texts.append(" ".join(WORDS[j] for j in rng.randint(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.randint(0, len(LANGS),
                                                        N_DOCS)]),
        "source": pa.array([f"src{j}" for j in rng.randint(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.RandomState) -> pa.Table:
    centroids = rng.normal(size=(10, DIM))
    labels = rng.randint(0, 10, N_VECS)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: np.random.RandomState, n: int) -> pa.Table:
    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.randint(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=int(o))
                        for o in offsets], pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, 15, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in
                                rng.randint(0, len(EVENT_TYPES), n)]),
        "value": pa.array(_cents(rng, 0.01, 330.0, n), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n)]),
    })


def _warehouse(rng: np.random.RandomState) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1500, 6000
    ts = pa.timestamp("us")
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999.0, 9999.0, n_cust)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in
                                      rng.randint(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.0, 9999.0, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                                zip(rng.randint(0, 8, n_part),
                                    rng.randint(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{j}" for j in
                                 rng.randint(1, 26, n_part)]),
            "p_type": pa.array([P_TYPES[j] for j in
                                rng.randint(0, 6, n_part)]),
            "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + 0.1 * np.arange(n_part),
                                               1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in
                                       rng.randint(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, dt.datetime(1995, 1, 1), 2400,
                                          n_ord), ts),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in
                                         rng.randint(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.randint(1, 51, n_line)
                                   .astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 100000.0, n_line)),
            "l_discount": pa.array(rng.randint(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.randint(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in
                                      rng.randint(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[j] for j in
                                      rng.randint(0, 2, n_line)]),
            "l_shipdate": pa.array(_days(rng, dt.datetime(1995, 1, 2), 2500,
                                         n_line), ts)}),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten catalog tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.RandomState(seed)
    tables = _warehouse(rng)
    tables["events"] = _events(rng, 1000)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
