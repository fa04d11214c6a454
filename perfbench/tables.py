"""Seeded input tables for the ``query_mix`` workload.

The registry queries (``traffic_engine_spark.queries``) read
``<dir>/<table>.parquet``.  These generators write the tables the chosen
queries read, with the schemas and value shapes of the repo's shipped
TPC-H-style test tables at sf0.001 (150 customers, 1,500 orders, 6,000
line items, 1,000 events, 500 documents, 500 embeddings), from a seed:
the same seed gives the same bytes.  Documents include near-duplicate
copies and embeddings are clustered, so the dedup and ANN queries find
pairs and neighbours.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "es", "fr", "it"])
WORDS = np.array(
    "the a fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark group query row data filter customer line value agg column dup".split()
)

N_CUSTOMERS, N_ORDERS, N_LINEITEMS = 150, 1500, 6000
N_EVENTS, N_USERS = 1000, 15
N_DOCS, N_VECS, DIM, N_CLUSTERS = 500, 500, 64, 10


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), type=pa.timestamp("us"))


def _tpch(rng) -> dict[str, pa.Table]:
    day0 = np.datetime64("1995-01-01", "D")
    n_days = int((np.datetime64("2001-08-01", "D") - day0).astype(np.int64))
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), N_CUSTOMERS)],
    })
    order_day = day0 + rng.integers(0, n_days + 1, N_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts_us(order_day),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), N_ORDERS)],
    })
    l_order = np.sort(rng.integers(0, N_ORDERS, N_LINEITEMS))
    line_no = np.ones(N_LINEITEMS, dtype=np.int32)
    for i in range(1, N_LINEITEMS):
        if l_order[i] == l_order[i - 1]:
            line_no[i] = line_no[i - 1] + 1
    qty = rng.integers(1, 51, N_LINEITEMS).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, N_LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, N_LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEMS), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEMS) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEMS) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEMS)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEMS)],
        "l_shipdate": _ts_us(order_day[l_order] + rng.integers(1, 122, N_LINEITEMS)),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _events(rng) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = int(np.timedelta64(30, "D") / np.timedelta64(1, "us"))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts_us(np.sort(t0 + rng.integers(0, span, N_EVENTS)).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.uniform(0, 500, N_EVENTS), 2),
        "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, N_EVENTS)],
    })


def _documents(rng) -> pa.Table:
    """Random word sequences; every fifth document is an edited copy of an
    earlier one (a few words replaced), so near-duplicate pairs exist."""
    docs: list[list[str]] = []
    for i in range(N_DOCS):
        if i >= 10 and i % 5 == 0:
            toks = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[j] = str(WORDS[rng.integers(0, len(WORDS))])
        else:
            toks = [str(w) for w in WORDS[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]]
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": text,
        "lang": LANGS[rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    v = centers[label] + 0.6 * rng.normal(size=(N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    tables = {**_tpch(rng), "events": _events(rng), "documents": _documents(rng),
              "embeddings": _embeddings(rng)}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def duckdb_oracle(sql: dict[str, str], table_dir: str, tables, tmp_dir: str) -> dict[str, pd.DataFrame]:
    """Each query's registry SQL run in DuckDB over the same parquet files."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": tmp_dir})
    try:
        for name in tables:
            path = os.path.join(table_dir, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.sql(q).df() for name, q in sql.items()}
    finally:
        con.close()
