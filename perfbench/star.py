"""Seeded generator for the star-schema tables the query mix reads.

The tables have the names, column names and Parquet types of the
catalog's test tables (TESTDATA.md), at their smallest scale: lineitem
6,000 rows, orders 1,500, part 200, supplier 10, nation 25, events
1,000 and documents 250 (the test tables have 500; the DuckDB oracle
of the minhash query grows with them). Value domains follow the test
tables so the catalog queries see the same shapes: words from a fixed
vocabulary with planted near-duplicate documents, part names with and
without ``widget``, and so on.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("nation", "supplier", "part", "orders", "lineitem", "events", "documents")

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
_PTYPE = ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng: np.random.Generator, lo: _dt.date, hi: _dt.date, n: int) -> pa.Array:
    base = np.datetime64(lo, "us")
    span = (hi - lo).days
    us = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All mix tables for one seed; the same seed gives equal tables."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_supp = 10
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })

    n_part = 200
    retail = np.round(rng.uniform(900, 1000, n_part), 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPE[t] for t in rng.integers(0, len(_PTYPE), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    n_orders = 1500
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 150, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _days(rng, _dt.date(1995, 1, 1), _dt.date(2001, 8, 2), n_orders),
        "o_orderpriority": [_PRIORITY[p] for p in rng.integers(0, 5, n_orders)],
    })

    n_li = 6000
    orderkey = rng.integers(0, n_orders, n_li)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, _dt.date(1995, 1, 2), _dt.date(2001, 11, 5), n_li),
    })

    n_ev = 1000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 50, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_docs = 250
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[x] for x in rng.choice(5, n_docs, p=[0.5, 0.125, 0.125, 0.125, 0.125])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return out


def write_tables(directory: str, seed: int) -> dict[str, int]:
    """Write every table as ``<directory>/<name>.parquet``; returns row
    counts per table."""
    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
