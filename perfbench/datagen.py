"""Deterministic synthetic tables for the benchmark.

The schemas follow the engine's test fixtures: a TPC-H-like star
(region, nation, customer, supplier, orders, lineitem), a sparse graph
edge table, and a small corpus (documents with
planted exact and near duplicates, clustered embeddings). Row counts scale
with ``sf`` like TPC-H; the corpus is fixed-size.

The tables are a pure function of ``sf`` (fixed generator seed), so every
run of a workload reads the same data; the run's seed only picks the
statement stream (see ``workloads.py``). Files are written once per
checkout under the work directory and reused.
"""

from __future__ import annotations

import os
import shutil
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20230611
FORMAT_VERSION = "v2"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = (
    "a the data spark query join key value row column table scan filter "
    "group agg sort hash merge window stream batch part order line small "
    "big fast slow index plan tree node edge graph cycle path count sum"
).split()
EMBED_DIM = 64

# table -> primary key, as the engine's testdata registration declares them
PRIMARY_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "graph": ("src", "dst"),
    "documents": ("doc_id",),
    "docs_aug": ("doc_id",),
    "embeddings": ("vec_id",),
}

_EPOCH = date(1970, 1, 1)
_D0 = (date(1995, 1, 1) - _EPOCH).days
_D1 = (date(2001, 8, 1) - _EPOCH).days


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), type=pa.int32()).cast(pa.date32())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _numbered(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _edges(rng, n_nodes: int, n_edges: int) -> pa.Table:
    """Distinct directed edges, skewed out-degree, no self loops."""
    src = (rng.pareto(2.0, n_edges) * n_nodes / 8).astype(np.int64) % n_nodes
    dst = rng.integers(0, n_nodes, n_edges)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pa.table({"src": pairs[:, 0] + 1, "dst": pairs[:, 1] + 1})


def _documents(rng, n_docs: int) -> pa.Table:
    lens = rng.integers(8, 100, n_docs)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _docs_aug(docs: pa.Table) -> pa.Table:
    """documents plus exact copies of every 5th doc and 80%-prefix near
    copies of every 3rd — the duplicate structure dedup must find."""
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    srcs = docs["source"].to_pylist()
    out_id, out_text, out_src = list(ids), list(texts), list(srcs)
    for i, t, s in zip(ids, texts, srcs):
        if i % 5 == 0:
            out_id.append(i + 1_000_000)
            out_text.append(t)
            out_src.append(s)
        if i % 3 == 0:
            out_id.append(i + 2_000_000)
            out_text.append(t[: int(len(t) * 0.8)])
            out_src.append(s)
    return pa.table({
        "doc_id": pa.array(out_id, type=pa.int64()),
        "text": pa.array(out_text),
        "source": pa.array(out_src),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (16, EMBED_DIM))
    label = rng.integers(0, 16, n)
    vecs = (centers[label] + rng.normal(0, 0.6, (n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def generate(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1_000_000))])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _numbered("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _numbered("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    odate = rng.integers(_D0, _D1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _dates(ship),
    })
    # sparse graph: avg out-degree ~4 over the order-key domain (the
    # regime where cyclic queries break into acyclic plans)
    t["graph"] = _edges(rng, n_ord, 4 * n_ord)
    t["documents"] = _documents(rng, 5000)
    t["docs_aug"] = _docs_aug(t["documents"])
    t["embeddings"] = _embeddings(rng, 2000)
    return t


def ensure_tables(work_dir: str, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for ``sf``; generated once."""
    out = os.path.join(work_dir, "data", f"sf{sf:g}-{FORMAT_VERSION}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
