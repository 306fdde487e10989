"""Seeded synthetic corpus in the engine's ten-table layout.

The benchmark cannot read any fixture outside its checkout, so it draws the
tables itself, shaped like the engine's reference corpus at sf0.01: the same
column names and physical types (int32 vs int64, ``timestamp[us]``), the
same foreign-key graph and categorical domains, money rounded to two
decimals, ``events`` sorted by ``ts`` with ``event_id`` following it, and
``documents`` carrying ~5% planted near-duplicates (a copy of another
document plus one ``dup`` token), as the reference corpus does.

Every random draw comes from ``numpy.random.default_rng(seed)``, so one seed
always yields byte-identical inputs; table sizes never depend on the seed, so
runs on different seeds do the same amount of work.
"""
from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at sf0.01; documents and embeddings, which do not scale with
#: sf, at 3x the reference corpus's 500, so that execution dominates the
#: dedup and similarity keys.
SIZES = {
    "supplier": 100, "customer": 1500, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150,
    "documents": 1500, "embeddings": 1500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
          "filter", "small", "slow", "merge", "order", "vector", "line",
          "table", "data", "agg", "value", "key", "stream", "window", "a",
          "spark", "part", "group", "big", "sort", "query", "fast", "the"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DIM = 64
_LABELS = 10


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], type=pa.string())


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, _PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, ["N", "R", "A"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    t["events"] = _events(rng)
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _events(rng: np.random.Generator) -> pa.Table:
    ne = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6 - 3 * 60 * 10**6
    ts = np.unique(start + rng.integers(0, span, ne + 64))
    ts = np.sort(rng.choice(ts, ne, replace=False))
    value = np.round(np.clip(rng.lognormal(3.4, 1.3, ne), 0.01, 490.0), 2)
    return pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["users"], ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": value,
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)]),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    nd = SIZES["documents"]
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), m)])
             for m in rng.integers(10, 100, nd)]
    # ~5% near-duplicates: a copy of a later document plus one marker token
    for i in rng.choice(nd - 1, nd // 20, replace=False):
        j = int(rng.integers(i + 1, nd))
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    nv = SIZES["embeddings"]
    labels = rng.integers(0, _LABELS, nv)
    centres = rng.normal(0.0, 1.0, (_LABELS, _DIM))
    x = centres[labels] * 0.15 + rng.normal(0.0, 1.0, (nv, _DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


#: Tables written as a directory of part files, so their scans split across
#: the cores. ``events`` must stay one file: the loader reads its footer
#: with ``pq.read_schema``, which fails on a directory.
PARTED = {"documents": 8, "embeddings": 8}


def write_corpus(out_dir: str, seed: int) -> None:
    """Write the ten tables for ``seed`` as ``<out_dir>/<table>.parquet``:
    one file each, or a directory of ``PARTED[table]`` part files."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # default_rng takes only non-negative seeds; this keeps those unchanged
    for name, table in _tables(np.random.default_rng(seed % 2**64)).items():
        dest = os.path.join(tmp, f"{name}.parquet")
        parts = PARTED.get(name)
        if parts is None:
            pq.write_table(table, dest)
            continue
        os.makedirs(dest)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(dest, f"part-{i:05d}.parquet"))
    os.replace(tmp, out_dir)
