"""Seeded input generators for the benchmark.

``write_tables`` writes the ten TPC-H-ish tables the registry queries
read (one Parquet file each, with the column names and types of the
engine's test fixtures) at a given scale factor. ``make_graph`` draws
a directed edge list with planted communities for the graph operators.
The same seed always writes the same files. Everything is vectorised
numpy, so an sf0.1 table set takes about a second.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
EMBED_ROWS = 2000

_DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    words = np.array(WORDS)
    texts = [" ".join(words[flat[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
    # About 5% near-duplicates (an earlier text plus a marker word) and a
    # few exact duplicates, so the dedup paths have work to do.
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif r < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, EMBED_ROWS)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = centers[labels] + rng.normal(scale=2.0, size=(EMBED_ROWS, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBED_ROWS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf0.1 = 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2405, n_ord), "1995-01-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(0, 2499, n_line), "1995-01-02"),
    })
    # Events arrive in time order over 30 days with exponential gaps.
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * _DAY_US - 1_000_000
    ts_us = (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype(np.int64) + ts_us,
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng)
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet``; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def make_graph(seed: int, n_vertices: int, n_edges: int) -> np.ndarray:
    """Directed edges (u, v), no self-loops or duplicates.

    Vertices fall into communities of about 100; 95% of edges stay
    inside one community, and a tenth of the communities have no
    outside edges at all, so connected components, label propagation
    and BFS reach all have non-trivial answers. Vertex ids are a
    seeded permutation, so the minimum label must travel."""
    rng = np.random.default_rng(seed)
    n_comm = max(1, n_vertices // 100)
    comm = rng.integers(0, n_comm, n_vertices)
    by_comm = np.argsort(comm, kind="stable")
    size = np.bincount(comm, minlength=n_comm)
    start = np.concatenate([[0], np.cumsum(size)[:-1]])
    closed = rng.random(n_comm) < 0.1
    m = n_edges * 2
    src = rng.integers(0, n_vertices, m)
    c = comm[src]
    inside = by_comm[start[c] + (rng.random(m) * size[c]).astype(np.int64)]
    cross = (rng.random(m) < 0.05) & ~closed[c]
    dst = np.where(cross, rng.integers(0, n_vertices, m), inside)
    # A cross edge that lands in a closed community is dropped.
    keep = (src != dst) & ~(closed[comm[dst]] & (comm[dst] != c))
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    pairs = pairs[rng.permutation(len(pairs))[:n_edges]]
    ids = rng.permutation(n_vertices).astype(np.int64) * 7 + 3
    return np.stack([ids[pairs[:, 0]], ids[pairs[:, 1]]], axis=1)


def symmetric(edges: np.ndarray) -> np.ndarray:
    """Both orientations of every edge, deduplicated."""
    return np.unique(np.concatenate([edges, edges[:, ::-1]]), axis=0)


def write_graph(path: str, edges: np.ndarray) -> None:
    pq.write_table(
        pa.table({"u": edges[:, 0], "v": edges[:, 1]}), path
    )
