"""Seeded input generators. Everything is made with numpy on the driver from
one ``numpy.random.Generator`` and written as Parquet with pyarrow, so the
program under test only ever sees the generated files."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` Parquet files under directory ``path``
    (one row group each), so Spark scans it with ``n_files`` tasks."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


# --- warehouse (graph_iterative) -------------------------------------------


def warehouse(rng: np.random.Generator, n_cust: int, n_supp: int, n_orders: int):
    """(orders, lineitem) pyarrow tables in the TPC-H-like shape the catalog
    derives its graph from: uniform customers per order, 1-7 line items per
    order, uniform suppliers per line item. Customer and supplier ids
    overlap (both start at 0), as in the warehouse the catalog was written
    for, so the derived graph is not bipartite."""
    okey = np.arange(n_orders, dtype=np.int64)
    cust = rng.integers(0, n_cust, n_orders, dtype=np.int64)
    lines = rng.integers(1, 8, n_orders)
    lkey = np.repeat(okey, lines)
    supp = rng.integers(0, n_supp, lkey.size, dtype=np.int64)
    orders = pa.table({"o_orderkey": okey, "o_custkey": cust})
    lineitem = pa.table({"l_orderkey": lkey, "l_suppkey": supp})
    return orders, lineitem


# --- corpus (llm_corpus) ---------------------------------------------------


def corpus_tokens(
    rng: np.random.Generator,
    n_docs: int,
    vocab: int = 10_000,
    zipf_s: float = 1.0,
    near_dup_share: float = 0.05,
    edits: int = 3,
) -> list[np.ndarray]:
    """Word-id arrays of ``n_docs`` documents: 40-80 tokens drawn from a
    Zipf(``zipf_s``) vocabulary; every 20th document is an exact copy of its
    predecessor, and a ``near_dup_share`` of the rest copy an earlier
    document with ``edits`` tokens replaced."""
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    lens = rng.integers(40, 81, n_docs)
    words = rng.choice(vocab, size=int(lens.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [words[offs[i] : offs[i + 1]] for i in range(n_docs)]
    near = rng.random(n_docs) < near_dup_share
    for i in range(1, n_docs):
        if i % 20 == 0:
            docs[i] = docs[i - 1].copy()
        elif near[i]:
            d = docs[int(rng.integers(0, i))].copy()
            pos = rng.choice(d.size, size=edits, replace=False)
            d[pos] = rng.choice(vocab, size=edits, p=p)
            docs[i] = d
    return docs


def corpus_table(docs: list[np.ndarray]) -> pa.Table:
    """``documents`` table (doc_id, text, lang, source, n_chars)."""
    text = [" ".join(f"w{w}" for w in d) for d in docs]
    n = len(docs)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": ["en"] * n,
            "source": [f"src{i % 8}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> np.ndarray:
    """float32 (n, dim) vectors around 32 cluster centres, so top-k
    neighbours are well separated from the bulk."""
    centres = rng.standard_normal((32, dim))
    lab = rng.integers(0, 32, n)
    return (centres[lab] + 0.5 * rng.standard_normal((n, dim))).astype(np.float32)


def embeddings_table(vecs: np.ndarray) -> pa.Table:
    n, dim = vecs.shape
    arr = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": arr.cast(pa.list_(pa.float32())),
            "label": np.zeros(n, dtype=np.int32),
        }
    )


# --- R-MAT graph and event batch (graph_dynamic) ---------------------------


def rmat_edges(
    rng: np.random.Generator,
    scale: int,
    edge_factor: int,
    abc: tuple[float, float, float] = (0.57, 0.19, 0.19),
) -> np.ndarray:
    """Undirected R-MAT edge set as an (m, 2) int64 array of (u < v) pairs,
    self-loops and repeats dropped."""
    a, b, c = abc
    m = edge_factor << scale
    q = rng.choice(4, size=(m, scale), p=[a, b, c, 1.0 - a - b - c])
    w = np.int64(1) << np.arange(scale, dtype=np.int64)
    src = ((q >= 2) * w).sum(axis=1)
    dst = ((q % 2 == 1) * w).sum(axis=1)
    u, v = np.minimum(src, dst), np.maximum(src, dst)
    keep = u != v
    return np.unique(np.stack([u[keep], v[keep]], axis=1), axis=0)


def write_graph_dir(edges: np.ndarray, path: str, n_files: int) -> None:
    """The engine's native Parquet graph layout: (src, dst) files plus the
    ``_graph_meta.json`` sidecar that ``read_graph(fmt="Parquet")`` reads."""
    write_parquet_parts(pa.table({"src": edges[:, 0], "dst": edges[:, 1]}), path, n_files)
    with open(os.path.join(path, "_graph_meta.json"), "w") as f:
        json.dump({"directed": False, "weighted": False, "version": 1}, f)


def edge_batch(
    rng: np.random.Generator, edges: np.ndarray, n_nodes: int, n_add: int, n_del: int
) -> list[tuple]:
    """One mixed event batch as rows of ``(seq, type, u, v, w)``: ``n_add``
    additions of edges absent from the graph and from each other, then
    ``n_del`` removals of present edges."""
    have = {(int(u), int(v)) for u, v in edges}
    active = np.unique(edges)
    new: list[tuple[int, int]] = []
    while len(new) < n_add:
        # one endpoint inside the graph so additions touch existing state
        u, v = int(rng.choice(active)), int(rng.integers(0, n_nodes))
        key = (min(u, v), max(u, v))
        if u != v and key not in have:
            have.add(key)
            new.append(key)
    gone = edges[rng.choice(len(edges), size=n_del, replace=False)]
    batch = [(i, "EDGE_ADDITION", u, v, 1.0) for i, (u, v) in enumerate(new)]
    return batch + [
        (n_add + i, "EDGE_REMOVAL", int(u), int(v), None) for i, (u, v) in enumerate(gone)
    ]
