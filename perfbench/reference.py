"""Independent numpy references for every benchmarked operator. They run on
the driver, outside the timed region, on the generated inputs — never on
the program's outputs — and the benchmark compares each operator's
collected output against them."""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd

# Spark rounds to 6 places half-up; numpy sums in another order. Values
# that agree to this tolerance are the same answer.
TOL = 2e-6


def undirected(arcs: np.ndarray) -> np.ndarray:
    """Both orientations of every arc, deduplicated: (m, 2) int64."""
    both = np.concatenate([arcs, arcs[:, ::-1]])
    return np.unique(both, axis=0)


def _index(arcs: np.ndarray):
    ids = np.unique(arcs)
    return ids, np.searchsorted(ids, arcs[:, 0]), np.searchsorted(ids, arcs[:, 1])


def pagerank(arcs: np.ndarray, damping: float, iters: int) -> pd.DataFrame:
    """Fixed-round PageRank without sink redistribution → (id, pagerank)."""
    ids, s, d = _index(arcs)
    n = ids.size
    outdeg = np.bincount(s, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1.0 - damping) / n + damping * np.bincount(
            d, weights=r[s] / outdeg[s], minlength=n
        )
    return pd.DataFrame({"id": ids, "pagerank": r})


def components(eu: np.ndarray) -> pd.DataFrame:
    """Min-id label of every node of a symmetric arc set → (id, component)."""
    ids, s, d = _index(eu)
    lab = np.arange(ids.size)
    while True:
        new = lab.copy()
        np.minimum.at(new, d, lab[s])
        new = new[new]
        if np.array_equal(new, lab):
            return pd.DataFrame({"id": ids, "component": ids[lab]})
        lab = new


def bfs(eu: np.ndarray, source: int, max_hops: int) -> pd.DataFrame:
    """Hop distances from ``source`` over a symmetric arc set → (id, dist)."""
    ids, s, d = _index(eu)
    order = np.argsort(s, kind="stable")
    s, d = s[order], d[order]
    starts = np.searchsorted(s, np.arange(ids.size + 1))
    dist = np.full(ids.size, -1)
    front = np.searchsorted(ids, [source])
    dist[front] = 0
    for h in range(1, max_hops + 1):
        nbrs = np.unique(np.concatenate([d[starts[u] : starts[u + 1]] for u in front]))
        front = nbrs[dist[nbrs] < 0]
        if front.size == 0:
            break
        dist[front] = h
    keep = dist >= 0
    return pd.DataFrame({"id": ids[keep], "dist": dist[keep]})


def triangles(eu: np.ndarray) -> tuple[int, pd.DataFrame]:
    """(triangle count, (id, lcc) for nodes of degree >= 2) of the simple
    undirected graph under a symmetric arc set, via a dense adjacency
    matrix (the warehouse graph has a few thousand nodes)."""
    eu = eu[eu[:, 0] != eu[:, 1]]
    ids, s, d = _index(eu)
    a = np.zeros((ids.size, ids.size), dtype=np.float32)
    a[s, d] = 1.0
    per_node = ((a @ a) * a).sum(axis=1) / 2.0
    deg = a.sum(axis=1)
    total = int(round(per_node.sum() / 3.0))
    keep = deg >= 2
    lcc = 2.0 * per_node[keep] / (deg[keep] * (deg[keep] - 1))
    return total, pd.DataFrame({"id": ids[keep], "lcc": lcc})


# --- LLM corpus --------------------------------------------------------------


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def exact_duplicates(texts: list[str]) -> pd.DataFrame:
    """(fp, n_copies, keep_id) over md5 of the normalized text."""
    fp = [hashlib.md5(_norm(t).encode()).hexdigest() for t in texts]
    df = pd.DataFrame({"fp": fp, "doc_id": np.arange(len(texts))})
    return (
        df.groupby("fp")
        .agg(n_copies=("doc_id", "size"), keep_id=("doc_id", "min"))
        .reset_index()
    )


def text_stats(texts: list[str]) -> pd.DataFrame:
    """Per-document token, character, punctuation, digit and token-length
    figures, as ``llm.textstats.text_stats`` defines them."""
    rows = []
    for i, t in enumerate(texts):
        n_tok = len(t.split()) if t.strip() else 0
        n_ch = len(t)
        rows.append(
            (
                i,
                n_tok,
                n_ch,
                len(re.findall(r"[.,;:!?'\"]", t)) / max(n_ch, 1),
                len(re.findall(r"[0-9]", t)) / max(n_ch, 1),
                len(re.sub(r"\s+", "", t)) / max(n_tok, 1),
            )
        )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "n_tokens", "n_chars_measured", "punct_ratio",
                 "digit_ratio", "avg_token_len"],
    )


def shingle_sets(docs: list[np.ndarray], vocab: int) -> list[np.ndarray]:
    """Distinct word-trigram keys of each document (word ids → one int64)."""
    out = []
    for w in docs:
        w = w.astype(np.int64)
        out.append(np.unique((w[:-2] * vocab + w[1:-1]) * vocab + w[2:]))
    return out


def jaccard_pairs(
    sets: list[np.ndarray], threshold: float, max_doc_freq: int | None
) -> pd.DataFrame:
    """Exact (doc_a, doc_b, jaccard) with jaccard >= threshold over the
    shingle sets, shingles with document frequency above ``max_doc_freq``
    dropped. Candidates come from a prefix filter (shingles ordered by
    ascending document frequency): two sets reach the threshold only if
    their prefixes of length |A| - ceil(t|A|) + 1 share a shingle."""
    doc = np.concatenate([np.full(s.size, i) for i, s in enumerate(sets)])
    key = np.concatenate(sets)
    uniq, inv, df = np.unique(key, return_inverse=True, return_counts=True)
    if max_doc_freq is not None:
        keep = df[inv] <= max_doc_freq
        doc, inv = doc[keep], inv[keep]
    rank = np.lexsort((uniq, df))  # rarest first
    pos = np.empty_like(rank)
    pos[rank] = np.arange(rank.size)
    order = np.lexsort((pos[inv], doc))
    doc, tok = doc[order], pos[inv][order]
    starts = np.searchsorted(doc, np.arange(len(sets) + 1))
    members = [tok[starts[i] : starts[i + 1]] for i in range(len(sets))]
    # prefix rows: (token, doc) for the first p tokens of each doc
    pref_doc, pref_tok = [], []
    for i, m in enumerate(members):
        if m.size:
            p = m.size - math.ceil(threshold * m.size - 1e-9) + 1
            pref_doc.append(np.full(p, i))
            pref_tok.append(m[:p])
    pd_doc, pd_tok = np.concatenate(pref_doc), np.concatenate(pref_tok)
    o = np.lexsort((pd_doc, pd_tok))
    pd_doc, pd_tok = pd_doc[o], pd_tok[o]
    cand = set()
    bounds = np.flatnonzero(np.diff(pd_tok)) + 1
    for grp in np.split(pd_doc, bounds):
        if grp.size > 1:
            g = grp.tolist()
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    cand.add((g[x], g[y]))
    msets = [set(m.tolist()) for m in members]
    rows = []
    for a, b in cand:
        common = len(msets[a] & msets[b])
        j = common / (len(msets[a]) + len(msets[b]) - common)
        if j >= threshold - 1e-12:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])


def cosine_topk(vecs: np.ndarray, probes: list[int], k: int) -> pd.DataFrame:
    """(query_id, vec_id, cosine, rnk): exact top-k cosine neighbours of
    each probe, self excluded, ties broken by vec_id."""
    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    rows = []
    for q in probes:
        cos = np.round(v @ v[q] / (norms * norms[q]), 6)
        cos[q] = -np.inf
        top = np.lexsort((np.arange(cos.size), -cos))[:k]
        rows += [(q, int(t), float(cos[t]), r + 1) for r, t in enumerate(top)]
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "cosine", "rnk"])


# --- comparison helpers --------------------------------------------------------


def same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], tol_cols=()) -> str | None:
    """None when ``got`` and ``want`` hold the same rows (exact on every
    column, within TOL on ``tol_cols``); else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    cols = list(want.columns)
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        if c in tol_cols:
            bad = ~np.isclose(g[c].to_numpy(float), w[c].to_numpy(float), rtol=0, atol=TOL)
        else:
            bad = g[c].to_numpy() != w[c].to_numpy()
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c} differs at {g.loc[i, keys].to_dict()}: {g.loc[i, c]} != {w.loc[i, c]}"
    return None
