"""The benchmark's three workloads. Each one generates its inputs from the
seed (``prepare``), lists the calls a pass makes into the program
(``steps``) and checks each call's collected output against an
independent numpy reference built from the same generated inputs."""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
import reference as ref


@dataclass
class Step:
    op: str
    run: Callable[[], list[DataFrame]]
    check: Callable[[list[pd.DataFrame]], str | None]


class GraphIterative:
    """Driver-bound iterative loops over the catalog's derived warehouse
    graph: PageRank, connected components, BFS and the triangle family,
    with the registry's q24/q25/q28-q30 parameters."""

    name = "graph_iterative"
    e2e_ops = ("pagerank", "cc", "bfs", "triangles")
    #: timed passes per run, whatever --seconds says: this pass is the most
    #: bound by driver overhead, so a single one moves with every host stall
    min_passes = 2
    N_CUST, N_SUPP, N_ORDERS = 2000, 200, 8000
    PR_ITER, PR_DAMP, BFS_HOPS = 15, 0.85, 20

    def __init__(self, seed: int, nproc: int):
        self.seed, self.nproc = seed, nproc

    def prepare(self, spark, in_dir: str, timed) -> None:
        from icebug_spark import catalog

        rng = np.random.default_rng(self.seed)
        orders, lineitem = inputs.warehouse(rng, self.N_CUST, self.N_SUPP, self.N_ORDERS)
        inputs.write_parquet_parts(orders, f"{in_dir}/orders.parquet", self.nproc)
        inputs.write_parquet_parts(lineitem, f"{in_dir}/lineitem.parquet", self.nproc)
        cust = orders["o_custkey"].to_numpy()
        self.arcs = np.unique(
            np.stack([cust[lineitem["l_orderkey"].to_numpy()],
                      lineitem["l_suppkey"].to_numpy()], axis=1),
            axis=0,
        )
        self.source = int(rng.choice(np.unique(self.arcs)))
        with timed("catalog.artifact_build"):
            catalog.build_derived_artifacts(spark, in_dir)
        self.e = catalog.derived_edges(spark, in_dir, materialize=True)
        self.eu = catalog.derived_edges_undirected(spark, in_dir)
        self.canon = catalog.derived_canonical_edges(spark, in_dir)
        self.kernel = catalog.derived_triangle_kernel(spark, in_dir)

    def sizes(self) -> dict:
        return {"orders": self.N_ORDERS, "customers": self.N_CUST,
                "suppliers": self.N_SUPP, "arcs_E": len(self.arcs),
                "nodes": int(np.unique(self.arcs).size), "bfs_source": self.source}

    def steps(self) -> list[Step]:
        from icebug_spark.operators import centrality, components, traversal, triangles

        eu_np = ref.undirected(self.arcs)
        n_tri, lcc = ref.triangles(eu_np)

        def check_tri(got):
            if int(got[0]["n_triangles"][0]) != n_tri:
                return f"{got[0]['n_triangles'][0]} triangles, expected {n_tri}"
            return ref.same_rows(got[1], lcc, ["id"], tol_cols=("lcc",))

        return [
            Step("pagerank",
                 lambda: [centrality.pagerank(self.e, damping=self.PR_DAMP,
                                              max_iter=self.PR_ITER, distribute_sinks=False)
                          .select("id", F.round("pagerank", 6).alias("pagerank"))],
                 lambda got: ref.same_rows(got[0], ref.pagerank(self.arcs, self.PR_DAMP, self.PR_ITER),
                                           ["id"], tol_cols=("pagerank",))),
            Step("cc",
                 lambda: [components.connected_components(self.eu)],
                 lambda got: ref.same_rows(got[0], ref.components(eu_np), ["id"])),
            Step("bfs",
                 lambda: [traversal.bfs_distances(self.eu, source=self.source, max_hops=self.BFS_HOPS)
                          .select("id", F.col("dist").cast("long").alias("dist"))],
                 lambda got: ref.same_rows(got[0], ref.bfs(eu_np, self.source, self.BFS_HOPS), ["id"])),
            Step("triangles",
                 lambda: [triangles.triangle_count(self.e, canon=self.canon, kernel=self.kernel),
                          triangles.local_clustering_coefficient(self.e, canon=self.canon,
                                                                 kernel=self.kernel)],
                 check_tri),
        ]


class LlmCorpus:
    """CPU- and shuffle-bound dedup and similarity operators over a
    multi-file synthetic corpus with exact and near duplicates."""

    name = "llm_corpus"
    e2e_ops = ("exact_dedup", "text_stats", "ngram_jaccard", "minhash", "topk")
    LOG2_DOCS, LOG2_VECS, VOCAB, N_PROBES, K = 11, 12, 10_000, 10, 10
    THRESH, MAX_DF = 0.2, 100
    #: least share of the exact Jaccard pairs MinHash must find (seeds 1-10
    #: give 0.80-0.90), so an empty or lossy MinHash fails its check
    RECALL_FLOOR = 0.4

    def __init__(self, seed: int, nproc: int):
        self.seed, self.nproc = seed, nproc
        self.minhash_recall = 0.0

    def prepare(self, spark, in_dir: str, timed) -> None:
        from icebug_spark import catalog

        rng = np.random.default_rng(self.seed)
        self.tokens = inputs.corpus_tokens(rng, 1 << self.LOG2_DOCS, vocab=self.VOCAB)
        docs = inputs.corpus_table(self.tokens)
        self.texts = docs["text"].to_pylist()
        self.vecs = inputs.embeddings(rng, 1 << self.LOG2_VECS)
        self.probes = sorted(int(p) for p in rng.choice(len(self.vecs), self.N_PROBES, replace=False))
        inputs.write_parquet_parts(docs, f"{in_dir}/documents.parquet", self.nproc)
        inputs.write_parquet_parts(inputs.embeddings_table(self.vecs),
                                   f"{in_dir}/embeddings.parquet", self.nproc)
        self.docs = catalog.table(spark, in_dir, "documents")
        self.emb = catalog.table(spark, in_dir, "embeddings")

    def sizes(self) -> dict:
        return {"documents": len(self.tokens), "tokens": int(sum(t.size for t in self.tokens)),
                "embeddings": len(self.vecs), "dim": int(self.vecs.shape[1]),
                "probes": self.N_PROBES, "files": self.nproc}

    def steps(self) -> list[Step]:
        from icebug_spark.llm import dedup, similarity, textstats

        sets = ref.shingle_sets(self.tokens, self.VOCAB)
        capped = ref.jaccard_pairs(sets, self.THRESH, self.MAX_DF)
        exact = ref.jaccard_pairs(sets, self.THRESH, None)
        self.n_ngram_pairs = len(capped)

        def check_minhash(got):
            g = got[0]
            m = g.merge(exact, on=["doc_a", "doc_b"], how="left", suffixes=("", "_exact"))
            self.minhash_recall = len(g) / max(len(exact), 1)
            if m["jaccard_exact"].isna().any():
                return "pair outside the exact Jaccard set"
            if not np.allclose(m["jaccard"], m["jaccard_exact"], rtol=0, atol=ref.TOL):
                return "jaccard differs from the exact value"
            if self.minhash_recall < self.RECALL_FLOOR:
                return f"recall {self.minhash_recall:.3f} below {self.RECALL_FLOOR}"
            return None

        probes = self.probes
        return [
            Step("exact_dedup",
                 lambda: [dedup.exact_duplicates(self.docs)],
                 lambda got: ref.same_rows(got[0], ref.exact_duplicates(self.texts), ["fp"])),
            Step("text_stats",
                 lambda: [textstats.text_stats(self.docs)],
                 lambda got: ref.same_rows(got[0], ref.text_stats(self.texts), ["doc_id"],
                                           tol_cols=("punct_ratio", "digit_ratio", "avg_token_len"))),
            Step("ngram_jaccard",
                 lambda: [dedup.ngram_jaccard_pairs(self.docs, n=3, threshold=self.THRESH,
                                                    max_doc_freq=self.MAX_DF)],
                 lambda got: ref.same_rows(got[0], capped, ["doc_a", "doc_b"], tol_cols=("jaccard",))),
            Step("minhash",
                 lambda: [dedup.minhash_lsh_duplicates(self.docs, n=3, num_hashes=16, bands=4,
                                                       threshold=self.THRESH)],
                 check_minhash),
            Step("topk",
                 lambda: [similarity.cosine_topk(self.emb, query_filter=lambda c: c.isin(probes),
                                                 k=self.K)],
                 lambda got: ref.same_rows(got[0], ref.cosine_topk(self.vecs, probes, self.K),
                                           ["query_id", "rnk"], tol_cols=("cosine",))),
        ]


class GraphDynamic:
    """Writes beside reads: a mixed batch of edge additions and removals
    applied to an R-MAT graph read from Parquet, with connected components
    and BFS distances maintained incrementally. The removals send both
    maintainers down their restricted-recompute path."""

    name = "graph_dynamic"
    e2e_ops = ("apply_events", "dyn_cc", "dyn_bfs")
    SCALE, EDGE_FACTOR, N_ADD, N_DEL, MAX_ROUNDS = 10, 16, 200, 50, 30

    def __init__(self, seed: int, nproc: int):
        self.seed, self.nproc = seed, nproc
        #: [edges, components, distances] before and after the batch
        self.state: list[list[DataFrame | None]] = [[None] * 3 for _ in range(2)]

    def prepare(self, spark, in_dir: str, timed) -> None:
        from icebug_spark.sources.dispatch import read_graph
        from icebug_spark.sources.dynamic_generators import EVENT_SCHEMA

        rng = np.random.default_rng(self.seed)
        self.edges = inputs.rmat_edges(rng, self.SCALE, self.EDGE_FACTOR)
        path = f"{in_dir}/graph"
        inputs.write_graph_dir(self.edges, path, self.nproc)
        self.batch = inputs.edge_batch(rng, self.edges, 1 << self.SCALE, self.N_ADD, self.N_DEL)
        # a hub source keeps the BFS depth alike across seeds
        vals, deg = np.unique(self.edges, return_counts=True)
        self.source = int(rng.choice(vals[np.argsort(-deg, kind="stable")[:10]]))
        with timed("sources.read_graph"):
            g = read_graph(spark, path, fmt="Parquet")
            self.base = g.edges.select("src", "dst").localCheckpoint(eager=True)
        self.events = spark.createDataFrame(self.batch, EVENT_SCHEMA)

    def init_state(self, spark) -> None:
        """CC labels and BFS distances of the base graph, the state the
        batch updates. They are inputs, so the numpy reference makes them;
        the static operators are timed on ``graph_iterative``."""
        eu = ref.undirected(self.edges)
        self.state[0] = [
            self.base,
            spark.createDataFrame(ref.components(eu), "id long, component long")
            .localCheckpoint(eager=True),
            spark.createDataFrame(ref.bfs(eu, self.source, self.MAX_ROUNDS), "id long, dist long")
            .localCheckpoint(eager=True),
        ]

    def sizes(self) -> dict:
        return {"rmat_scale": self.SCALE, "edge_factor": self.EDGE_FACTOR,
                "edges": len(self.edges), "nodes": int(np.unique(self.edges).size),
                "batch_additions": self.N_ADD, "batch_removals": self.N_DEL,
                "bfs_source": self.source}

    def updated_edges(self) -> np.ndarray:
        cur = {tuple(e) for e in self.edges.tolist()}
        for _, kind, u, v, _w in self.batch:
            (cur.add if kind == "EDGE_ADDITION" else cur.discard)((u, v))
        return np.array(sorted(cur), dtype=np.int64)

    def steps(self) -> list[Step]:
        from icebug_spark.streaming import dynamic2

        (e0, cc0, d0), new = self.state
        edges_np = self.updated_edges()
        eu_np = ref.undirected(edges_np)

        # each result is checkpointed: the batch is done when its state is fresh
        def apply():
            new[0] = dynamic2.apply_edge_events(e0, self.events).localCheckpoint(eager=True)
            return [new[0]]

        def dyn_cc():
            new[1] = dynamic2.dyn_cc_update(
                cc0, new[0], self.events, max_rounds=self.MAX_ROUNDS
            ).localCheckpoint(eager=True)
            return [new[1]]

        def dyn_bfs():
            new[2] = dynamic2.dyn_bfs_update(
                d0, new[0], self.events, max_rounds=self.MAX_ROUNDS
            ).localCheckpoint(eager=True)
            return [new[2]]

        return [
            Step("apply_events", apply,
                 lambda got: ref.same_rows(got[0], pd.DataFrame(edges_np, columns=["src", "dst"]),
                                           ["src", "dst"])),
            Step("dyn_cc", dyn_cc,
                 lambda got: ref.same_rows(got[0], ref.components(eu_np), ["id"])),
            Step("dyn_bfs", dyn_bfs,
                 lambda got: ref.same_rows(got[0], ref.bfs(eu_np, self.source, self.MAX_ROUNDS),
                                           ["id"])),
        ]

    def static_recompute_s(self) -> dict[str, float]:
        """Seconds to recompute CC and BFS from scratch on the updated
        graph, the baseline of the incremental-over-static ratios."""
        from icebug_spark.catalog import symmetrize
        from icebug_spark.operators import components, traversal

        eu = symmetrize(self.state[1][0]).localCheckpoint(eager=True)
        t = time.perf_counter()
        components.connected_components(eu).localCheckpoint(eager=True)
        cc_s = time.perf_counter() - t
        t = time.perf_counter()
        traversal.bfs_distances(eu, source=self.source, max_hops=self.MAX_ROUNDS).localCheckpoint(eager=True)
        return {"dyn_cc": cc_s, "dyn_bfs": time.perf_counter() - t}


WORKLOADS = {w.name: w for w in (GraphIterative, LlmCorpus, GraphDynamic)}

#: every op a workload times, with the layer that prefixes its per-layer
#: metrics; a traced run reports all of them, 0 for ops it did not run
LAYER_OF_OP = {
    "pagerank": "operators", "cc": "operators", "bfs": "operators", "triangles": "operators",
    "exact_dedup": "llm", "text_stats": "llm", "ngram_jaccard": "llm", "minhash": "llm",
    "topk": "llm", "apply_events": "streaming", "dyn_cc": "streaming", "dyn_bfs": "streaming",
}
