"""High-diameter checkpoint-chain stress (round-10 verdict item 4).

The carrier-fused loops (multi_source_bfs, sssp_weighted, ANF,
PageRank) truncate lineage with an eager localCheckpoint every round.
plans/iterate.checkpoint_observe documents a Spark 4.1 hazard where a
loop whose per-round plan JOINS two subtrees that BOTH reference the
previous checkpoint degrades exponentially (the copied plan statistics
multiply — BigInt digit counts double per round); loops that reference
the checkpoint once per branch of a union + ONE join only ADD digit
counts (linear), so they should stay flat at any depth. Graph diameter
bounds the depth of the distance loops, and every previously tested
graph had diameter ≲ 12 — far below the ~16-link onset measured for
the quadratic shape. This harness runs the loops on PATH graphs
(diameter 64+, the worst case a 100 TB graph can realistically pose)
and records PER-ROUND wall times, proving the per-level cost is flat —
i.e. the carrier loops are NOT in the exponential regime.

Method: wrap each operator module's ``checkpoint_observe``/
``checkpoint`` binding with a timestamp recorder; the interval between
consecutive checkpoint returns is the full cost of one round (plan
construction + stats copy + execution). Flatness metric: mean of the
last quarter of rounds over mean of rounds 2-8 (warm) — the quadratic
regime would put this ratio in the hundreds by depth 64 (~2.8x/round
past the onset); anything under ~3 is scheduling noise. Value parity
is asserted exactly (dist(i) == i on a path).

Writes the ``high_diameter`` section of the JSON file given by ``--out``
(default: the repo's BENCH_SCALEUP.json); point ``--out`` elsewhere for
A/B runs that should leave the committed file alone:

    python tools/bench_highdiameter.py --out /tmp/highdiam.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from icebug_spark.session import get_spark  # noqa: E402

PATH_N = int(os.environ.get("SPARK_GRAFT_HIGHDIAM_N", "2000"))
DEPTH = int(os.environ.get("SPARK_GRAFT_HIGHDIAM_DEPTH", "64"))


def _flat_ratio(intervals: list[float]) -> float:
    """mean(last quarter) / mean(rounds 2..8) — ~1 when per-round cost
    is flat, explodes (2.8**rounds-past-onset) in the quadratic regime."""
    if len(intervals) < 12:
        return 1.0
    warm = intervals[2:8]
    tail = intervals[-max(4, len(intervals) // 4):]
    base = sum(warm) / len(warm)
    return (sum(tail) / len(tail)) / base if base > 0 else 1.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--out",
        default=os.path.join(ROOT, "BENCH_SCALEUP.json"),
        help="JSON file whose high_diameter section is (re)written",
    )
    path = ap.parse_args().out
    spark = get_spark("bench-highdiameter")
    out: dict = {"path_n": PATH_N, "depth": DEPTH, "kernels": {}}

    chain = [(i, i + 1) for i in range(PATH_N - 1)]
    e = spark.createDataFrame(chain, "src BIGINT, dst BIGINT")
    eu = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    import icebug_spark.operators.distances2 as distances2
    import icebug_spark.operators.traversal as traversal
    import icebug_spark.plans.iterate as iterate

    def timed(module, attr):
        orig = getattr(module, attr)
        stamps: list[float] = []

        def wrapper(*a, **kw):
            r = orig(*a, **kw)
            stamps.append(time.time())
            return r

        setattr(module, attr, wrapper)
        return orig, stamps

    def record(name, stamps, t0, extra=None):
        iv = [round(b - a, 3) for a, b in zip([t0] + stamps, stamps)]
        entry = {
            "rounds": len(iv),
            "per_round_secs": iv,
            "flat_ratio_tail_over_warm": round(_flat_ratio(iv), 2),
            "total_secs": round(sum(iv), 2),
        }
        if extra:
            entry.update(extra)
        out["kernels"][name] = entry
        print(
            f"{name}: {len(iv)} rounds, total {entry['total_secs']}s, "
            f"flat-ratio {entry['flat_ratio_tail_over_warm']}"
        )

    # --- BFS on a diameter-(PATH_N-1) path, DEPTH levels ---
    orig, stamps = timed(traversal, "checkpoint_observe")
    t0 = time.time()
    d = traversal.multi_source_bfs(eu, [0], max_hops=DEPTH)
    rows = {r["id"]: r["dist"] for r in d.collect()}
    traversal.checkpoint_observe = orig
    assert all(rows[i] == i for i in range(DEPTH + 1)), "BFS path parity"
    assert len(rows) == DEPTH + 1
    record("multi_source_bfs", stamps, t0, {"parity": "dist(i)==i exact"})

    # --- weighted SSSP (Bellman-Ford relax), DEPTH rounds ---
    ew = eu.select("src", "dst", F.lit(1.0).alias("weight"))
    orig, stamps = timed(traversal, "checkpoint_observe")
    t0 = time.time()
    d = traversal.sssp_weighted(ew, 0, max_iter=DEPTH)
    rows = {r["id"]: r["dist"] for r in d.collect()}
    traversal.checkpoint_observe = orig
    assert all(rows[i] == float(i) for i in range(DEPTH)), "SSSP path parity"
    record("sssp_weighted", stamps, t0, {"parity": "dist(i)==i exact"})

    # --- ANF sketch loop, DEPTH/2 hops (each hop = 1 checkpoint) ---
    orig, stamps = timed(distances2, "checkpoint_observe")
    t0 = time.time()
    nf = distances2.anf_sketch_iteration(eu, k=16, max_h=DEPTH // 2, seed=7)
    n_rows = nf.count()
    distances2.checkpoint_observe = orig
    assert n_rows == DEPTH // 2 + 1
    record("anf_sketch_iteration", stamps, t0)

    # --- PageRank, DEPTH rounds (single-reference diagonal-carry loop) ---
    from icebug_spark.operators.centrality import pagerank

    orig, stamps = timed(iterate, "checkpoint")
    t0 = time.time()
    pr = pagerank(e, max_iter=DEPTH, distribute_sinks=True)
    s = pr.agg(F.sum("pagerank")).collect()[0][0]
    iterate.checkpoint = orig
    assert abs(s - 1.0) < 1e-6, "rank mass conserved"
    record("pagerank", stamps, t0, {"parity": "sum(rank)==1 to 1e-6"})

    doc = json.load(open(path)) if os.path.exists(path) else {}
    doc["high_diameter"] = out
    doc["high_diameter_method"] = (
        "path graph (diameter PATH_N-1), per-round wall between "
        "consecutive checkpoint returns via wrapped checkpoint_observe; "
        "flat ratio = mean(last quarter)/mean(rounds 2-8); exact parity "
        "asserts on the outputs (see tools/bench_highdiameter.py)"
    )
    json.dump(doc, open(path, "w"), indent=1)
    print(f"wrote high_diameter section -> {path}")


if __name__ == "__main__":
    main()
