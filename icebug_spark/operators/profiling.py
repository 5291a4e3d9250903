"""Graph profiling report — the engine's analog of the reference's
``networkit/profiling/`` module: one DataFrame of (metric, value)
assembling the headline statistics of §2 in a single pass hierarchy.

Everything here is a reuse of existing operators; the profile itself adds
no new shuffles beyond the operators it calls. Heavy metrics (diameter,
clustering) are gated by flags so the cheap profile stays one-scan cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.components import connected_components
from icebug_spark.operators.distances import diameter_double_sweep
from icebug_spark.operators.linkpred import degree_assortativity
from icebug_spark.operators.triangles import global_clustering_coefficient
from icebug_spark.plans.iterate import checkpoint


def profile(
    edges_undirected: DataFrame,
    include_diameter: bool = True,
    include_clustering: bool = True,
    include_components: bool = True,
    include_assortativity: bool = True,
) -> DataFrame:
    """(metric STRING, value DOUBLE) profile report, deterministic order
    by metric name. Mirrors the headline numbers of the reference's
    profiling report (n, m, density, degree stats, components, diameter,
    clustering, assortativity)."""
    spark = edges_undirected.sparkSession
    eu = edges_undirected.select("src", "dst")
    sym = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dstats = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("deg").alias("two_m"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.avg("deg").alias("avg_deg"),
    ).collect()[0]
    n = dstats["n"] or 0
    m = (dstats["two_m"] or 0) / 2

    rows = [
        ("num_nodes", float(n)),
        ("num_edges", float(m)),
        ("density", round(2 * m / (n * (n - 1)), 6) if n > 1 else 0.0),
        ("min_degree", float(dstats["min_deg"] or 0)),
        ("max_degree", float(dstats["max_deg"] or 0)),
        ("avg_degree", round(float(dstats["avg_deg"] or 0), 6)),
    ]

    if include_components:
        comp = connected_components(sym)
        csizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        cstats = csizes.agg(
            F.count(F.lit(1)).alias("ncc"), F.max("sz").alias("largest")
        ).collect()[0]
        rows.append(("num_components", float(cstats["ncc"] or 0)))
        rows.append(("largest_component", float(cstats["largest"] or 0)))

    if include_diameter:
        # the double sweep expects BOTH arc directions — on raw one-way
        # arcs its second sweep starts at a sink and reports 0
        d = diameter_double_sweep(sym).collect()[0][0]
        rows.append(("diameter_lower_bound", float(d or 0)))

    if include_clustering:
        cc = global_clustering_coefficient(sym).collect()[0]
        rows.append(("global_clustering", float(cc["global_cc"] or 0)))
        rows.append(("avg_clustering", float(cc["avg_cc"] or 0)))

    if include_assortativity:
        a = degree_assortativity(sym).collect()[0][0]
        rows.append(("degree_assortativity", float(a) if a is not None else 0.0))

    return spark.createDataFrame(sorted(rows), "metric string, value double")


def overview(g, include_clustering: bool = True) -> str:
    """``nk.overview(G)`` (reference ``networkit/__init__.py:135``):
    collect the basic network properties and print the reference's
    report (also returned as a string). Same line set and number
    formats: nodes/edges, directed?, weighted?, isolated nodes,
    self-loops, density, clustering coefficient (only for loop-free
    undirected graphs, like the reference), min/max/avg degree, degree
    assortativity, component count + largest size — components are
    STRONGLY connected for directed graphs (``:157-161``). Every stat
    is a distributed aggregation; only scalars reach the driver."""
    from icebug_spark.graph.core import Graph  # noqa: F401 (type context)
    from icebug_spark.operators.scc import strongly_connected_components
    from icebug_spark.operators.triangles import local_clustering_coefficient

    spark = g.edges.sparkSession
    eu = checkpoint(g.symmetrized())
    n = g.number_of_nodes()
    m = g.edges.count()
    self_loops = g.edges.where(F.col("src") == F.col("dst")).count()

    # degrees over ALL vertices (isolated ⇒ 0), reference DegreeCentrality
    deg = (
        g.vertices.select("id")
        .join(
            eu.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("deg")
            ),
            "id",
            "left",
        )
        .na.fill({"deg": 0})
    )
    ds = deg.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)).alias("iso"),
        F.min("deg").alias("mn"),
        F.max("deg").alias("mx"),
        F.avg("deg").alias("avg"),
    ).collect()[0]

    if g.directed:
        comp = strongly_connected_components(g.edges)
    else:
        comp = connected_components(eu)
    cs = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.count(F.lit(1)).alias("k"), F.max("sz").alias("lcs"))
        .collect()[0]
    )
    # components are computed over the edge-incident node set; each
    # isolated vertex is its own component in the reference's Partition.
    # A node whose ONLY incident arc is a self-loop is neither isolated
    # (deg>0) nor in the component output (the kernels drop self-loops)
    # — the reference still counts it as its own singleton component.
    n_iso = int(ds["iso"] or 0)
    edge_nodes = (
        g.edges.select(F.col("src").alias("id"))
        .union(g.edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_loop_only = edge_nodes.join(comp.select("id"), "id", "left_anti").count()
    n_comp = int(cs["k"] or 0) + n_iso + n_loop_only
    lcs = max(int(cs["lcs"] or 0), 1 if n else 0)

    lines = [
        "Network Properties:",
        f"nodes, edges\t\t\t{n}, {m}",
        f"directed?\t\t\t{g.directed}",
        f"weighted?\t\t\t{g.weighted}",
        f"isolated nodes\t\t\t{int(ds['iso'] or 0)}",
        f"self-loops\t\t\t{self_loops}",
        "density\t\t\t\t{:.6f}".format(
            (m / (n * (n - 1)) if g.directed else 2 * m / (n * (n - 1)))
            if n > 1
            else 0.0
        ),
    ]
    if include_clustering and self_loops == 0 and not g.directed:
        lcc_avg = (
            deg.join(local_clustering_coefficient(eu), "id", "left")
            .na.fill({"lcc": 0.0})
            .agg(F.avg("lcc"))
            .collect()[0][0]
        )
        lines.append(
            "clustering coefficient\t\t{:.6f}".format(float(lcc_avg or 0.0))
        )
    lines.append(
        "min/max/avg degree\t\t{:d}, {:d}, {:.6f}".format(
            int(ds["mn"] or 0), int(ds["mx"] or 0), float(ds["avg"] or 0.0)
        )
    )
    lines.append(
        "degree assortativity\t\t{:.6f}".format(
            float(degree_assortativity(eu).collect()[0][0] or 0.0)
        )
    )
    lines.append(f"number of connected components\t{n_comp}")
    lines.append(
        "size of largest component\t{} ({:.2f} %)".format(
            lcs, 100.0 * lcs / n if n else 0.0
        )
    )
    report = "\n".join(lines)
    print(report)
    return report
