"""Star-schema catalog: loaders for the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint
from icebug_spark.session import prepare

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # TIMESTAMP(NANOS) arrives as raw long nanos (nanosAsLong conf);
        # convert with integer division — double division would lose
        # precision at 1e18 magnitudes. DuckDB truncates ns→us the same way.
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


#: session-scoped memo of the derived artifacts, keyed
#: (applicationId, sf_dir, name) — on the live SparkContext, so a
#: restarted session rebuilds instead of reusing dead RDD handles
_ARTIFACTS: dict[tuple[str, str, str], object] = {}


def _artifact(spark: SparkSession, sf_dir: str, name: str, build: Callable):
    """Artifact ``name`` of ``sf_dir``: ``build()`` on first use in this
    session, the memoized object afterwards. Unlocked: two threads that
    ask for the same cold artifact both build it and the last one is
    kept (``build_derived_artifacts`` builds the shared ones first)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _ARTIFACTS:
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]


def derived_edges(
    spark: SparkSession, sf_dir: str, materialize: bool = False
) -> DataFrame:
    """E(src, dst) := SELECT DISTINCT o_custkey, l_suppkey FROM orders ⋈ lineitem.

    The bipartite-by-role (but overlapping-id) customer→supplier graph used
    by the declared graph queries Q18-Q28 (SURVEY.md §2.18). The
    orders⋈lineitem join is a plain equi-join on l_orderkey — at 100 TB
    both sides are large, so we let Catalyst pick sort-merge + AQE; the
    DISTINCT is a partial-aggregating shuffle on (src, dst).
    """
    if materialize:
        # E is consumed repeatedly (both union branches of symmetrize, every
        # loop round of the iterative algorithms) — materialize once PER
        # SESSION instead of re-running the orders⋈lineitem join per
        # consumer (same memo as EU below). E is tiny relative to the fact
        # tables (bounded by |customers|·|suppliers|), so this is the right
        # call at 100 TB too.
        # E is exactly the key set of EW (the groupBy that builds the
        # weighted artifact already dedups the (src, dst) pairs), so the
        # materialized E is a zero-shuffle PROJECTION of the checkpointed
        # EW — the old shape ran the orders⋈lineitem join + a DISTINCT
        # exchange a second time for the same rows. One shared build, one
        # stored artifact, two views — the warehouse shape at 100 TB too.
        return _artifact(
            spark,
            sf_dir,
            "E",
            lambda: derived_weighted_edges(spark, sf_dir).select("src", "dst"),
        )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )


def derived_weighted_edges(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """EW(src, dst, weight) — edge multiplicity (lineitem count) as weight.

    Materialized once per session like E/EU: six registry queries consume
    EW, and the orders⋈lineitem aggregate is identical each time — at
    100 TB this is the persisted weighted-edge artifact every analysis
    reads. ``materialize=False`` returns the raw lineage (lets Catalyst
    push consumer filters into the fact-table scan when a caller really
    wants that)."""
    if materialize:
        return _artifact(
            spark,
            sf_dir,
            "EW",
            lambda: checkpoint(
                derived_weighted_edges(spark, sf_dir, materialize=False)
            ),
        )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def derived_edges_undirected(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """EU := symmetrize(E), materialized ONCE PER SESSION. Every iterative
    operator joins EU per round; materializing only E (the old call-site
    pattern) left the union+distinct in the loop lineage, re-shuffling it
    each round — measured ~0.5-2 s/round at sf0.1. Checkpointing EU
    truncates that, and the session-scoped memo means consecutive queries
    (the driver runs ~130 of them) pay the orders⋈lineitem build once —
    exactly the 100 TB shape, where EU is persisted/bucketed by src once
    and every analysis reads the same artifact. Keyed on the live
    SparkContext so a restarted session rebuilds instead of reusing dead
    RDD handles."""
    if not materialize:
        return symmetrize(derived_edges(spark, sf_dir, materialize=False))
    return _artifact(spark, sf_dir, "EU", lambda: _build_eu(spark, sf_dir))


def _build_eu(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EU as a DISJOINT union of the canonical artifact: C holds each
    # undirected edge once as u < v, so C, reverse(C) and the self-loops
    # of E are pairwise disjoint and their union needs NO distinct — the
    # old symmetrize(E) shape shuffled 2|E| rows through a dedup
    # exchange. C is shared with the triangle family, so the only
    # exchange left in the whole EU build is C's own least/greatest
    # distinct (|E| rows, half the bytes). Same disjointness argument
    # holds at 100 TB: the canonical table is the stored artifact and
    # the undirected view is a projection-union of it.
    c = derived_canonical_edges(spark, sf_dir)
    e = derived_edges(spark, sf_dir, materialize=True)
    eu = (
        c.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(c.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .union(e.where(F.col("src") == F.col("dst")))
    )
    return checkpoint(eu)


def symmetrize(edges: DataFrame) -> DataFrame:
    """EU := E ∪ reverse(E) (distinct). Undirected view of a directed edge set."""
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return edges.select("src", "dst").union(rev).distinct()


def derived_canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C(u, v) := canonical (u < v, loop-free) undirected edge set,
    materialized once per session. The triangle/clustering family (q24,
    q25, edge scores) all start from this table; without the memo each
    query re-runs the least/greatest distinct (~1.3 s at sf0.1). Same
    100 TB shape as E/EU: C is the persisted canonical-edge artifact
    every triangle-ish analysis reads."""
    from icebug_spark.operators.triangles import canonical_edges

    return _artifact(
        spark,
        sf_dir,
        "C",
        lambda: checkpoint(
            canonical_edges(derived_edges(spark, sf_dir, materialize=True))
        ),
    )


def derived_triangle_kernel(spark: SparkSession, sf_dir: str):
    """(oriented, adj, small) of the canonical derived graph
    (``triangles.build_triangle_kernel``), checkpointed ONCE PER SESSION
    next to C. q24, q25 and the triangle edge scores all start from the
    same degree-ordered orientation + sorted out-lists; without the memo
    each of them re-paid the orientation + adjacency build (~2.3 s of
    q24's 4.5 s cold kernel at sf0.1, measured r6). At 100 TB this is
    the persisted oriented-adjacency artifact stored beside the
    canonical edge table — every triangle-ish analysis scans it."""
    from icebug_spark.operators.triangles import build_triangle_kernel

    return _artifact(
        spark,
        sf_dir,
        "kernel",
        lambda: build_triangle_kernel(
            derived_canonical_edges(spark, sf_dir), materialize=True
        ),
    )


def build_derived_artifacts(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the four session artifacts (EU, EW, C, triangle
    kernel), building the shared E first and then the three independent
    consumers on concurrent job-submission threads. Spark schedules the
    jobs onto idle cores in parallel (local and cluster alike) — the
    sequential build serialized three independent shuffles behind each
    other (~9.5 s vs ~6 s measured at sf0.1 on 32 threads). On a real
    cluster these are independent writes of persisted bucketed tables;
    submitting them concurrently is exactly how a warehouse would
    refresh them. The pool threads inherit the caller's job group, job
    tags and other local properties."""
    from concurrent.futures import ThreadPoolExecutor

    # EW is the single shared build now: one orders⋈lineitem + one groupBy
    # shuffle, checkpointed; E is its zero-shuffle projection and C is the
    # one remaining dedup exchange. EU and the triangle kernel both hang
    # off C (EU as a disjoint projection-union, the kernel as the
    # orientation build), so the build is EW → C → two concurrent leaf
    # jobs. The old shape ran the fact-table join twice and shuffled
    # 2|E| rows through EU's own distinct.
    derived_canonical_edges(spark, sf_dir)  # builds EW + E on the way
    jobs = [
        lambda: derived_edges_undirected(spark, sf_dir).count(),
        lambda: derived_triangle_kernel(spark, sf_dir),
    ]
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(inherit(j)) for j in jobs]:
            f.result()


# Shared SQL fragments for the DuckDB oracle twins (the oracle has views
# named after the tables; keep these textually identical across queries).
E_SQL = (
    "SELECT DISTINCT o_custkey AS src, l_suppkey AS dst "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)
# NB: DISTINCT-over-UNION-ALL, not bare UNION — inside WITH RECURSIVE,
# DuckDB reinterprets "A UNION B" CTE bodies as recursive unions and skips
# the global dedup.
EU_SQL = (
    f"SELECT DISTINCT src, dst FROM ("
    f"SELECT src, dst FROM ({E_SQL}) "
    f"UNION ALL "
    f"SELECT dst AS src, src AS dst FROM ({E_SQL}))"
)
EW_SQL = (
    "SELECT o_custkey AS src, l_suppkey AS dst, "
    "CAST(COUNT(*) AS DOUBLE) AS weight "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
    "GROUP BY o_custkey, l_suppkey"
)
