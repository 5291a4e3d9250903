"""Shared iterate-until-convergence runner for loop-shaped algorithms.

The reference's ~25 iterative kernels (PageRank, PLP/PLM, connected
components, BFS frontier, k-core peeling, Borůvka, Luby, suitor matching…)
are OpenMP loops over in-memory arrays. In Spark each round is a join +
aggregation; unbounded lineage growth and plan-explosion are the scale
hazards, so the runner truncates lineage with a checkpoint every few
rounds.

This module is the only place that decides how lineage is truncated:
every eager materialization in the package goes through ``checkpoint``
or ``pin`` (and their ``*_observe`` variants), so every one of them
honours the checkpoint mode. Two modes:

- ``localCheckpoint`` (default): cheap, executor-local, right for the
  local test path. No fault tolerance — an executor loss kills the job.
- reliable ``checkpoint`` (set ``spark.icebug.reliableCheckpoint=true``
  and call ``spark.sparkContext.setCheckpointDir(hdfs_path)`` first):
  writes state to the checkpoint dir each truncation, so a
  1000-executor run survives executor loss mid-loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: default row bound under which node-keyed loop state is broadcast.
#: ~20M (id, value) rows ≈ low-hundreds of MB serialized — near the safe
#: executor-broadcast ceiling. Override per-session with
#: ``spark.conf.set("spark.icebug.vertexBroadcastRows", ...)``.
DEFAULT_VERTEX_BROADCAST_ROWS = 20_000_000


def vertex_broadcast_cap(spark) -> int:
    return int(
        spark.conf.get(
            "spark.icebug.vertexBroadcastRows",
            str(DEFAULT_VERTEX_BROADCAST_ROWS),
        )
    )


def mirror(state: DataFrame, rows_bound: int) -> DataFrame:
    """Size-adaptive vertex-mirror hint for joining node-bounded loop
    state (frontier / labels / ranks / seen-set) against an m-sized,
    loop-invariant edge table.

    Checkpointed state has no catalog stats, so without a hint Catalyst
    sort-merges and reshuffles (and re-sorts) the whole edge table every
    round. When the caller-supplied ``rows_bound`` (an upper bound on the
    state's row count — exact counts are available free from each round's
    convergence check) fits under the configured cap, broadcast it: the
    edge table never moves (measured ~2x at sf0.1). Past the cap — e.g.
    1e9-node graphs where a broadcast frontier would OOM every executor —
    fall back to a shuffle-hash join: the n-sized state shuffles, the
    edge side hash-joins without the sort-merge sort, and on a cluster
    with the edge table bucketed/pre-partitioned by the join key the
    exchange on the edge side is elided entirely (co-partitioned plan) —
    see ``plans.bucketing.write_bucketed_edges`` for that setup and the
    plan-level proof test (`tests/test_bucketing.py`).
    """
    spark = state.sparkSession
    if rows_bound > vertex_broadcast_cap(spark):
        return state.hint("shuffle_hash")
    return F.broadcast(state)


#: test/debug hook: when set to a list, ``checkpoint`` and ``pin`` append
#: each DataFrame's physical-plan string before truncating it. This
#: exposes the PER-ROUND loop plans (join strategy, Exchange count,
#: bucketed scans) that eager checkpointing would otherwise discard —
#: the plan proof that a bucketed edge table elides its Exchange inside
#: a real algorithm loop lives on this hook (tests/test_bucketing.py).
PLAN_CAPTURE: list[str] | None = None


def _reliable(df: DataFrame) -> bool:
    """Whether ``df``'s session asks for reliable checkpoints, after
    recording its physical plan when ``PLAN_CAPTURE`` is on — the one
    place either is read."""
    if PLAN_CAPTURE is not None:
        PLAN_CAPTURE.append(
            df._jdf.queryExecution().executedPlan().toString()
        )
    flag = df.sparkSession.conf.get("spark.icebug.reliableCheckpoint", "false")
    return flag.lower() == "true"


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager lineage truncation honouring the reliable-checkpoint flag."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def pin(df: DataFrame) -> DataFrame:
    """Eager checkpoint with the inherited plan statistics RESET to
    fresh leaf stats — the stage-boundary truncation for SOLVER loops
    whose stages join a vector against itself (directly or through an
    MxV that references it twice).

    Why not plain ``localCheckpoint``: Spark copies the source plan's
    computed statistics onto the checkpointed ``LogicalRDD``, and a
    join's ``sizeInBytes`` is the BigInt PRODUCT of its children's — its
    digit count the SUM of theirs. A loop that pins, references the pin
    2x in the next stage (every Laplacian MxV does), and pins again
    DOUBLES the stat's digit count per stage; within ~100 stage
    boundaries Catalyst's stats visitor is multiplying BigInts with
    2^100-scale digit counts and the driver OOMs during planning — by
    plan shape, independent of data size. Re-wrapping the checkpointed
    RDD[InternalRow] in a fresh LogicalRDD (no stats rewrite) caps every
    stage at ``defaultSizeInBytes``. Safe wherever every join against
    the pinned frame carries an explicit ``mirror`` hint (all solver
    vector joins do); plain loop states that rely on inherited stats for
    auto-broadcast should keep using ``checkpoint``."""
    spark = df.sparkSession
    jdf = df._jdf.checkpoint(True) if _reliable(df) else df._jdf.localCheckpoint(True)
    try:
        # fresh LogicalRDD over the SAME materialized InternalRow
        # partitions — zero conversion (private[sql] is public at the
        # bytecode level; Spark 3.0-4.x)
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception:
        # public-API fallback: Row-typed round trip (one extra
        # InternalRow<->Row conversion per partition, still distributed)
        jnew = spark._jsparkSession.createDataFrame(jdf.toJavaRDD(), jdf.schema())
    return DataFrame(jnew, spark)


def checkpoint_observe(df: DataFrame, *aggs) -> tuple[DataFrame, dict]:
    """Eager lineage truncation with convergence aggregates computed
    DURING the materializing action: ``df.observe`` attaches the
    aggregates as query metrics, and the eager (local)checkpoint is the
    action that fills them — so a loop round that needs both a truncated
    state AND a scalar convergence value (frontier count, label sum,
    delta norm) submits ONE Spark job instead of two. On a 1000-executor
    cluster each avoided action is a full job-submission round trip per
    iteration. Returns ``(checkpointed_df, metrics_dict)``.

    CAUTION (measured on Spark 4.1, round 10; root-caused round 11): the
    localCheckpoint copies the source plan's computed STATISTICS onto
    the checkpointed LogicalRDD (see ``pin``), and a join's sizeInBytes
    is the BigInt PRODUCT of its children's. A loop whose per-round plan
    JOINS two subtrees that BOTH reference the previous checkpoint
    therefore SQUARES the stat each round — its digit count doubles, and
    the BigInt arithmetic inside the stats visitor grows exponentially
    (measured ~2.8×/round past ~16 chain links, with flat logical plans,
    flat RDD debugStrings and constant partition counts — the blow-up is
    inside the JVM's checkpoint call). That was the old power
    iteration's M·x ⋈ x shape. A carrier loop — a union branch plus ONE
    join against the checkpoint — only ADDS digit counts (linear in
    depth), so BFS/ANF/SSSP-style rounds are outside the exponential
    regime at any diameter (stress evidence: BENCH_SCALEUP.json
    ``high_diameter``, tools/bench_highdiameter.py — flat per-round cost
    to depth 64 on a path graph). Deep loops that need a SECOND join
    against the state must instead carry the value through the round's
    aggregation (see ``spectrum.laplacian_eigenvectors_power`` and the
    pagerank ``eplus`` diagonal-carry for the pattern), or ``pin`` to
    reset the stats."""
    obs = Observation()
    return checkpoint(df.observe(obs, *aggs)), obs.get


def pin_observe(df: DataFrame, *aggs) -> tuple[DataFrame, dict]:
    """``pin`` (stats-resetting eager checkpoint) with aggregates
    observed during the pinning action — the solver-loop variant of
    ``checkpoint_observe``: one Spark job yields both the materialized
    stage state and every scalar the driver needs to build the next
    stage's plan (α/β literals, stopping residuals)."""
    obs = Observation()
    return pin(df.observe(obs, *aggs)), obs.get


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    checkpoint_every: int = 2,
    observe: Callable[[], list] | None = None,
    observed_converged: Callable[[dict], bool] | None = None,
) -> DataFrame:
    """Run ``state = step(state, i)`` up to ``max_iter`` times,
    checkpointing every ``checkpoint_every`` rounds. Checkpointing is
    eager so each round's work is done once and the plan stays O(1) deep.

    ``observe`` + ``observed_converged``: a thunk returning aggregate
    Columns computed DURING each checkpoint's materializing action
    (``checkpoint_observe``), and a predicate over the resulting metrics
    dict that stops the loop. One Spark job per checkpoint round instead
    of checkpoint + convergence action; only evaluated at checkpoint
    boundaries (between boundaries the state is lazy, so a metric there
    would re-execute the plan).
    """
    state = checkpoint(state)
    for i in range(max_iter):
        state = step(state, i)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            if observe is not None:
                state, metrics = checkpoint_observe(state, *observe())
                if observed_converged is not None and observed_converged(
                    metrics
                ):
                    return state
            else:
                state = checkpoint(state)
    return state
