"""PageRank over the undirected edge table.

Link-graph tier (north rule; not in the reference, whose iteration analogue
is the per-pattern barrier loop, core/Peregrine.hh:1320-1424).

Semantics: damping d (default 0.85), teleport distribution tp over the
degree>0 vertices, rank_0 = tp and
rank_{i+1}(v) = (1-d) * tp(v) + d * Σ_{u∈N(v)} rank_i(u)/deg(u).
Classic PageRank has tp = 1/n everywhere; ``pagerank(sources=S)`` is
personalized PageRank (random walk with restart) with tp = 1/|S| on the
sources present in the graph and 0 elsewhere, and raises when none is.
Undirected (symmetrized) edges ⇒ no dangling vertices. Convergence: L1
delta ≤ tol. Matches a NumPy/pure-Python oracle to ≤1e-6 (tests).

One superstep over the state (v, deg, tp, rank), all Catalyst: the inflow
is ranks ⋈ edges_sym on src (shuffle hash join over the co-partitioned
inputs), then groupBy(dst).sum, whose map-side partial aggregation absorbs
hub fan-in; the state joins that inflow on v. Whole-stage-codegen'd, no
Python in the loop. tp rides in the state, so personalization adds no join
per superstep.

Checkpoints written before the tp column existed hold (v, deg, rank) and
cannot be resumed: ``resume=True`` raises a ``ValueError`` naming both
schemas before any superstep runs. Restart such a run from scratch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peregrine_spark.session import literal_table
from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    vertex_program,
)


def _degrees(edges_sym: DataFrame) -> DataFrame:
    return edges_sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _init_state_tp(deg: DataFrame, sources) -> DataFrame:
    """State (v, deg, tp, rank) with an explicit per-vertex teleport
    distribution. ``sources=None`` is classic PageRank (uniform 1/n);
    otherwise teleport mass is 1/|S| over the source vertices present in
    the graph (personalized PageRank / random walk with restart).
    rank_0 = tp in both cases."""
    if sources is None:
        # no vertex: an empty state, which converges on its first superstep
        tp = F.lit(1.0 / max(deg.count(), 1))
        return deg.select("v", "deg", tp.alias("tp"), tp.alias("rank"))
    src_df = literal_table(deg.sparkSession, ["v"], [(s,) for s in sorted(set(sources))])
    marked = deg.join(
        F.broadcast(src_df.select("v", F.lit(True).alias("_s"))), "v", "left"
    )
    k = marked.where(F.col("_s")).count()
    if k == 0:
        raise ValueError("personalized pagerank: no source vertex is in the graph")
    tp = F.when(F.col("_s"), F.lit(1.0 / k)).otherwise(F.lit(0.0))
    return marked.select("v", "deg", tp.alias("tp"), tp.alias("rank"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    n_partitions: int | None = None,
    sources=None,
) -> SuperstepResult:
    """Pure-DataFrame supersteps. ``edges`` is canonical (src<dst); state
    schema (v, deg, tp, rank) where tp is the teleport distribution —
    uniform 1/n by default, or (``sources=``) 1/|S| over a source set for
    PERSONALIZED PageRank (random walk with restart: rank mass re-injects
    only at the sources, scoring proximity to them). The teleport column
    rides in the state, so personalization adds zero extra joins per
    superstep.

    check_every: convergence (L1 delta) is measured every k-th superstep.
    The delta is one aggregate observed on the pass that already runs (the
    state's materialization), not a second pass, so every superstep is one
    Spark job either way; a larger k only saves that aggregate.

    n_partitions: partition count for the adjacency AND every in-loop
    shuffle (defaults to :func:`auto_shuffle_partitions` of the symmetrized
    edge count — data-sized, not the session default)."""
    with vertex_program(edges, n_partitions) as sym:

        def step(state: DataFrame, i: int) -> DataFrame:
            kept = state.select("v", "deg", "tp", F.col("rank").alias("old"))
            # Σ_{u∈N(v)} rank(u)/deg(u) for every v with a neighbour
            inflow = (
                sym.join(state.hint("shuffle_hash"), sym["src"] == F.col("v"))
                .select(F.col("dst").alias("v"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("inflow"))
            )
            return (
                kept.join(inflow.hint("shuffle_hash"), "v", "left")
                .select(
                    "v",
                    "deg",
                    "tp",
                    (
                        F.lit(1 - damping) * F.col("tp")
                        + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                    ).alias("rank"),
                    "old",
                )
            )

        def l1_change(frame: DataFrame, i: int) -> Column:
            return F.sum(F.abs(F.col("rank") - F.col("old")))

        res = (engine or SuperstepEngine(sym.sparkSession)).run(
            _init_state_tp(_degrees(sym), sources), step, l1_change,
            max_iters=max_iters, tol=tol, resume=resume, check_every=check_every,
        )
        res.state = res.state.select("v", "rank", "deg")
        return res
