"""Multi-source BFS hop distances via frontier-propagation supersteps.

dist_0(v) = 0 for v in sources, unreached otherwise; each superstep settles
every unreached neighbour of the current frontier at the frontier's
dist + 1. The reference's vertex-set machinery has no shortest-path app,
but this is the canonical fourth vertex program of the link-graph tier
(alongside PageRank / connected components / label propagation) and runs
on the same checkpointed, resumable :class:`SuperstepEngine`.

State: (v, dist, new) over all vertices; ``new`` marks the vertices the
last superstep settled (the sources, at first), which are the frontier.
No step number appears in the plan, so every superstep runs the same
generated code (whole-stage codegen compiles it once per session) and the
delta is ``count_if(new)``.

Scale shape: each superstep joins the FRONTIER (only the vertices settled
in the previous round) against the symmetrized edge table — never the full
state — then left-joins the reached set back onto the co-partitioned
state, so per-round shuffle volume tracks the frontier boundary, not |V|.
All joins/aggregations are JVM-side column expressions; convergence =
empty frontier (exact, the north rule's "component assignments exact"
discipline applied to hop distances).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peregrine_spark.session import literal_table
from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    vertex_program,
)


def bfs_hops(
    edges: DataFrame,
    sources: Iterable[int] | DataFrame,
    max_iters: int = 50,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """Hop distance from the nearest source over the canonical (src<dst)
    edge table, undirected. Returns (v, dist) over ALL vertices, dist null
    while unreached; converged when a superstep settles no new vertex.

    ``sources``: vertex ids (iterable) or a single-column DataFrame. Ids
    not present in the edge table are ignored (an isolated source has no
    edges to traverse); repeated ids count once. Returns the standard
    engine result — per-superstep metrics carry the frontier size, and
    ``resume=True`` restarts from the last complete checkpoint like every
    other vertex program.
    """
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col(sources.columns[0]).alias("v")).distinct()
    else:
        src_df = literal_table(
            edges.sparkSession, ["v"], [(s,) for s in sorted(set(sources))]
        )

    with vertex_program(edges, n_partitions) as sym:

        def step(state: DataFrame, i: int) -> DataFrame:
            frontier = state.where(F.col("new")).select("v", "dist")
            reached = (
                sym.join(frontier.hint("shuffle_hash"), sym["src"] == F.col("v"))
                .groupBy(F.col("dst").alias("v"))
                .agg((F.min("dist") + 1).alias("_nd"))
            )
            return state.join(reached.hint("shuffle_hash"), "v", "left").select(
                "v",
                F.coalesce("dist", "_nd").alias("dist"),
                (F.col("dist").isNull() & F.col("_nd").isNotNull()).alias("new"),
            )

        def newly_settled(frame: DataFrame, i: int) -> Column:
            return F.count_if("new")

        verts = sym.select(F.col("src").alias("v")).distinct()
        state0 = verts.join(src_df.select("v", F.lit(0).alias("_d")), "v", "left").select(
            "v", F.col("_d").cast("long").alias("dist"), F.col("_d").isNotNull().alias("new")
        )
        res = (engine or SuperstepEngine(edges.sparkSession)).run(
            state0, step, newly_settled, max_iters=max_iters, tol=0.0, resume=resume
        )
        return replace(res, state=res.state.select("v", "dist"))
