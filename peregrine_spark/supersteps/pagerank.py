"""PageRank over the undirected edge table — two physical strategies.

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

Strategy A — ``pagerank`` (pure Catalyst): contribution = ranks ⋈ edges_sym
on src (shuffle hash join, AQE skew-split), groupBy(dst).sum (map-side
partial agg absorbs hub fan-in). Simple, whole-stage-codegen'd. Its
superstep state is (v, deg, tp, rank): tp rides in the state, so
personalization adds no join per superstep. Checkpoints written before
the tp column existed hold (v, deg, rank) and cannot be resumed — the
first superstep fails resolving ``tp``; restart such a run from scratch.
(Strategy B below keeps the (v, deg, rank) state and has no ``sources=``.)

Strategy B — ``pagerank_csr`` (the north-star physical plan): adjacency is
materialized once as *chunked CSR blocks* — (src, chunk, nbrs array<long>)
with every chunk ≤ chunk_size neighbours. Chunking IS the hub salting: a
10^9-degree hub becomes many bounded rows, so the per-superstep join on src
is never skewed and no Arrow batch blows up. The superstep joins ranks to
the blocks (1:few equi-join) and a vectorized mapInPandas kernel does the
gather-scatter: np.repeat shares over the flattened neighbour arrays, then
np.unique+np.bincount pre-aggregates *within the batch* (map-side combine)
before the final groupBy(dst).sum shuffle. No per-row Python anywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.session import literal_table
from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    auto_shuffle_partitions,
    shuffle_partitions,
)


def _degrees(edges_sym: DataFrame) -> DataFrame:
    return edges_sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _init_state(deg: DataFrame) -> tuple[DataFrame, int]:
    n = deg.count()
    return (
        deg.select("v", "deg", (F.lit(1.0) / F.lit(float(n))).alias("rank")),
        n,
    )


def _init_state_tp(deg: DataFrame, sources) -> DataFrame:
    """State (v, deg, tp, rank) with an explicit per-vertex teleport
    distribution. ``sources=None`` is classic PageRank (uniform 1/n —
    identical values to :func:`_init_state`); otherwise teleport mass is
    1/|S| over the source vertices present in the graph (personalized
    PageRank / random walk with restart). rank_0 = tp in both cases."""
    if sources is None:
        n = deg.count()
        tp = F.lit(1.0 / n)
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
    """Strategy A: pure-DataFrame supersteps. ``edges`` is canonical
    (src<dst); state schema (v, deg, tp, rank) where tp is the teleport
    distribution — uniform 1/n by default, or (``sources=``) 1/|S| over a
    source set for PERSONALIZED PageRank (random walk with restart: rank
    mass re-injects only at the sources, scoring proximity to them). The
    teleport column rides in the state, so personalization adds zero
    extra joins per superstep.

    check_every: convergence (L1 delta) is measured every k-th superstep;
    in between, a superstep is exactly ONE Spark job (the truncation pass)
    — at scale the delta aggregation is a second full pass over the state,
    so fixed-iteration runs set this high.

    n_partitions: partition count for the adjacency AND every in-loop
    shuffle (defaults to :func:`auto_shuffle_partitions` of the symmetrized
    edge count — data-sized, not the session default)."""
    spark = edges.sparkSession
    n_part = n_partitions or auto_shuffle_partitions(spark, 2 * edges.count())
    sym = symmetrized(edges).repartition(n_part, "src").persist()
    engine = engine or SuperstepEngine(spark)

    cache_box: list[DataFrame] = []

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        # previous step's cache is safe to drop once the engine has
        # truncated/checkpointed that state (i.e. by the time we run again)
        while cache_box:
            cache_box.pop().unpersist()
        contrib = (
            sym.join(state, sym["src"] == state["v"])
            .select(F.col("dst").alias("v"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("inflow"))
        )
        new = (
            state.select("v", "deg", "tp", F.col("rank").alias("old"))
            .join(contrib, "v", "left")
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
        if (i + 1) % check_every and i != max_iters - 1:
            return new.select("v", "deg", "tp", "rank"), None
        new.persist()
        delta = new.agg(F.sum(F.abs(F.col("rank") - F.col("old")))).collect()[0][0]
        cache_box.append(new)
        out = new.select("v", "deg", "tp", "rank")
        return out, float(delta or 0.0)

    with shuffle_partitions(spark, n_part):
        state0 = _init_state_tp(_degrees(sym), sources)
        res = engine.run(state0, step, max_iters=max_iters, tol=tol, resume=resume)
    while cache_box:
        cache_box.pop().unpersist()
    res.state = res.state.select("v", "rank", "deg")
    sym.unpersist()
    return res


def build_adjacency_blocks(
    edges_sym: DataFrame, chunk_size: int = 1 << 16
) -> DataFrame:
    """Chunked CSR blocks: (src, chunk, deg, nbrs sorted array<long>).

    Neighbour lists are split into ~chunk_size pieces BEFORE collect_list so
    no single task ever materializes a hub's full adjacency (explicit skew
    salting; the reference's analogue is work-stealing hub ranges,
    core/RangeQueue.hh:598-675). ``nbrs`` is sorted ascending within each
    chunk — the CSR sortedness invariant (core/DataConverter.cc:349-359)
    that keeps np.searchsorted/intersection kernels valid.
    """
    deg = _degrees(edges_sym)
    with_deg = edges_sym.join(deg, edges_sym["src"] == deg["v"]).drop("v")
    chunked = with_deg.withColumn(
        "chunk",
        F.pmod(F.xxhash64("dst"), (F.col("deg") / chunk_size + 1).cast("long")),
    )
    return chunked.groupBy("src", "chunk").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs"),
        F.first("deg").alias("deg"),
    )


def pagerank_csr(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
    chunk_size: int = 1 << 16,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """Strategy B: chunked-CSR Arrow kernel supersteps."""
    spark = edges.sparkSession
    n_part = n_partitions or auto_shuffle_partitions(spark, 2 * edges.count())
    sym = symmetrized(edges)
    with shuffle_partitions(spark, n_part):
        blocks = (
            build_adjacency_blocks(sym, chunk_size)
            .repartition(n_part, "src")
            .persist()
        )
        deg = blocks.groupBy(F.col("src").alias("v")).agg(
            F.sum(F.size("nbrs")).alias("deg")
        )
        state0, n = _init_state(deg)
    engine = engine or SuperstepEngine(spark)

    def gather_scatter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            nbr_arrays = pdf["nbrs"].to_numpy()
            counts = np.fromiter((len(a) for a in nbr_arrays), dtype=np.int64)
            flat_dst = np.concatenate(nbr_arrays) if len(nbr_arrays) else np.array([], dtype=np.int64)
            shares = np.repeat(
                (pdf["rank"].to_numpy() / pdf["deg"].to_numpy()), counts
            )
            uniq, inv = np.unique(flat_dst, return_inverse=True)
            partial = np.bincount(inv, weights=shares, minlength=len(uniq))
            yield pd.DataFrame({"v": uniq.astype(np.int64), "inflow": partial})

    cache_box: list[DataFrame] = []

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        while cache_box:
            cache_box.pop().unpersist()
        joined = blocks.join(state, blocks["src"] == state["v"]).select(
            "nbrs", "rank", state["deg"].alias("deg")
        )
        contrib = (
            joined.mapInPandas(gather_scatter, schema="v long, inflow double")
            .groupBy("v")
            .agg(F.sum("inflow").alias("inflow"))
        )
        new = (
            state.select("v", "deg", F.col("rank").alias("old"))
            .join(contrib, "v", "left")
            .select(
                "v",
                "deg",
                (
                    F.lit((1 - damping) / n)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
                "old",
            )
        )
        if (i + 1) % check_every and i != max_iters - 1:
            return new.select("v", "deg", "rank"), None
        new.persist()
        delta = new.agg(F.sum(F.abs(F.col("rank") - F.col("old")))).collect()[0][0]
        cache_box.append(new)
        return new.select("v", "deg", "rank"), float(delta or 0.0)

    with shuffle_partitions(spark, n_part):
        res = engine.run(state0, step, max_iters=max_iters, tol=tol, resume=resume)
    while cache_box:
        cache_box.pop().unpersist()
    res.state = res.state.select("v", "rank", "deg")
    blocks.unpersist()
    return res
