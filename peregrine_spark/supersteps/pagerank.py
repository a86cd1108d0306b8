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

Both strategies run one shared superstep over the state (v, deg, tp, rank)
and differ only in the ``inflow`` kernel, Σ_{u∈N(v)} rank(u)/deg(u) per v.
tp rides in the state, so personalization adds no join per superstep.
Checkpoints written before the tp column existed hold (v, deg, rank) and
cannot be resumed: ``resume=True`` raises a ``ValueError`` naming both
schemas before any superstep runs. This includes every ``pagerank_csr``
checkpoint written before the strategies shared the state. Restart such a
run from scratch.

Strategy A — ``pagerank`` (pure Catalyst): contribution = ranks ⋈ edges_sym
on src (shuffle hash join over the co-partitioned inputs), groupBy(dst).sum
(map-side partial agg absorbs hub fan-in). Simple, whole-stage-codegen'd;
the only strategy with ``sources=``.

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

from typing import Callable, Iterator

import numpy as np
import pandas as pd
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


def _supersteps(
    sym: DataFrame,
    inflow: Callable[[DataFrame], DataFrame],
    damping: float,
    max_iters: int,
    tol: float,
    engine: SuperstepEngine | None,
    resume: bool,
    check_every: int,
    sources=None,
) -> SuperstepResult:
    """The superstep both strategies share; ``inflow(state)`` yields
    (v, inflow) for every vertex with a neighbour."""

    def step(state: DataFrame, i: int) -> DataFrame:
        return (
            state.select("v", "deg", "tp", F.col("rank").alias("old"))
            .join(inflow(state).hint("shuffle_hash"), "v", "left")
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

    check_every: convergence (L1 delta) is measured every k-th superstep.
    The delta is one aggregate observed on the pass that already runs (the
    state's materialization), not a second pass, so every superstep is one
    Spark job either way; a larger k only saves that aggregate.

    n_partitions: partition count for the adjacency AND every in-loop
    shuffle (defaults to :func:`auto_shuffle_partitions` of the symmetrized
    edge count — data-sized, not the session default)."""
    with vertex_program(edges, n_partitions) as sym:

        def inflow(state: DataFrame) -> DataFrame:
            return (
                sym.join(state.hint("shuffle_hash"), sym["src"] == F.col("v"))
                .select(F.col("dst").alias("v"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("inflow"))
            )

        return _supersteps(
            sym, inflow, damping, max_iters, tol, engine, resume, check_every, sources
        )


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

    with vertex_program(edges, n_partitions) as sym:
        # repartition() without a count takes the pinned shuffle partitions:
        # the blocks stay co-partitioned with the state on the vertex key
        blocks = build_adjacency_blocks(sym, chunk_size).repartition("src").persist()

        def inflow(state: DataFrame) -> DataFrame:
            st = state.hint("shuffle_hash")
            joined = blocks.join(st, blocks["src"] == st["v"]).select(
                "nbrs", "rank", st["deg"].alias("deg")
            )
            return (
                joined.mapInPandas(gather_scatter, schema="v long, inflow double")
                .groupBy("v")
                .agg(F.sum("inflow").alias("inflow"))
            )

        try:
            return _supersteps(
                sym, inflow, damping, max_iters, tol, engine, resume, check_every
            )
        finally:
            blocks.unpersist()
