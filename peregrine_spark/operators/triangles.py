"""Triangle operators — count, per-vertex participation, k-truss and
local clustering — all read one listing.

Reference semantics: ``count(clique(3))`` — each triangle counted exactly
once via the symmetry-breaking total order v1 < v2 < v3 (the clique's
automorphism group is the full symmetric group, so the partial order is a
chain — core/Graph.hh conditions for cliques).

Spark-first HOW (not the reference's DFS): every operator here is a thin
aggregate over :func:`peregrine_spark.plans.fast_counts.clique_rows` with
k = 3, the degree-oriented two-join plan (wedge join plus one left_semi
closing edge, sqrt-bounded fan-out on degree-descending ids). Its rows
satisfy v1 > v2 > v3, so each triangle's canonical edges are (v2, v1),
(v3, v1) and (v3, v2) with no least/greatest swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.from_tables import degrees
from peregrine_spark.plans.fast_counts import clique_rows
from peregrine_spark.supersteps.engine import SuperstepEngine, edge_set_signature


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count. ``edges`` is the canonical (src<dst) table with
    degree-descending ids (any consistent ids work; degree-descending ids
    make the oriented fan-out sqrt-bounded). Returns 1 row: (triangles)."""
    return clique_rows(edges, 3).agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation: (v, triangles). Each triangle
    contributes 1 to each of its three vertices."""
    return (
        clique_rows(edges, 3)
        .selectExpr("stack(3, v1, v2, v3) as (v)")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def ktruss(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """Edges of the k-truss — the maximal subgraph in which every edge
    closes at least k−2 triangles — of a canonical (src<dst) edge table.

    The triangle analogue of :func:`peregrine_spark.graph.build.kcore`'s
    degree peel, run like it on
    :class:`~peregrine_spark.supersteps.engine.SuperstepEngine`, one Spark
    job per round: per round, list triangles, stack each triangle's three
    canonical edges, count support per edge with one partial-agg groupBy,
    and left_semi the surviving edges. Edges in no triangle have support 0
    and drop in round one. The fixpoint is the first round whose edge set
    equals the previous one's. Standard use: community cores and as an
    exact reducer for clique queries (every k-clique lives in the k-truss).
    When ``max_iters`` rounds end short of the fixpoint the engine logs and
    counts the run (``session.nonconverged_runs``) and this raises
    ``RuntimeError``.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")

    def survivors(cur: DataFrame, i: int) -> DataFrame:
        support = (
            clique_rows(cur, 3)
            .selectExpr("stack(3, v2, v1, v3, v1, v3, v2) as (src, dst)")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("s"))
            .where(F.col("s") >= k - 2)
        )
        return cur.join(support.select("src", "dst"), ["src", "dst"], "left_semi")

    res = SuperstepEngine(edges.sparkSession).run(
        edges, survivors, edge_set_signature, max_iters=max_iters
    )
    if not res.converged:
        raise RuntimeError(
            f"ktruss(k={k}) reached no fixpoint in {max_iters} peel rounds"
        )
    return res.state


def local_clustering(edges: DataFrame, id_map: DataFrame | None = None) -> DataFrame:
    """Per-vertex local clustering coefficient over the canonical (src<dst)
    edge table: (v, triangles, degree, clustering) with

        clustering(v) = 2 * T(v) / (deg(v) * (deg(v) - 1))   for deg >= 2
                      = 0.0                                   otherwise

    rounded to 6 decimals. The reference computes per-vertex pattern
    participation through its vertex-keyed MapAggregator
    (core/aggregators/Aggregator.hh:40-131); here that is literally a
    groupBy over the degree-oriented triangle listing — two partial-agg
    groupBys (triangles per vertex, degree per vertex) and one hash join
    on the vertex key, all JVM-side column expressions. With ``id_map``
    (columns v, old) the result is reported on original vertex ids via one
    more key join; a vertex missing from ``id_map`` fails the query instead
    of dropping its row.
    """
    tri = triangle_count_per_vertex(edges)
    deg = degrees(edges)
    out = deg.join(tri, "v", "left").select(
        "v",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.col("degree").cast("long").alias("degree"),
    )
    if id_map is not None:
        missing = F.concat(F.lit("local_clustering: id_map has no vertex "), F.col("v"))
        out = out.join(id_map.select("v", "old"), "v", "left").select(
            F.coalesce("old", F.raise_error(missing)).alias("v"), "triangles", "degree"
        )
    return out.select(
        "v",
        "triangles",
        "degree",
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1.0)),
            ).otherwise(0.0),
            6,
        ).alias("clustering"),
    )
