"""Triangle counting — the engine's flagship single query.

Reference semantics: ``count(clique(3))`` — each triangle counted exactly
once via the symmetry-breaking total order v1 < v2 < v3 (the clique's
automorphism group is the full symmetric group, so the partial order is a
chain — core/Graph.hh conditions for cliques).

Spark-first HOW (not the reference's DFS): the classic degree-oriented
two-join plan. Orient every edge from its lower-degree endpoint to its
higher-degree endpoint; the oriented out-degree is then O(sqrt(|E|)), which
bounds the size of the wedge join and kills hub skew *structurally* (the
same skew the reference handles with MPI work stealing, RangeQueue.hh).
Because ingest renumbers vertices by DESCENDING degree, "higher degree" ==
"smaller id", so orientation is simply (src > dst) on renumbered ids and the
count is a pure two-join + count over the canonical edge table:

    tri = |{(u,v,w) : u→v, u→w, v→w in E_oriented, v > w}|

Every predicate is an equi-join key or a range filter — fully Catalyst-
optimizable, whole-stage codegen, AQE-skew-splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient canonical (src<dst) edges from the lower-degree endpoint to the
    higher-degree endpoint. Ids ascend as degree descends, so the higher id
    is the lower-degree endpoint: orient from greatest(id) to least(id)."""
    return edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )


def triangle_count(edges: DataFrame, pre_oriented: bool = False) -> DataFrame:
    """Total triangle count. ``edges`` is the canonical (src<dst) table with
    degree-descending ids (any consistent ids work; degree-descending ids
    make the oriented fan-out sqrt-bounded). Returns 1 row: (triangles).

    ``pre_oriented=True`` asserts the input is ALREADY degree-oriented
    (higher id → lower id) and skips the greatest/least swap. This matters
    for bucketed storage: the swap is opaque to Catalyst, so a table
    bucketed by ``src`` only feeds the wedge self-join shuffle-free when
    the stored layout is the oriented one (see graph/storage.py and
    ``bench.py --bucketed``)."""
    orient = (lambda df: df) if pre_oriented else _oriented
    e = orient(edges).alias("e1")
    e2 = orient(edges).alias("e2")
    e3 = orient(edges).alias("e3")
    wedges = e.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") > F.col("e2.dst")),
    )
    tris = wedges.join(
        e3,
        (F.col("e1.dst") == F.col("e3.src")) & (F.col("e2.dst") == F.col("e3.dst")),
        "left_semi",
    )
    return tris.agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation: (v, triangles). Each triangle
    contributes 1 to each of its three vertices."""
    e = _oriented(edges).alias("e1")
    e2 = _oriented(edges).alias("e2")
    e3 = _oriented(edges).alias("e3")
    tri = (
        e.join(
            e2,
            (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") > F.col("e2.dst")),
        )
        .join(
            e3,
            (F.col("e1.dst") == F.col("e3.src")) & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c")
        )
    )
    stacked = tri.selectExpr("stack(3, a, b, c) as (v)")
    return stacked.groupBy("v").agg(F.count(F.lit(1)).alias("triangles"))


def ktruss(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """Edges of the k-truss — the maximal subgraph in which every edge
    closes at least k−2 triangles — of a canonical (src<dst) edge table.

    The triangle analogue of :func:`peregrine_spark.graph.build.kcore`'s
    degree peel, and the same Spark shape: per round, list triangles with
    the degree-oriented two-join (sqrt-bounded fan-out, hub-skew-safe on
    degree-descending ids), stack each triangle's three canonical edges,
    count support per edge with one partial-agg groupBy, and left_semi the
    surviving edges. The edge set shrinks monotonically, so fixpoint is
    detected by count equality; every round eagerly ``localCheckpoint``s
    the survivors and releases the previous round's blocks (plan
    truncation — a persist would grow lineage superlinearly over tens of
    peel rounds). Edges in no triangle have support 0 and drop in round
    one. Standard use: community cores and as an exact reducer for clique
    queries (every k-clique lives in the k-truss). Raises ``RuntimeError``
    when ``max_iters`` peel rounds end short of the fixpoint.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    from peregrine_spark.session import release_checkpoint

    cur = edges.localCheckpoint(eager=True)
    n = cur.count()
    for _ in range(max_iters):
        if n == 0:
            break
        e1 = _oriented(cur).alias("e1")
        e2 = _oriented(cur).alias("e2")
        e3 = _oriented(cur).alias("e3")
        tri = (
            e1.join(
                e2,
                (F.col("e1.src") == F.col("e2.src"))
                & (F.col("e1.dst") > F.col("e2.dst")),
            )
            .join(
                e3,
                (F.col("e1.dst") == F.col("e3.src"))
                & (F.col("e2.dst") == F.col("e3.dst")),
                "left_semi",
            )
            .select(
                F.col("e1.src").alias("x"),
                F.col("e1.dst").alias("y"),
                F.col("e2.dst").alias("z"),
            )
        )
        support = (
            tri.selectExpr(
                "stack(3, least(x,y), greatest(x,y),"
                " least(y,z), greatest(y,z),"
                " least(x,z), greatest(x,z)) as (src, dst)"
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("s"))
            .where(F.col("s") >= k - 2)
        )
        nxt = cur.join(
            support.select("src", "dst"), ["src", "dst"], "left_semi"
        ).localCheckpoint(eager=True)
        m = nxt.count()
        release_checkpoint(cur)
        cur = nxt
        if m == n:
            break
        n = m
    else:
        if n:
            raise RuntimeError(
                f"ktruss(k={k}) reached no fixpoint in {max_iters} peel rounds"
            )
    return cur


def local_clustering(
    edges: DataFrame, id_map: DataFrame | None = None, decimals: int = 6
) -> DataFrame:
    """Per-vertex local clustering coefficient over the canonical (src<dst)
    edge table: (v, triangles, degree, clustering) with

        clustering(v) = 2 * T(v) / (deg(v) * (deg(v) - 1))   for deg >= 2
                      = 0.0                                   otherwise

    rounded to ``decimals``. The reference computes per-vertex pattern
    participation through its vertex-keyed MapAggregator
    (core/aggregators/Aggregator.hh:40-131); here that is literally a
    groupBy over the degree-oriented triangle listing — two partial-agg
    groupBys (triangles per vertex, degree per vertex) and one hash join
    on the vertex key, all JVM-side column expressions. With ``id_map``
    (columns v, old) the result is reported on original vertex ids via one
    more key join.
    """
    from peregrine_spark.graph.from_tables import degrees

    tri = triangle_count_per_vertex(edges)
    deg = degrees(edges)
    out = deg.join(tri, "v", "left").select(
        "v",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.col("degree").cast("long").alias("degree"),
    )
    if id_map is not None:
        out = (
            out.join(id_map.select("v", "old"), "v")
            .select(F.col("old").alias("v"), "triangles", "degree")
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
            decimals,
        ).alias("clustering"),
    )
