"""Counting fast paths — count patterns WITHOUT materializing the final
join (the reference's biggest optimization; semantic parity with the
Counter fast paths, core/PatternMatching.hh:1670-1857, and the warning
that count() >> match(), core/Peregrine.hh:679-685).

Shapes handled (unlabelled, no anti-edges):

* k-clique  — degree-oriented join chain over the canonical edge table:
  orientation toward higher degree bounds the out-degree by O(sqrt(|E|)),
  so the wedge intermediate never explodes on hubs (the structural fix for
  the skew the reference handles with MPI work stealing). Count is an
  aggregate over the last join — no match rows survive the stage.
* k-star    — pure aggregate: sum over vertices of C(deg, k-1)
  (reference C5: one order group, binomial count).
* path-4    — per-edge closed form: sum over edges of
  (deg(u)-1)(deg(v)-1) minus 3*triangles (each path counted at its middle
  edge; the subtraction removes the closed walks). Reference C6 spirit:
  inclusion-exclusion over set sizes instead of enumeration.

Each sum is coalesced to 0: a SUM over no rows (an empty edge table, or
no wedge pair on a star forest) is null, and a count of nothing is 0.

``fast_count`` returns None when no fast path applies — callers fall back
to the generic pattern->join compiler. Correctness is cross-checked against
the compiler on random graphs (tests/test_fast_counts.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.graph.from_tables import degrees
from peregrine_spark.patterns.small_graph import SmallGraph


def oriented(edges: DataFrame) -> DataFrame:
    """Orient canonical (src<dst) edges from the lower-degree endpoint to the
    higher-degree endpoint. Ids ascend as degree descends, so the higher id
    (``dst``) is the lower-degree endpoint: orienting is a column rename,
    which Catalyst sees through, so a stored table bucketed by ``dst``
    (graph/storage.py) keeps its layout under the oriented wedge join."""
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def _comb_dec(col: Column, k: int) -> Column:
    """C(col, k) as an exact decimal(38,0) column (k small).

    Iterative exact form: C(n, i) = C(n, i-1) * (n-i+1) / i — every
    intermediate is itself an exact binomial, so the division is exact.
    Arithmetic runs in decimal(38,0): the long product of a naive
    numerator overflows at hub degrees (~2e6 for k=3) and a double
    division loses precision past 2^53; decimal keeps ~1e38 headroom
    (intermediate c*(n-i+1) <= C(n,i)*n < 2^63 * 2^63 ≈ 8.5e37) while the
    division result stays exact because it is integral. Callers that SUM
    the binomials keep the aggregation in decimal too (a long sum can wrap
    silently; a decimal overflow raises under ANSI mode, Spark's default)."""
    dec = "decimal(38,0)"
    c = F.lit(1).cast(dec)
    for i in range(1, k + 1):
        term = F.greatest(col - F.lit(i - 1), F.lit(0)).cast(dec)
        c = ((c * term) / F.lit(i)).cast(dec)
    return c


def _shape(p: SmallGraph) -> str | None:
    if p.labels or p.has_anti_edges():
        return None
    n = p.num_vertices
    degs = sorted(len(p.adj[v]) for v in p.vertices)
    e = p.num_true_edges
    if e == n * (n - 1) // 2:
        return "clique"
    if n >= 3 and degs == [1] * (n - 1) + [n - 1]:
        return "star"
    if n == 4 and degs == [1, 1, 2, 2] and e == 3:
        return "path4"
    if n == 4 and degs == [2, 2, 2, 2] and e == 4:
        return "cycle4"
    return None


def clique_rows(edges: DataFrame, k: int) -> DataFrame:
    """Unique k-clique rows (v1 > v2 > ... > vk, id order == ascending
    degree order) via the degree-oriented join chain — the engine's one
    clique listing (triangles, per-vertex triangles and the k-truss support
    step all read it). ``edges`` must be canonical (src<dst) with
    degree-descending ids (higher degree == lower id) — the ingest
    invariant. Aggregate for counting (:func:`clique_count`) or
    ``limit(1)`` for an early-terminating existence probe — a LocalLimit
    above the chain stops each task at its first surviving row, the Catalyst
    analogue of the reference's StopExploration (core/Barrier.hh:61-70).

    Orienting every edge toward its higher-degree endpoint bounds the
    oriented out-degree by O(sqrt(|E|)), so the wedge join never explodes
    on hubs (the skew the reference handles with MPI work stealing,
    RangeQueue.hh). Every predicate is an equi-join key or a range filter."""
    o = oriented(edges)
    # m holds v1 > v2 > ... > v_i (id order == ascending degree order)
    m = o.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    for i in range(3, k + 1):
        e_new = o.select(
            F.col("src").alias("v1"), F.col("dst").alias(f"v{i}")
        )
        m = m.join(e_new, "v1").where(F.col(f"v{i}") < F.col(f"v{i-1}"))
        for j in range(2, i):
            e_j = o.select(
                F.col("src").alias(f"v{j}"), F.col("dst").alias(f"v{i}")
            )
            m = m.join(e_j, [f"v{j}", f"v{i}"], "left_semi")
    return m


def clique_count(edges: DataFrame, k: int) -> DataFrame:
    """k-clique count — the :func:`clique_rows` chain with a count aggregate
    on top (no match rows survive the stage). Returns 1 row (cnt)."""
    return clique_rows(edges, k).agg(F.count(F.lit(1)).alias("cnt"))


def star_count(edges: DataFrame, k: int) -> DataFrame:
    """k-vertex star count = sum_v C(deg(v), k-1). One groupBy + one agg —
    no join at all. The whole aggregation runs in decimal(38,0) (exact; a
    long sum could wrap silently on a hub-heavy graph). Returns 1 row (cnt)."""
    return degrees(edges).agg(
        F.coalesce(F.sum(_comb_dec(F.col("degree"), k - 1)), F.lit(0))
        .cast("long")
        .alias("cnt")
    )


def path4_count(edges: DataFrame) -> DataFrame:
    """Edge-induced path-on-4-vertices count. Per-middle-edge closed form
    minus the triangle walks. Two aggregates + the 3-clique count."""
    deg = degrees(edges)
    du = deg.select(F.col("v").alias("src"), F.col("degree").alias("du"))
    dv = deg.select(F.col("v").alias("dst"), F.col("degree").alias("dv"))
    walks = (
        edges.join(du, "src")
        .join(dv, "dst")
        .agg(
            F.coalesce(
                F.sum((F.col("du") - 1).cast("long") * (F.col("dv") - 1).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("w")
        )
    )
    return walks.crossJoin(clique_count(edges, 3)).select(
        (F.col("w") - 3 * F.col("cnt")).cast("long").alias("cnt")
    )


def cycle4_count(edges: DataFrame) -> DataFrame:
    """4-cycle count, degree-ordered (Chiba–Nishizeki style, O(α·m) wedge
    work instead of Σ deg²).

    Anchor every 4-cycle at its unique highest-priority vertex ``a``
    (priority = degree-descending id order: smaller id ≻ larger id). If
    ``a`` is the top vertex of cycle a-x-c-y then x, y, c all have larger
    ids, x and y are common neighbours of (a, c), and the pair {a, c} is
    the one diagonal containing the top vertex — so

        cycles4 = Σ_{(a,c): id(a) < id(c)} C(|{x : x~a, x~c, id(x) > id(a)}|, 2)

    with NO final division (each cycle counted exactly once — this also
    removes the former ``/ 2`` double-arithmetic exactness hazard; the
    whole aggregation stays in decimal(38,0)).

    The wedge enumeration is a-x-c with centre x, and the a-leg comes from
    the degree ORIENTED table (x → a only when id(a) < id(x), i.e. a has
    higher degree). A degree-d hub therefore contributes d·d⁺ wedge rows
    — d⁺ its oriented out-degree, O(sqrt(|E|))-bounded — not d²: the
    17k-degree hub of the skew bench routes through the cheap side.
    Measured at SF=0.1: identical count, and the skewed-hub graph drops
    from Σ deg² ≈ 3·10⁸ wedge rows to ~10⁶."""
    o = oriented(edges)  # (src=x, dst=a): neighbours a of x with id(a) < id(x)
    sym = symmetrized(edges)
    a_leg = o.select(F.col("src").alias("x"), F.col("dst").alias("a"))
    c_leg = sym.select(F.col("src").alias("x"), F.col("dst").alias("c"))
    pairs = (
        a_leg.join(c_leg, "x")
        .where(F.col("c") > F.col("a"))  # a is the top vertex of the pair
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("p2"))
    )
    return pairs.agg(
        F.coalesce(F.sum(_comb_dec(F.col("p2"), 2)), F.lit(0)).cast("long").alias("cnt")
    )


def fast_count(edges: DataFrame, pattern: SmallGraph) -> DataFrame | None:
    """1-row (cnt) DataFrame for fast-path shapes, else None (caller falls
    back to the generic compiler)."""
    shape = _shape(pattern)
    if shape == "clique":
        return clique_count(edges, pattern.num_vertices)
    if shape == "star":
        return star_count(edges, pattern.num_vertices)
    if shape == "path4":
        return path4_count(edges)
    if shape == "cycle4":
        return cycle4_count(edges)
    return None
