"""The engine's query surface: match / count / existence / output.

Parity with the reference apps (apps/count.cc, apps/existence-query.cc,
apps/output.cc, apps/match.cc) re-expressed as DataFrame programs:

  * ``match``      → DataFrame of unique matches (columns v<p>) — the
                     reference's ``process`` callback surface becomes
                     "any DataFrame transform over the matches".
  * ``count``      → total count per pattern; motif sets are auto-converted
                     to edge-induced matching + driver-side conversion
                     (core/Peregrine.hh:1246-1272 fast path).
  * ``existence``  → LIMIT-1 early termination (the Catalyst analogue of the
                     reference's StopExploration, core/Barrier.hh:61-70).
  * ``output``     → materialize matches to parquet/csv, optionally remapped
                     to original keys (OutputManager, core/OutputManager.hh).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.build import kcore
from peregrine_spark.patterns.small_graph import PatternGenerator, SmallGraph
from peregrine_spark.plans.compiler import MatchPlan, compile_match
from peregrine_spark.plans.counts import convert_counts
from peregrine_spark.plans.fast_counts import _shape, clique_rows, fast_count
from peregrine_spark.session import release_checkpoint, thread_target


def match(
    edges: DataFrame,
    pattern: SmallGraph,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Unique matches of ``pattern`` in the canonical (src<dst) edge table."""
    return compile_match(edges, pattern, vertices).df


def _strip_anti(p: SmallGraph) -> SmallGraph:
    return SmallGraph(edges=p.true_edges(), labels=dict(p.labels))


def _is_vertex_induced_motif_set(patterns: list[SmallGraph]) -> bool:
    """True if patterns are all same-size, unlabelled, with anti-edges
    exactly the complement of true edges (the reference's trigger for the
    edge-induced + convert_counts fast path, core/Peregrine.hh:1246-1272)."""
    if not patterns or any(p.labels for p in patterns):
        return False
    size = patterns[0].num_vertices
    if any(p.num_vertices != size for p in patterns):
        return False
    if len(patterns) < 2:
        return False
    import itertools

    for p in patterns:
        pairs = set(itertools.combinations(sorted(p.vertices), 2))
        if set(p.true_edges()) | set(p.anti_edge_list()) != pairs:
            return False
        if set(p.true_edges()) & set(p.anti_edge_list()):
            return False
    # must cover every connected pattern of this size for the triangular solve
    return len(patterns) == len(PatternGenerator.all(size, vertex_based=False))


def _count_one(
    edges: DataFrame,
    p: SmallGraph,
    vertices: DataFrame | None,
) -> int:
    """Count one pattern: aggregate-only fast path (cliques / stars /
    path-4, plans/fast_counts.py) when the shape allows, else the generic
    compiled join plan."""
    if vertices is None or not p.labels:
        fc = fast_count(edges, p)
        if fc is not None:
            return int(fc.collect()[0]["cnt"])
    return compile_match(edges, p, vertices).df.count()


def _count_all(
    edges: DataFrame,
    patterns: list[SmallGraph],
    vertices: DataFrame | None,
    concurrency: int,
) -> list[int]:
    """Counts for every pattern, optionally submitting the per-pattern jobs
    from driver THREADS. One small count job underutilizes the cluster (a
    6-vertex plan on a modest graph is a handful of short stages); Spark's
    scheduler interleaves concurrently-submitted jobs across the executors,
    so a motif sweep of 112 patterns runs at cluster utilization instead of
    plan-at-a-time (the FSM level evaluator,
    operators/fsm.py:mni_supports_level, runs its per-shape jobs on driver
    threads the same way)."""
    if concurrency <= 1 or len(patterns) <= 1:
        return [_count_one(edges, p, vertices) for p in patterns]
    from concurrent.futures import ThreadPoolExecutor

    # worker threads start with empty Spark local properties: inherit the
    # caller's, so its job group (and cancellation) covers these jobs too
    one = thread_target(edges.sparkSession, lambda p: _count_one(edges, p, vertices))
    with ThreadPoolExecutor(max_workers=concurrency) as ex:
        return list(ex.map(one, patterns))


def count(
    edges: DataFrame,
    patterns: list[SmallGraph] | SmallGraph,
    vertices: DataFrame | None = None,
    concurrency: int = 1,
) -> list[tuple[SmallGraph, int]]:
    """Exact unique-occurrence counts, one per pattern. ``concurrency > 1``
    evaluates that many pattern-count jobs at once from driver threads."""
    if isinstance(patterns, SmallGraph):
        patterns = [patterns]
    if _is_vertex_induced_motif_set(patterns):
        stripped = [_strip_anti(p) for p in patterns]
        cs = _count_all(edges, stripped, vertices, concurrency)
        converted = convert_counts(list(zip(stripped, cs)))
        # map converted counts back to the caller's (anti-edged) patterns
        conv = {p: c for p, c in converted}  # SmallGraph __eq__/__hash__ = canonical
        return [(orig, conv[strip]) for orig, strip in zip(patterns, stripped)]
    cs = _count_all(edges, patterns, vertices, concurrency)
    return list(zip(patterns, cs))


def count_motifs(
    edges: DataFrame, size: int, vertex_induced: bool = True, concurrency: int = 1
) -> list[tuple[SmallGraph, int]]:
    """k-motif counting (apps/count.cc '3-motifs' etc.)."""
    if vertex_induced:
        pats = PatternGenerator.all(size, vertex_based=True, anti_edges=True)
    else:
        pats = PatternGenerator.all(size, vertex_based=False)
    return count(edges, pats, concurrency=concurrency)


@dataclass
class IncrementalCount:
    """Result of :func:`count_incremental`.

    ``value`` is exact when ``completed``; when stopped early it is an
    exact count of the chunks evaluated so far — a LOWER bound of the
    full count (chunks partition the match space, so partial sums never
    overcount)."""

    value: int
    completed: bool
    chunks_run: int
    chunk_values: list[int] = field(default_factory=list)


def count_incremental(
    edges: DataFrame,
    pattern: SmallGraph,
    vertices: DataFrame | None = None,
    chunks: int = 8,
    on_update: Callable[[int, int, int], bool | None] | None = None,
    threshold: int | None = None,
) -> IncrementalCount:
    """Count with a mid-run readable running aggregate (C10 parity).

    The reference aggregates ON THE FLY: a background thread merges the
    per-thread aggregator maps every 300 ms so match callbacks can
    ``read_value(k)`` mid-run and call ``stop()`` when a threshold is met
    (core/Peregrine.hh:453-463, core/Aggregator.hh:173-176). A Spark job
    is all-or-nothing, so the analogue chunks the MATCH SPACE instead of
    time: the first matching-order vertex's id range is split into
    ``chunks`` disjoint ranges (the same axis as the reference's
    task-queue range scatter, core/Peregrine.hh:750-766), each range is
    one short Spark job over the compiled plan with the range predicate
    pushed into that leg's scan, and the driver merges the running total
    between jobs — each merge point is the reference's 300 ms tick.

    ``on_update(running, chunk_idx, n_chunks)`` is invoked after every
    chunk (``read_value`` parity); returning truthy stops exploration
    (``stop()`` parity). ``threshold`` is the common callback precooked:
    stop as soon as the running count reaches it — the reference FSM's
    "support already exceeds the threshold, stop counting this pattern"
    optimization.

    Ids are degree-descending, and the chunk axis is the plan's
    max-degree pattern vertex, so early chunks carry the hubs — most of
    the count lands in the first chunks, which is exactly what a
    threshold stop wants. Trade-off vs one-shot :func:`count`: the other
    join legs are re-scanned per chunk (the price of ``chunks``
    merge points; the reference pays a merge thread instead), so run-to-
    completion costs more than one job — use this surface when the
    running value can stop the query, not as the default counter."""
    if chunks < 1:
        raise ValueError(f"chunks must be >= 1, got {chunks}")
    plan = compile_match(edges, pattern, vertices)
    chunk_col = _vcol_of(plan)
    row = edges.agg(
        F.least(F.min("src"), F.min("dst")).alias("lo"),
        F.greatest(F.max("src"), F.max("dst")).alias("hi"),
    ).collect()[0]
    if row["hi"] is None:
        return IncrementalCount(value=0, completed=True, chunks_run=0)
    id_lo, id_hi = int(row["lo"]), int(row["hi"])
    span = id_hi - id_lo + 1
    chunks = min(chunks, span)
    # equal-width ranges over the id span (contiguous 1..n after the
    # engine's renumbering; correct for any integer ids); the last range
    # absorbs the remainder
    width = span // chunks
    bounds = [id_lo + i * width for i in range(chunks)] + [id_hi + 1]
    total = 0
    chunk_values: list[int] = []
    for i in range(chunks):
        lo, hi = bounds[i], bounds[i + 1]
        c = plan.df.filter(
            (F.col(chunk_col) >= lo) & (F.col(chunk_col) < hi)
        ).count()
        total += int(c)
        chunk_values.append(int(c))
        stop = threshold is not None and total >= threshold
        if on_update is not None and on_update(total, i, chunks):
            stop = True
        if stop and i + 1 < chunks:
            return IncrementalCount(
                value=total, completed=False, chunks_run=i + 1,
                chunk_values=chunk_values,
            )
    return IncrementalCount(
        value=total, completed=True, chunks_run=chunks,
        chunk_values=chunk_values,
    )


def _vcol_of(plan: MatchPlan) -> str:
    return f"v{plan.order[0]}"


def existence(
    edges: DataFrame, pattern: SmallGraph, vertices: DataFrame | None = None
) -> bool:
    """Does the pattern occur at all? LIMIT-1 early termination.

    Unlabelled k-clique queries prune to the (k-1)-core FIRST (exact:
    every k-clique lives in the (k-1)-core) — the Spark-first analogue of
    the reference DFS matcher's degree pruning, which is how it answers
    ``14-clique in citeseer?`` in milliseconds (README.md:117-120). A
    91-edge clique pattern through the generic join compiler would build a
    91-join plan; the core peel instead empties the graph in a few
    shuffles over a shrinking edge set, and only a surviving core (tiny by
    construction) pays for the oriented clique join chain."""
    k = pattern.num_vertices
    if vertices is None and k >= 3 and _shape(pattern) == "clique":
        # a PARTIAL peel is still an exact reducer (every round only
        # removes vertices that cannot be in a k-clique), so cap the
        # rounds; a capped peel short of the fixpoint is logged and
        # counted by the engine, not silent. Skip the peel entirely for
        # k == 3: the 2-core rarely prunes (most graphs ARE nearly their
        # 2-core) and each peel round costs a checkpointed shuffle.
        core = kcore(edges, k - 1, max_iters=8) if k > 3 else edges
        try:
            if core is not edges and not core.limit(1).take(1):
                return False
            # probe, don't count: limit(1) over the oriented join chain
            # stops at the first surviving clique instead of enumerating
            # them all (on graphs where the clique DOES exist, a full
            # count over the core is asymptotically the whole query)
            return len(clique_rows(core, k).limit(1).take(1)) > 0
        finally:
            if core is not edges:
                release_checkpoint(core)
    df = match(edges, pattern, vertices)
    return len(df.limit(1).take(1)) > 0


def output(
    edges: DataFrame,
    pattern: SmallGraph,
    path: str,
    vertices: DataFrame | None = None,
    id_dict: DataFrame | None = None,
    fmt: str = "parquet",
    broadcast_dict: bool = True,
) -> DataFrame:
    """Materialize all matches under ``path`` (one dir per pattern, like the
    reference's dir-per-pattern CSV layout). If ``id_dict`` (v, key) is
    given, vertex ids are remapped to original keys on write (the
    reference's ids.bin remap, core/OutputManager.hh:130-143).

    ``fmt`` is ``parquet`` (the scale path — columnar, splittable,
    statistics), ``csv`` (the reference's ``output<CSV>``), or ``bin`` —
    byte-compatible with the reference's ``output<BIN>`` packed u32
    records (core/OutputManager.hh:80-91; see
    graph/binfmt.write_matches_bin); ``bin`` requires integer ids that
    fit u32, like the reference's.

    ``broadcast_dict`` (default): hint a broadcast of the id dictionary so
    the k per-column remaps are map-side joins — the match table is the
    WIDEST table in the query (at 100 TB it is the biggest thing in
    flight), and without the hint each remap shuffles it again, k times.
    Pass False when the dictionary itself is too big to broadcast (then
    the k joins shuffle on the vertex id — the reference's ids.bin mmap
    has the same memory-vs-IO tradeoff, core/DataGraph.cc:128-143)."""
    m = match(edges, pattern, vertices)
    if id_dict is not None:
        if broadcast_dict:
            id_dict = F.broadcast(id_dict)
        vcols = list(m.columns)
        for c in vcols:
            d = id_dict.select(F.col("v").alias(c), F.col("key").alias(f"{c}_key"))
            m = m.join(d, c)
        m = m.select(*[F.col(f"{c}_key").alias(c) for c in vcols])
    dest = f"{path}/{pattern.to_string().replace(',', '_').replace('[', '').replace(']', '')}"
    if fmt == "bin":
        from peregrine_spark.graph.binfmt import write_matches_bin

        write_matches_bin(m, dest)
        return m
    writer = m.write.mode("overwrite")
    (writer.parquet(dest) if fmt == "parquet" else writer.csv(dest))
    return m
