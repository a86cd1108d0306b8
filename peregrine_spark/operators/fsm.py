"""Frequent subgraph mining with MNI support — parity with apps/fsm.cc.

Reference loop (apps/fsm.cc:66-110): discover labelled seed edges → match
each candidate pattern aggregating a ``Domain`` (minimum node image / MNI
support, apps/Domain.hh:76-87) → keep patterns with support >= threshold →
extend the frequent ones by an edge/vertex (core/PatternGenerator.cc:79-475)
→ repeat up to the requested size.

Spark-native HOW:
* matching is the pattern→join compiler (plans/compiler.py);
* MNI support = min over automorphism orbits of the count of distinct data
  vertices appearing in that orbit's match columns — ONE job: explode every
  (orbit, position) pair and aggregate ``count_distinct`` per orbit (exact
  distinct, like the reference's Roaring bitmaps; Spark's partial
  aggregation plays the role of the per-thread bitmap merge);
* label discovery follows the reference's partially-labelled design
  (core/PatternGenerator.cc:79-475 emits ONE −1 variant per growth;
  core/Peregrine.hh:1038-1199 aggregates it with the vector aggregator):
  each growth adds explicit variants only for labels the pattern already
  carries, plus a single wildcard (−1) variant whose supports come out
  per discovered label for every OTHER label at once — at scale this
  collapses |labels| candidates (and their pruning checks) into one;
* a level is ONE aggregation job per unlabelled shape (the canonical
  true-edge skeleton), not one match plan per labelled candidate: the
  skeleton is compiled once, symmetry-broken, the label of each position
  is joined on, and a small broadcast label-tuple map — one row per
  candidate, skeleton automorphism and wildcard label — routes every
  occurrence to (pattern, wl, orbit, vertex) rows, so the join and
  intersection work is done once per shape; a level's shapes run
  concurrently on driver threads;
* extension + canonical dedup are driver-side pure Python (patterns are
  tiny).

MNI is anti-monotone, so threshold pruning between levels is sound.
"""

from __future__ import annotations

import itertools
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.patterns.canonical import (
    automorphisms,
    canonical_form,
    canonical_order,
)
from peregrine_spark.patterns.po import automorphism_sets
from peregrine_spark.patterns.small_graph import SmallGraph
from peregrine_spark.plans.compiler import compile_match
from peregrine_spark.session import conf_override, literal_table, thread_target


def _true_orbits(pattern: SmallGraph) -> list[list[int]]:
    true_vs = {v for v in pattern.vertices if pattern.adj.get(v)}
    return [o for o in automorphism_sets(pattern) if set(o) <= true_vs]


def _orbit_stack(matches: DataFrame, orbits: list[list[int]]) -> DataFrame:
    """Explode the match table into (o, x) rows — one per (orbit id,
    position column) pair — in a single pass."""
    entries = [
        F.struct(F.lit(i).alias("o"), F.col(f"v{p}").alias("x"))
        for i, orbit in enumerate(orbits)
        for p in orbit
    ]
    return matches.select(F.explode(F.array(*entries)).alias("e")).select(
        F.col("e.o").alias("o"), F.col("e.x").alias("x")
    )


def mni_support(matches: DataFrame, pattern: SmallGraph) -> int:
    """Minimum node image support of a match table (columns v<p>).

    Domain of an automorphism orbit = distinct data vertices occurring in
    any of the orbit's positions (symmetry-broken matches still cover the
    full domain because orbit positions are interchangeable); support = min
    over orbits. ONE Spark job regardless of orbit count."""
    orbits = _true_orbits(pattern)
    if not orbits:
        return 0
    row = (
        _orbit_stack(matches, orbits)
        .groupBy("o")
        .agg(F.count_distinct("x").alias("n"))
        .agg(F.min("n").alias("s"), F.count(F.lit(1)).alias("k"))
        .collect()[0]
    )
    # an orbit absent from the agg means zero matches → support 0
    if row["k"] < len(orbits) or row["s"] is None:
        return 0
    return int(row["s"])


def _label_tuple_map(
    shape: SmallGraph,
    members: list[tuple[int, SmallGraph, dict[int, int]]],
    labels: list[int],
) -> list[tuple]:
    """Rows ``(l_1..l_k, pid, wl, o_1..o_k)`` routing a labelled occurrence
    of the unlabelled ``shape`` (positions 1..k) to the candidates it is an
    occurrence of. ``members`` are ``(pid, candidate, to_shape)`` with
    ``to_shape`` an isomorphism candidate vertex -> shape position.

    For every automorphism σ of the shape, position p stands for candidate
    vertex u = to_shape⁻¹(σ(p)): the key is the candidate's labels read in
    that order and ``o_p`` is u's orbit. A symmetry-broken shape match m and
    the σ whose key equals its labels give exactly the candidate embeddings
    u -> m(p), so the union over σ recovers every orbit domain. A −1
    wildcard is expanded to each label in ``labels`` outside the
    candidate's own set, with ``wl`` that label (NULL for fully-labelled
    candidates). σ and σ' with equal keys differ by a labelled automorphism,
    so they give equal orbit tuples and the set collapses them."""
    auts = automorphisms(shape)
    positions = shape.vertices
    rows: set[tuple] = set()
    for pid, g, to_shape in members:
        at_pos = {p: u for u, p in to_shape.items()}
        orbit_of = {u: i for i, orbit in enumerate(_true_orbits(g)) for u in orbit}
        own = {l for l in g.labels.values() if l != -1}
        wls = [l for l in labels if l not in own] if -1 in g.labels.values() else [None]
        for sigma in auts:
            us = [at_pos[sigma[p]] for p in positions]
            orbits = tuple(orbit_of[u] for u in us)
            for wl in wls:
                key = tuple(wl if g.labels[u] == -1 else g.labels[u] for u in us)
                rows.add(key + (pid, wl) + orbits)
    return list(rows)


def mni_supports_level(
    edges: DataFrame,
    vertices: DataFrame,
    candidates: list[SmallGraph],
    labels: list[int],
) -> dict[tuple[int, int | None], int]:
    """MNI supports of one FSM level, one aggregation job per unlabelled
    shape — the Spark form of the reference's match-once, aggregate-per-
    label vector aggregator (core/Peregrine.hh:1038-1199).

    ``candidates`` are fully labelled patterns, each with at most one −1
    wildcard vertex; ``pid`` is a candidate's index. ``labels`` is the
    discovered label vocabulary a wildcard ranges over (any label outside
    the candidate's own set). ``edges`` is the canonical (src < dst) table,
    ``vertices`` is (v, label).

    Candidates are grouped by the canonical form of their true-edge
    skeleton. Each shape is compiled once, unlabelled and symmetry-broken,
    the label of every position is joined on, and a broadcast label-tuple
    map (:func:`_label_tuple_map`, a JVM literal) routes each occurrence to
    ``(pid, wl, o_1..o_k)``. The rest is the usual MNI aggregation: explode
    to ``(pid, wl, o, x)``, ``count_distinct(x)`` per ``(pid, wl, o)``,
    ``min`` per ``(pid, wl)``. The shapes of a level run concurrently on
    driver threads that inherit the caller's job group.

    Returns {(pid, wl): support}; wl is None for fully-labelled patterns.
    A (pid, wl) group missing an orbit (zero matches for it) is dropped —
    its support is 0."""
    from concurrent.futures import ThreadPoolExecutor

    spark = edges.sparkSession
    expected = {pid: len(_true_orbits(g)) for pid, g in enumerate(candidates)}
    shapes: dict[tuple, tuple[SmallGraph, list]] = {}
    for pid, g in enumerate(candidates):
        skeleton = SmallGraph(edges=g.true_edges())
        to_shape = canonical_order(skeleton)
        shape = skeleton.relabel(to_shape)
        key = tuple(shape.true_edges())
        shapes.setdefault(key, (shape, []))[1].append((pid, g, to_shape))
    out: dict[tuple[int, int | None], int] = {}
    if not shapes:
        return out

    def eval_shape(shape: SmallGraph, members: list) -> list:
        ps = shape.vertices
        lcols = [f"l{p}" for p in ps]
        tmap = literal_table(
            spark,
            lcols + ["pid", "wl"] + [f"o{p}" for p in ps],
            _label_tuple_map(shape, members, labels),
        )
        m = compile_match(edges, shape).df
        for p in ps:
            m = m.join(
                vertices.select(F.col("v").alias(f"v{p}"), F.col("label").alias(f"l{p}")),
                f"v{p}",
            )
        entries = [F.struct(F.col(f"o{p}").alias("o"), F.col(f"v{p}").alias("x")) for p in ps]
        return (
            m.join(F.broadcast(tmap), lcols)
            .select("pid", "wl", F.explode(F.array(*entries)).alias("e"))
            .select("pid", "wl", F.col("e.o").alias("o"), F.col("e.x").alias("x"))
            .groupBy("pid", "wl", "o")
            .agg(F.count_distinct("x").alias("n"))
            .groupBy("pid", "wl")
            .agg(F.min("n").alias("s"), F.count(F.lit(1)).alias("k"))
            .collect()
        )

    # worker threads start with empty Spark local properties: inherit the
    # caller's, so its job group (and cancellation) covers these jobs too
    run = thread_target(spark, lambda item: eval_shape(*item))
    with ThreadPoolExecutor(max_workers=min(8, len(shapes))) as ex:
        for rows in ex.map(run, shapes.values()):
            for r in rows:
                if r["k"] == expected[r["pid"]]:
                    wl = None if r["wl"] is None else int(r["wl"])
                    out[(int(r["pid"]), wl)] = int(r["s"])
    return out


def support_at_least(
    edges: DataFrame,
    pattern: SmallGraph,
    threshold: int,
    vertices: DataFrame | None = None,
) -> bool:
    """Early-terminating MNI threshold test — the Spark analogue of the
    reference's mid-aggregation ``handle.stop()`` (core/Barrier.hh:61-70,
    aggregators/Aggregator.hh:179-191): answer "is support >= T" without
    paying for the full count.

    Two stop levers:
    * a pre-probe ``take(ceil(T / max_orbit))`` on the raw match stream —
      CollectLimit executes incrementally (1 partition, then 4x more, ...),
      so an infrequent pattern bails after a fraction of the scan;
    * per-orbit ``distinct().take(T)`` — the limit truncates the distinct
      stream at T values instead of aggregating the whole domain, and the
      orbit loop exits on the first orbit below T (min is what matters).
    """
    import math

    orbits = _true_orbits(pattern)
    if threshold <= 0:
        return True
    if not orbits:
        return False
    m = compile_match(edges, pattern, vertices=vertices).df
    need = math.ceil(threshold / max(len(o) for o in orbits))
    # limit().count() truncates the match stream at `need` rows without
    # moving any row to the driver (take() would collect them)
    if m.limit(need).count() < need:
        return False
    m = m.persist()
    try:
        for orbit in orbits:
            dom = m.select(
                F.explode(F.array(*[F.col(f"v{p}") for p in orbit])).alias("x")
            ).distinct()
            if dom.limit(threshold).count() < threshold:
                return False
        return True
    finally:
        m.unpersist()


def extend_patterns(
    frequent: list[SmallGraph],
    labels: list[int] | None = None,
    partially_labelled: bool = False,
) -> list[SmallGraph]:
    """Candidate generation: each frequent pattern grown by (a) one new
    labelled vertex attached to one existing vertex, or (b) one edge closing
    a non-adjacent pair. Canonical-form dedup across all candidates
    (reference: core/PatternGenerator.cc:79-475 with dedup :457-472).

    ``partially_labelled=True`` (the reference's design) labels the grown
    vertex with each label the pattern already carries PLUS one −1 wildcard
    variant per growth — label discovery happens at match time. Otherwise
    the grown vertex takes every label in ``labels`` explicitly."""
    seen: dict = {}
    for g in frequent:
        nv = max(g.vertices) + 1
        if partially_labelled:
            own = sorted({l for l in g.labels.values() if l != -1})
            grow_labels = own + [-1]
        else:
            grow_labels = list(labels or [])
        for host in g.vertices:
            for lab in grow_labels:
                h = g.copy().add_edge(host, nv).set_label(nv, lab)
                seen.setdefault(canonical_form(h), h)
        present = {tuple(e) for e in g.true_edges()}
        for u, v in itertools.combinations(g.vertices, 2):
            if (min(u, v), max(u, v)) not in present:
                h = g.copy().add_edge(u, v)
                seen.setdefault(canonical_form(h), h)
    return list(seen.values())


def fsm(
    edges: DataFrame,
    vertices: DataFrame,
    support: int,
    max_vertices: int = 3,
    discover: bool = True,
    max_edges: int | None = None,
    max_seeds: int = 100_000,
    level_metrics: list | None = None,
) -> list[tuple[SmallGraph, int]]:
    """Mine labelled patterns with MNI support >= ``support`` up to
    ``max_vertices`` pattern vertices. Returns fully-labelled patterns only.

    ``max_edges``: optional cap on pattern TRUE-edge count — the reference's
    fsm app sizes levels by edges (apps/fsm.cc:94-110; a "size 3" run mines
    up to 3-edge patterns, which may have 4 vertices). When set, it bounds
    candidates alongside ``max_vertices`` (pass max_vertices=max_edges+1 to
    make edges the only binding cap).

    vertices: (v, label). Seeds are the distinct label pairs of actual
    edges (the DISCOVER_LABELS step, core/Peregrine.hh:552-568) — computed
    with one join+distinct instead of a discovery matching pass.

    ``discover=True``: candidate growth uses the partially-labelled (−1)
    variant + per-label vector aggregation (one candidate covers all labels
    outside the pattern's own set). ``discover=False`` enumerates every
    observed label explicitly (one candidate each) — kept as the
    cross-check path.

    ``level_metrics``: optional caller list; one dict per level is appended
    ({level, candidates, survivors, seconds}) — the bench harness's level
    breakdown (the reference reports per-size timings, README.md:100-105).
    """
    from peregrine_spark.supersteps.engine import auto_shuffle_partitions

    spark = edges.sparkSession
    lab = vertices.select("v", "label")
    # the per-shape support jobs are individually small; size their
    # shuffles to the graph, not the session default
    n_edges = edges.count()
    conf = {"spark.sql.shuffle.partitions": auto_shuffle_partitions(spark, 2 * n_edges)}
    # broadcast guard: a level runs its shape jobs CONCURRENTLY, and on a
    # large graph Catalyst happily broadcasts the (say 500k-row / ~15 MB)
    # edge table into every join leg of every concurrent plan -- measured
    # OOM of a 24g single-JVM session at SF=0.1. Cap the auto-broadcast
    # threshold for the mining loop on big graphs (small graphs keep their
    # broadcast joins; the label table stays broadcastable either way).
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    bcast_before = spark.conf.get(bcast_key)
    cap_bytes = 4 * 1024 * 1024
    if n_edges > 100_000 and (bcast_before == "" or int(bcast_before) > cap_bytes):
        conf[bcast_key] = cap_bytes
    seed_df = (
        edges.join(lab.withColumnsRenamed({"v": "src", "label": "la"}), "src")
        .join(lab.withColumnsRenamed({"v": "dst", "label": "lb"}), "dst")
        .select(
            F.least("la", "lb").alias("la"), F.greatest("la", "lb").alias("lb")
        )
        .distinct()
    )
    # the seed collect is O(|labels|^2) rows to the driver — fine for label
    # VOCABULARIES (the reference's labels are small ints), catastrophic if
    # a caller keys labels on a high-cardinality column. One capped collect
    # serves both the guard and the seeds — limit(max_seeds+1) bounds what
    # can ever reach the driver, and overflow means refuse.
    seed_pairs = seed_df.limit(max_seeds + 1).collect()
    if len(seed_pairs) > max_seeds:
        raise ValueError(
            f"FSM seed discovery found > {max_seeds} distinct label pairs — "
            "the label column looks high-cardinality (labels must be a small "
            "vocabulary); bucket/hash the labels first or raise max_seeds"
        )
    all_labels = sorted({r["la"] for r in seed_pairs} | {r["lb"] for r in seed_pairs})
    seen: dict = {}
    for r in seed_pairs:
        g = SmallGraph(edges=[(1, 2)]).set_label(1, int(r["la"])).set_label(2, int(r["lb"]))
        seen.setdefault(canonical_form(g), g)
    candidates = list(seen.values())

    # measured against a no-op override (ROADMAP direction 6): at SF 0.1,
    # 86-105 s with it and 125-132 s without, the same 1,149 patterns
    with conf_override(spark, conf):
        return _fsm_loop(
            candidates, lab, edges, support, max_vertices, max_edges,
            discover, all_labels, level_metrics,
        )


def _fsm_loop(
    candidates, lab, edges, support, max_vertices, max_edges,
    discover, all_labels, level_metrics,
):
    results: list[tuple[SmallGraph, int]] = []
    result_cfs: set = set()
    attempted = {canonical_form(g) for g in candidates}
    level_no = 0
    while candidates:
        level_no += 1
        t_level = time.monotonic()
        sup = mni_supports_level(edges, lab, candidates, all_labels)
        found: list[tuple[SmallGraph, int]] = []
        for pid, g in enumerate(candidates):
            wc = next((v for v, l in sorted(g.labels.items()) if l == -1), None)
            if wc is not None:
                per = {
                    wl: s
                    for (p, wl), s in sup.items()
                    if p == pid and wl is not None
                }
                for lab_val, s in sorted(per.items()):
                    if s >= support:
                        found.append((g.copy().set_label(wc, lab_val), s))
            else:
                s = sup.get((pid, None), 0)
                if s >= support:
                    found.append((g, s))
        new_frequent: list[SmallGraph] = []
        for g, s in found:
            cf = canonical_form(g)
            if cf not in result_cfs:
                result_cfs.add(cf)
                results.append((g, s))
                new_frequent.append(g)
        if level_metrics is not None:
            level_metrics.append(
                {
                    "level": level_no,
                    "candidates": len(candidates),
                    "survivors": len(new_frequent),
                    "seconds": round(time.monotonic() - t_level, 3),
                }
            )
        if not new_frequent:
            break
        # extend frequent patterns: a new labelled vertex (vertex growth) or
        # a closing edge (same vertex count) — loop ends when nothing new
        # fits under max_vertices (edge closures are finitely many)
        nxt = []
        grown = extend_patterns(
            new_frequent,
            labels=None if discover else all_labels,
            partially_labelled=discover,
        )
        for h in grown:
            cf = canonical_form(h)
            if cf in attempted:
                continue
            # record BEFORE the size caps: an over-cap candidate can never
            # become acceptable later (growth is monotone), and without the
            # record it would be regenerated + re-canonicalized at every
            # subsequent level — wasted driver work
            attempted.add(cf)
            if max_edges is not None and h.num_true_edges > max_edges:
                continue
            if h.num_vertices <= max_vertices:
                nxt.append(h)
        candidates = nxt
    return results
