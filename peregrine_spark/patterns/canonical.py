"""Canonical forms and automorphisms for tiny pattern graphs.

The reference vendors the bliss canonical-labelling library
(core/bliss-0.73, used via core/Graph.hh:146-186) — overkill for patterns
of ≤ 9 vertices. We brute-force over invariant-class-respecting bijections:
vertices are first partitioned by an isomorphism-invariant signature
(label, degree, anti-degree, sorted neighbour degrees); any isomorphism
must respect these classes, so minimizing the encoding over class-respecting
bijections yields a proper canonical form at factorial-only-within-class
cost. Fine at this size; patterns are driver-side objects.
"""

from __future__ import annotations

import itertools
from functools import lru_cache
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from peregrine_spark.patterns.small_graph import SmallGraph


def _refined_colors(g: "SmallGraph") -> dict[int, int]:
    """1-WL (colour refinement) fixpoint: start from (label, degree,
    anti-degree), iterate colour(v) = (colour(v), sorted neighbour colours,
    sorted anti-neighbour colours) densified by sorted signature order, until
    stable. Isomorphism-invariant: any isomorphism maps colour classes to
    colour classes, and the dense colour *values* coincide across isomorphic
    graphs (they are indices into the sorted signature list). Refinement
    shrinks permutation classes far more than the one-shot invariant —
    load-bearing for enumerating the 853/11117 connected patterns of sizes
    7/8 (each dedup is a canonical-form call)."""
    vs = g.vertices
    init = {
        v: (
            g.labels.get(v, -2),  # -2 = unlabelled (distinct from -1 wildcard)
            len(g.adj.get(v, ())),
            len(g.anti_adj.get(v, ())),
        )
        for v in vs
    }
    uniq = sorted(set(init.values()))
    colors = {v: uniq.index(init[v]) for v in vs}
    while True:
        sig = {
            v: (
                colors[v],
                tuple(sorted(colors[u] for u in g.adj.get(v, ()))),
                tuple(sorted(colors[u] for u in g.anti_adj.get(v, ()))),
            )
            for v in vs
        }
        uniq = sorted(set(sig.values()))
        new = {v: uniq.index(sig[v]) for v in vs}
        if new == colors:
            return colors
        colors = new


def _class_partition(g: "SmallGraph"):
    """Vertices grouped by refined colour, classes ordered by colour value
    (an isomorphism-invariant order). Returns (classes, position_blocks):
    class i's vertices map to the contiguous position block i (1..n)."""
    vs = g.vertices
    colors = _refined_colors(g)
    by_color: dict[int, list[int]] = {}
    for v in vs:
        by_color.setdefault(colors[v], []).append(v)
    classes = [sorted(by_color[c]) for c in sorted(by_color)]
    blocks = []
    pos = 1
    for c in classes:
        blocks.append(list(range(pos, pos + len(c))))
        pos += len(c)
    return classes, blocks


def _class_respecting_perms(g: "SmallGraph"):
    """Yield bijections vertex→position(1..n) respecting invariant classes."""
    classes, blocks = _class_partition(g)
    pools = [itertools.permutations(c) for c in classes]
    for combo in itertools.product(*pools):
        perm = {}
        for cls_vertices, positions in zip(combo, blocks):
            for v, p in zip(cls_vertices, positions):
                perm[v] = p
        yield perm


def _encode(g: "SmallGraph", perm: dict[int, int]):
    edges = tuple(
        sorted((min(perm[u], perm[v]), max(perm[u], perm[v])) for u, v in g.true_edges())
    )
    anti = tuple(
        sorted(
            (min(perm[u], perm[v]), max(perm[u], perm[v])) for u, v in g.anti_edge_list()
        )
    )
    labels = tuple(sorted((perm[v], l) for v, l in g.labels.items()))
    return (g.num_vertices, edges, anti, labels)


def canonical_form(g: "SmallGraph"):
    """Hashable canonical encoding — equal iff graphs are isomorphic
    (respecting labels and anti-edges)."""
    return min(_encode(g, p) for p in _class_respecting_perms(g))


def canonical_order(g: "SmallGraph") -> dict[int, int]:
    """The canonical vertex order as a bijection vertex -> position (1..n):
    isomorphic graphs relabelled by their own orders become equal, so the
    order doubles as an isomorphism onto the canonical representative."""
    return min(_class_respecting_perms(g), key=lambda p: _encode(g, p))


def canonical_relabel(g: "SmallGraph") -> "SmallGraph":
    """The graph relabelled into its canonical vertex order."""
    return g.relabel(canonical_order(g))


def automorphisms(g: "SmallGraph") -> list[dict[int, int]]:
    """All label/anti-edge-preserving self-bijections (as dicts v→v)."""
    vs = g.vertices
    edge_set = set(g.true_edges())
    anti_set = set(g.anti_edge_list())
    out = []
    classes, _ = _class_partition(g)
    pools = [itertools.permutations(c) for c in classes]
    for combo in itertools.product(*pools):
        perm = {}
        for cls_vertices, images in zip(classes, combo):
            for v, w in zip(cls_vertices, images):
                perm[v] = w
        ok = all(
            (min(perm[u], perm[v]), max(perm[u], perm[v])) in edge_set
            for u, v in edge_set
        ) and all(
            (min(perm[u], perm[v]), max(perm[u], perm[v])) in anti_set
            for u, v in anti_set
        )
        if ok and all(g.labels.get(perm[v], -2) == g.labels.get(v, -2) for v in vs):
            out.append(perm)
    return out
