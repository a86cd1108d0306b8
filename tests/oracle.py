"""Brute-force pure-Python oracles for pattern counts and vertex programs.

Mirrors the reference's test idiom: exact golden counts on small graphs
(core/unittests/PatternMatching_test.hh, core/integrationtests/Counting_test.hh)
— here computed by exhaustive backtracking instead of committed files, so we
can randomize inputs (ER graphs) and still be exact.
"""

from __future__ import annotations

import itertools
import random

from peregrine_spark.patterns.canonical import automorphisms
from peregrine_spark.patterns.small_graph import SmallGraph


def er_graph(n: int, p: float, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (u, v) for u, v in itertools.combinations(range(1, n + 1), 2) if rng.random() < p
    ]


def brute_count(
    pairs: list[tuple[int, int]],
    pattern: SmallGraph,
    labels: dict[int, int] | None = None,
) -> int:
    """Exact unique-occurrence count (one per automorphism class) of
    ``pattern`` in the undirected graph given by ``pairs``. Supports
    anti-edges between true vertices, anti-vertices, and labels."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    data_vs = sorted(adj)
    labels = labels or {}

    true_vs = [v for v in pattern.vertices if pattern.adj.get(v)]
    known = sorted({l for l in pattern.labels.values() if l != -1})

    def label_ok(pv: int, dv: int) -> bool:
        pl = pattern.labels.get(pv)
        if pl is None:
            return True
        if pl == -1:
            return labels.get(dv) not in known
        return labels.get(dv) == pl

    n_hom = 0
    order = true_vs
    for combo in itertools.permutations(data_vs, len(order)):
        m = dict(zip(order, combo))
        ok = True
        for u, v in pattern.true_edges():
            if u in m and v in m and m[v] not in adj.get(m[u], ()):
                ok = False
                break
        if ok:
            for u, v in pattern.anti_edge_list():
                if u in m and v in m and m[v] in adj.get(m[u], ()):
                    ok = False
                    break
        if ok:
            for pv in order:
                if not label_ok(pv, m[pv]):
                    ok = False
                    break
        if ok:
            for av in pattern.anti_vertices():
                parents = [m[p] for p in pattern.anti_adj[av] if p in m]
                if not parents:
                    continue
                common = set.intersection(*(adj.get(p, set()) for p in parents))
                common -= set(m.values())
                # anti-vertex label: -1 means ANY label violates (the
                # reference treats a wildcard-labelled anti-vertex like an
                # unlabelled one, core/PatternMatching.hh:437-448) — unlike
                # the true-vertex -1 which means "outside the known set"
                pl = pattern.labels.get(av)
                if pl is not None and pl != -1:
                    common = {x for x in common if labels.get(x) == pl}
                if common:
                    ok = False
                    break
        if ok:
            n_hom += 1
    n_aut = len(automorphisms(pattern))
    assert n_hom % n_aut == 0, (n_hom, n_aut)
    return n_hom // n_aut


def brute_connected_patterns(size: int) -> list[SmallGraph]:
    """Every connected graph on ``size`` vertices, one per isomorphism
    class, by enumerating all edge subsets of K_size — independent of the
    levelwise generator behind ``PatternGenerator.all``, and exponential in
    C(size, 2), so for sizes <= 6. Sorted the way ``all`` sorts:
    (edge count, canonical form)."""
    from peregrine_spark.patterns.canonical import canonical_form

    pairs = list(itertools.combinations(range(1, size + 1), 2))
    seen: dict = {}
    for mask in range(1 << len(pairs)):
        edges = [pairs[i] for i in range(len(pairs)) if mask >> i & 1]
        if len(edges) < size - 1:
            continue
        g = SmallGraph(edges=edges)
        if g.num_vertices == size and g.is_connected():
            seen.setdefault(canonical_form(g), g)
    return sorted(seen.values(), key=lambda g: (g.num_true_edges, canonical_form(g)))


def brute_induced_counts(pairs, size: int):
    """Vertex-induced motif counts: for every size-k connected induced
    subgraph class, its count. Returns dict canonical_form -> count."""
    from peregrine_spark.patterns.canonical import canonical_form

    adj: dict[int, set[int]] = {}
    vs = set()
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        vs.update((a, b))
    out: dict = {}
    for S in itertools.combinations(sorted(vs), size):
        idx = {v: i + 1 for i, v in enumerate(S)}
        sub = [
            (idx[a], idx[b]) for a, b in itertools.combinations(S, 2) if b in adj.get(a, ())
        ]
        g = SmallGraph(edges=sub, num_vertices=size)
        if not sub or not g.is_connected() or g.num_vertices != size:
            continue
        cf = canonical_form(g)
        out[cf] = out.get(cf, 0) + 1
    return out


def brute_pagerank(pairs, damping=0.85, iters=20, sources=None):
    """NumPy-free reference PageRank on the symmetrized graph (degree>0
    vertices only), no dangling (undirected ⇒ none). ``sources=None``:
    uniform teleport 1/n and init 1/n; otherwise personalized — teleport
    and init are 1/|S| over the source vertices present in the graph."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    vs = sorted(adj)
    n = len(vs)
    if sources is None:
        tp = {v: 1.0 / n for v in vs}
    else:
        present = sorted(set(sources) & set(vs))
        tp = {v: (1.0 / len(present) if v in present else 0.0) for v in vs}
    rank = dict(tp)
    for _ in range(iters):
        contrib = {v: 0.0 for v in vs}
        for v in vs:
            share = rank[v] / len(adj[v])
            for w in adj[v]:
                contrib[w] += share
        rank = {v: (1 - damping) * tp[v] + damping * contrib[v] for v in vs}
    return rank


def brute_components(pairs):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp = {}
    for v in sorted(adj):
        if v in comp:
            continue
        stack, mem = [v], {v}
        while stack:
            u = stack.pop()
            for w in adj[u]:
                if w not in mem:
                    mem.add(w)
                    stack.append(w)
        m = min(mem)
        for u in mem:
            comp[u] = m
    return comp


def brute_bfs(pairs, sources):
    """Multi-source BFS hop distances over the undirected graph; returns
    {v: dist} for REACHED vertices only (sources outside the graph's vertex
    set are ignored, matching bfs_hops)."""
    from collections import deque

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources if s in adj}
    queue = deque(dist)
    while queue:
        u = queue.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                queue.append(w)
    return dist


def brute_ktruss(pairs, k):
    """Edge set of the k-truss (every edge in >= k-2 triangles), iterated to
    fixpoint; returns canonical (src, dst) pairs."""
    E = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {(a, b) for a, b in E if len(adj[a] & adj[b]) >= k - 2}
        if keep == E:
            return E
        E = keep


def brute_count_backtracking(pairs, pattern: SmallGraph) -> int:
    """Exact unique-occurrence count of an UNLABELLED, anti-edge-free
    pattern — backtracking injective-homomorphism enumeration / |Aut|.
    Same math as :func:`brute_count`, but partial assignments are pruned
    through the adjacency (candidates = common neighbours of the already-
    mapped pattern neighbours), which is what makes 7+-vertex patterns
    feasible where the permutation enumeration explodes."""
    assert not pattern.labels and not pattern.anti_edge_list()
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    all_vs = set(adj)

    # connected extension order: each vertex after the first has a mapped
    # neighbour, so every extension step is adjacency-driven
    verts = sorted(pattern.vertices)
    order = [verts[0]]
    while len(order) < len(verts):
        nxt = next(
            v for v in verts
            if v not in order and any(u in order for u in pattern.adj[v])
        )
        order.append(nxt)

    n_hom = 0
    m: dict[int, int] = {}

    def extend(i: int, used: set[int]) -> None:
        nonlocal n_hom
        if i == len(order):
            n_hom += 1
            return
        pv = order[i]
        mapped_nbrs = [m[u] for u in pattern.adj[pv] if u in m]
        cands = (
            set.intersection(*(adj[x] for x in mapped_nbrs))
            if mapped_nbrs
            else all_vs
        )
        for dv in cands - used:
            m[pv] = dv
            extend(i + 1, used | {dv})
            del m[pv]

    extend(0, set())
    n_aut = len(automorphisms(pattern))
    assert n_hom % n_aut == 0, (n_hom, n_aut)
    return n_hom // n_aut
