"""Matcher correctness vs brute-force oracle + closed forms.

Mirrors core/unittests/PatternMatching_test.hh (exact counts of named small
patterns on tiny graphs) and core/integrationtests/Counting_test.hh (motif
vectors vs golden truth) — truth here comes from exhaustive enumeration.
"""

import itertools
import math

import pytest

from peregrine_spark.operators.match import count, count_motifs, existence, match
from peregrine_spark.operators.triangles import triangle_count, triangle_count_per_vertex
from peregrine_spark.patterns import PatternGenerator, SmallGraph
from peregrine_spark.patterns.canonical import canonical_form

from tests.conftest import P1_DIAMOND, edges_df
from tests.oracle import brute_count, brute_induced_counts, er_graph


def K(n):
    return list(itertools.combinations(range(1, n + 1), 2))


def test_triangle_count_closed_forms(spark):
    assert triangle_count(edges_df(spark, K(6))).collect()[0][0] == math.comb(6, 3)
    ring = [(i, i % 8 + 1) for i in range(1, 9)]
    assert triangle_count(edges_df(spark, ring)).collect()[0][0] == 0
    star = [(1, i) for i in range(2, 9)]
    assert triangle_count(edges_df(spark, star)).collect()[0][0] == 0


def test_triangle_count_er_oracle(spark):
    pairs = er_graph(24, 0.3, seed=7)
    expected = brute_count(pairs, PatternGenerator.clique(3))
    got = triangle_count(edges_df(spark, pairs)).collect()[0][0]
    assert got == expected
    per_v = dict(triangle_count_per_vertex(edges_df(spark, pairs)).collect())
    assert sum(per_v.values()) == 3 * expected


def test_ktruss_vs_brute(spark):
    from peregrine_spark.operators.triangles import ktruss
    from tests.oracle import brute_ktruss

    pairs = er_graph(25, 0.3, seed=17)
    for k in (3, 4, 5):
        got = {(r["src"], r["dst"]) for r in ktruss(edges_df(spark, pairs), k).collect()}
        assert got == brute_ktruss(pairs, k), k


def test_ktruss_closed_forms(spark):
    from peregrine_spark.operators.triangles import ktruss

    # K5: every edge closes 3 triangles -> survives k<=5, empty at k=6
    assert ktruss(edges_df(spark, K(5)), 5).count() == 10
    assert ktruss(edges_df(spark, K(5)), 6).count() == 0
    # triangle-free graphs vanish at k=3; peel cascades: a triangle with a
    # pendant edge keeps only the triangle
    ring = [(i, i % 8 + 1) for i in range(1, 9)]
    assert ktruss(edges_df(spark, ring), 3).count() == 0
    tri_pendant = [(1, 2), (1, 3), (2, 3), (3, 4)]
    got = {(r["src"], r["dst"]) for r in ktruss(edges_df(spark, tri_pendant), 3).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
    with pytest.raises(ValueError):
        ktruss(edges_df(spark, ring), 2)
    # K4 plus a fan whose support collapses in two peel rounds: round 1
    # drops (2,5), (1,6), (5,6); round 2 drops (1,5), which lost both of its
    # triangles; round 3 confirms the fixpoint. Fewer rounds raise.
    fan = edges_df(spark, K(4) + [(1, 5), (2, 5), (1, 6), (5, 6)])
    for rounds in (1, 2):
        with pytest.raises(RuntimeError):
            ktruss(fan, 4, max_iters=rounds)
    assert {(r["src"], r["dst"]) for r in ktruss(fan, 4, max_iters=3).collect()} == set(K(4))


def test_local_clustering_vs_brute(spark):
    from collections import defaultdict

    from peregrine_spark.operators.triangles import local_clustering

    pairs = er_graph(30, 0.2, seed=13)
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    rows = local_clustering(edges_df(spark, pairs)).collect()
    assert {r["v"] for r in rows} == set(adj)
    for r in rows:
        nbrs = adj[r["v"]]
        d = len(nbrs)
        t = sum(1 for u, w in itertools.combinations(sorted(nbrs), 2) if w in adj[u])
        assert r["degree"] == d
        assert r["triangles"] == t
        expected = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert abs(r["clustering"] - round(expected, 6)) < 1e-9, r


def test_local_clustering_closed_forms(spark):
    from peregrine_spark.operators.triangles import local_clustering

    # clique: every vertex fully clustered; star: hub + leaves all 0
    rows = local_clustering(edges_df(spark, K(5))).collect()
    assert all(r["clustering"] == 1.0 and r["triangles"] == 6 for r in rows)
    star = [(1, i) for i in range(2, 7)]
    rows = local_clustering(edges_df(spark, star)).collect()
    assert all(r["clustering"] == 0.0 and r["triangles"] == 0 for r in rows)
    # degree-1 leaves take the 0.0 branch, not a divide-by-zero
    assert {r["degree"] for r in rows} == {1, 5}
    # id_map reports original ids
    mapped = local_clustering(
        edges_df(spark, K(4)),
        id_map=spark.createDataFrame(
            [(v, v * 100) for v in range(1, 5)], "v long, old long"
        ),
    ).collect()
    assert {r["v"] for r in mapped} == {100, 200, 300, 400}
    assert all(r["clustering"] == 1.0 for r in mapped)
    # an id_map missing a vertex fails instead of dropping that vertex's row
    partial = spark.createDataFrame([(v, v * 100) for v in range(1, 4)], "v long, old long")
    with pytest.raises(Exception, match="id_map has no vertex 4"):
        local_clustering(edges_df(spark, K(4)), id_map=partial).collect()


def test_clique_counts_closed_form(spark):
    e = edges_df(spark, K(7))
    for k in (3, 4, 5):
        [(_, c)] = count(e, PatternGenerator.clique(k))
        assert c == math.comb(7, k), k


def test_star_and_chain_oracle(spark):
    pairs = er_graph(20, 0.25, seed=11)
    e = edges_df(spark, pairs)
    for pat in [
        PatternGenerator.star(4),
        PatternGenerator.chain(3),
        PatternGenerator.chain(4),
        PatternGenerator.cycle(4),
        PatternGenerator.cycle(5),
    ]:
        [(_, c)] = count(e, pat)
        assert c == brute_count(pairs, pat), pat.to_string()


def test_every_4_pattern_edge_induced_oracle(spark):
    pairs = er_graph(16, 0.35, seed=3)
    e = edges_df(spark, pairs)
    for pat in PatternGenerator.all(4, vertex_based=False):
        [(_, c)] = count(e, pat)
        assert c == brute_count(pairs, pat), pat.to_string()


def test_p1_reference_pattern_oracle(spark):
    pairs = er_graph(18, 0.3, seed=5)
    [(_, c)] = count(edges_df(spark, pairs), P1_DIAMOND)
    assert c == brute_count(pairs, P1_DIAMOND)


def test_anti_edge_pattern_oracle(spark):
    # wedge with anti-edge closing it = "open wedge" (induced path of 3)
    wedge_open = SmallGraph(edges=[(1, 2), (2, 3)], anti_edges=[(1, 3)])
    pairs = er_graph(18, 0.3, seed=13)
    [(_, c)] = count(edges_df(spark, pairs), wedge_open)
    assert c == brute_count(pairs, wedge_open)
    # 4-cycle with one anti-diagonal
    cy4_anti = SmallGraph(edges=[(1, 2), (2, 3), (3, 4), (4, 1)], anti_edges=[(1, 3)])
    [(_, c)] = count(edges_df(spark, pairs), cy4_anti)
    assert c == brute_count(pairs, cy4_anti)


def test_anti_vertex_oracle(spark):
    # edge with an anti-vertex adjacent to both ends: "edge with no common neighbour"
    pat = SmallGraph(edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)])
    pairs = er_graph(16, 0.3, seed=17)
    [(_, c)] = count(edges_df(spark, pairs), pat)
    assert c == brute_count(pairs, pat)


def test_labelled_anti_vertex_oracle(spark):
    """Anti-vertex label variants (core/PatternMatching.hh:380-488): a
    concrete label restricts the violating vertex to that label; the -1
    wildcard means ANY label violates (reference: wildcard anti-vertex ==
    unlabelled anti-vertex, :437-448)."""
    pairs = er_graph(16, 0.3, seed=41)
    labels = {v: (v % 3) + 1 for v in range(1, 17)}
    vdf = spark.createDataFrame(
        [(v, l) for v, l in labels.items()], "v long, label long"
    )
    # edge whose endpoints have no common neighbour OF LABEL 2
    pat_lab = SmallGraph(
        edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)], labels={1: 1, 2: 2, 3: 2}
    )
    [(_, c)] = count(edges_df(spark, pairs), pat_lab, vertices=vdf)
    assert c == brute_count(pairs, pat_lab, labels=labels)
    # same but wildcard anti-vertex: no common neighbour of ANY label —
    # must equal the fully-unlabelled anti-vertex count on the same match
    pat_wild = SmallGraph(
        edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)], labels={1: 1, 2: 2, 3: -1}
    )
    [(_, cw)] = count(edges_df(spark, pairs), pat_wild, vertices=vdf)
    assert cw == brute_count(pairs, pat_wild, labels=labels)
    pat_unlab_av = SmallGraph(
        edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)], labels={1: 1, 2: 2}
    )
    [(_, cu)] = count(edges_df(spark, pairs), pat_unlab_av, vertices=vdf)
    assert cw == cu
    # sanity: the labelled variant can only admit more matches
    assert c >= cw


def test_motif_counts_vertex_induced(spark):
    pairs = er_graph(15, 0.35, seed=23)
    e = edges_df(spark, pairs)
    def strip_cf(p):
        return canonical_form(SmallGraph(edges=p.true_edges()))

    got = {strip_cf(p): c for p, c in count_motifs(e, 3)}
    truth = brute_induced_counts(pairs, 3)
    for cf, c in got.items():
        assert c == truth.get(cf, 0)
    got4 = {strip_cf(p): c for p, c in count_motifs(e, 4)}
    truth4 = brute_induced_counts(pairs, 4)
    for cf, c in got4.items():
        assert c == truth4.get(cf, 0), cf


def test_labelled_pattern_oracle(spark):
    pairs = er_graph(16, 0.35, seed=29)
    labels = {v: (v % 3) + 1 for v in range(1, 17)}
    vdf = spark.createDataFrame(
        [(v, l) for v, l in labels.items()], "v long, label long"
    )
    pat = SmallGraph(edges=[(1, 2), (2, 3)], labels={1: 1, 2: 2, 3: 1})
    [(_, c)] = count(edges_df(spark, pairs), pat, vertices=vdf)
    assert c == brute_count(pairs, pat, labels=labels)
    # wildcard label: must be a label not among the pattern's known ones
    pat_w = SmallGraph(edges=[(1, 2), (2, 3)], labels={1: 1, 2: 2, 3: -1})
    [(_, c)] = count(edges_df(spark, pairs), pat_w, vertices=vdf)
    assert c == brute_count(pairs, pat_w, labels=labels)


def test_existence_early_stop(spark):
    e = edges_df(spark, K(6))
    assert existence(e, PatternGenerator.clique(4))
    assert not existence(e, PatternGenerator.clique(7))  # 14-clique analogue


def test_match_columns(spark):
    e = edges_df(spark, K(4))
    m = match(e, PatternGenerator.clique(3))
    assert m.columns == ["v1", "v2", "v3"]
    rows = {tuple(r) for r in m.collect()}
    assert len(rows) == 4  # C(4,3)
    for a, b, c in rows:
        assert a < b < c


def test_motif5_vertex_induced_vs_brute(spark):
    """All 21 vertex-induced 5-motif counts vs the exhaustive oracle — the
    full convert_counts triangular solve at size 5."""
    pairs = er_graph(9, 0.45, 3)
    e = edges_df(spark, pairs)
    res = count_motifs(e, 5, vertex_induced=True)
    assert len(res) == 21
    for p, c in res:
        assert c == brute_count(pairs, p), p.to_string()


def test_order_closure_chains():
    from peregrine_spark.plans.compiler import _order_closure

    # a chain without its implied pair: closure must add (1, 3) and (1, 4)
    lt = _order_closure([(1, 2), (2, 3), (3, 4)])
    assert (1, 3) in lt and (1, 4) in lt and (2, 4) in lt
    assert lt == {(1, 2), (2, 3), (3, 4), (1, 3), (1, 4), (2, 4)}
    # already-closed input is unchanged
    full = {(a, b) for a in range(1, 4) for b in range(a + 1, 4)}
    assert _order_closure(sorted(full)) == full


def test_canonical_leg_mode_counts_agree(spark):
    """Ordered join legs read the CANONICAL (src<dst) table directly, the
    rest the symmetrized union: unique-match counts on cliques, cycles,
    stars and anti-edge patterns equal the brute-force oracle."""
    from peregrine_spark.plans.compiler import compile_match

    pairs = er_graph(25, 0.3, seed=17)
    e = edges_df(spark, pairs)
    pats = [
        PatternGenerator.clique(3),
        PatternGenerator.clique(4),
        PatternGenerator.cycle(4),
        PatternGenerator.cycle(5),
        PatternGenerator.star(4),
        SmallGraph(edges=[(1, 2), (2, 3)], anti_edges=[(1, 3)]),
        SmallGraph(edges=[(1, 2), (2, 3), (3, 4), (4, 1)], anti_edges=[(1, 3)]),
    ]
    for p in pats:
        assert compile_match(e, p).df.count() == brute_count(pairs, p), p.to_string()


def test_seven_vertex_patterns_generic_compiler(spark):
    """>= 7-vertex NON-star patterns through the generic join compiler (the
    deep-join regime that fast paths and pattern GENERATION never cover;
    reference surface: any pattern file up to size 9 feeds the matcher,
    core/PatternGenerator.cc:477-548) vs an independent backtracking
    injective-hom / |Aut| oracle."""
    from peregrine_spark.plans.compiler import compile_match
    from tests.oracle import brute_count_backtracking

    pairs = er_graph(18, 0.3, seed=23)
    e = edges_df(spark, pairs)
    seven_tree = SmallGraph(
        edges=[(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (6, 7)]
    )
    for pat in (PatternGenerator.cycle(7), seven_tree):
        got = compile_match(e, pat).df.count()
        want = brute_count_backtracking(pairs, pat)
        assert got == want > 0, pat.to_string()


def test_eight_vertex_patterns_generic_compiler(spark):
    """8-vertex patterns (the 8-cycle and an 8-vertex caterpillar tree)
    through the generic join compiler, extending the 7-vertex coverage
    toward the reference's size-9 ceiling (core/PatternGenerator.cc:
    477-548), vs the independent backtracking injective-hom / |Aut|
    oracle."""
    from peregrine_spark.plans.compiler import compile_match
    from tests.oracle import brute_count_backtracking

    pairs = er_graph(16, 0.3, seed=29)
    e = edges_df(spark, pairs)
    caterpillar8 = SmallGraph(
        edges=[(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (3, 7), (4, 8)]
    )
    for pat in (PatternGenerator.cycle(8), caterpillar8):
        got = compile_match(e, pat).df.count()
        want = brute_count_backtracking(pairs, pat)
        assert got == want > 0, pat.to_string()


def test_nine_vertex_patterns_generic_compiler(spark):
    """9-vertex patterns — the reference's size CEILING (patterns up to
    size 9, core/PatternGenerator.cc:477-548) — through the generic join
    compiler, vs the independent backtracking injective-hom / |Aut|
    oracle. Completes the 7/8-vertex ladder above: every size the
    reference can mine now has executable generic-compiler evidence."""
    from peregrine_spark.plans.compiler import compile_match
    from tests.oracle import brute_count_backtracking

    pairs = er_graph(14, 0.32, seed=31)
    e = edges_df(spark, pairs)
    # spider tree: three legs of length 2,3,3 from a center — asymmetric
    # enough to exercise the matching-order heuristic at depth 9
    spider9 = SmallGraph(
        edges=[(1, 2), (2, 3), (1, 4), (4, 5), (5, 6), (1, 7), (7, 8), (8, 9)]
    )
    for pat in (PatternGenerator.cycle(9), spider9):
        got = compile_match(e, pat).df.count()
        want = brute_count_backtracking(pairs, pat)
        assert got == want > 0, pat.to_string()


def _random_pattern(rng):
    """Random connected pattern: 3-5 true vertices (spanning tree + extra
    edges), up to 2 anti-edges between non-adjacent true vertices, an
    optional anti-vertex, and a random partial labelling (wildcard -1 only
    ever alongside >=1 concrete label, the reference's partially-labelled
    regime, core/Graph.hh:269-271)."""
    n = rng.randint(3, 5)
    edges = [(rng.randint(1, v - 1), v) for v in range(2, n + 1)]
    present = set(edges)
    spare = [
        (u, v)
        for u, v in itertools.combinations(range(1, n + 1), 2)
        if (u, v) not in present
    ]
    rng.shuffle(spare)
    k_extra = rng.randint(0, len(spare))
    edges += spare[:k_extra]
    anti = []
    for u, v in spare[k_extra:][:2]:
        if rng.random() < 0.4:
            anti.append((u, v))
    av = None
    if rng.random() < 0.4:
        av = n + 1
        for u in rng.sample(range(1, n + 1), rng.randint(1, 2)):
            anti.append((u, av))
    labels = {}
    if rng.random() < 0.7:
        for v in range(1, n + 1):
            if rng.random() < 0.7:
                labels[v] = rng.randint(1, 3)
        if labels and av is not None and rng.random() < 0.5:
            labels[av] = rng.choice([2, -1])
        # wildcards only make sense against >=1 known label
        if len(labels) >= 2:
            flip = rng.choice(sorted(labels))
            if rng.random() < 0.3 and any(
                l != -1 for v, l in labels.items() if v != flip
            ):
                labels[flip] = -1
    return SmallGraph(edges=edges, anti_edges=anti, labels=labels)


def test_randomized_labelled_anti_sweep(spark):
    """Seeded randomized sweep over the labelled + anti-edge + anti-vertex
    pattern space (the M4/M8/M9 interplay; reference surfaces
    core/PatternMatching.hh:214-219,380-488 and the label wildcard
    core/DataGraph.cc:105-126) vs the exhaustive brute oracle. The fixed
    fixtures above pin single points of this space; this sweeps 12
    deterministic random points through the SAME public count() surface so
    feature interactions (e.g. a wildcard label on an anti-vertex inside a
    symmetry-broken orbit) are regression-tested, not just reviewed."""
    rng = __import__("random").Random(4242)
    pairs = er_graph(14, 0.35, seed=97)
    data_labels = {v: rng.randint(1, 3) for v in range(1, 15)}
    e = edges_df(spark, pairs)
    vdf = spark.createDataFrame(
        [(v, l) for v, l in data_labels.items()], "v long, label long"
    )
    total = 0
    for trial in range(12):
        pat = _random_pattern(rng)
        [(_, got)] = count(e, pat, vertices=vdf if pat.labels else None)
        want = brute_count(pairs, pat, labels=data_labels if pat.labels else None)
        assert got == want, (trial, pat.to_string(), got, want)
        total += got
    assert total > 0  # the sweep must actually exercise matching
