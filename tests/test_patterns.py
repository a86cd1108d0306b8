"""Driver-side pattern machinery tests (no Spark needed).

Mirrors core/unittests/{Graph,PatternGenerator}_test.hh coverage.
"""

import itertools

import pytest

from peregrine_spark.patterns import (
    PatternGenerator,
    SmallGraph,
    automorphism_sets,
    automorphisms,
    canonical_form,
    symmetry_conditions,
)
from peregrine_spark.plans.compiler import matching_order
from peregrine_spark.plans.counts import convert_counts, num_mappings

from tests.conftest import NO_REFERENCE, P1_DIAMOND, REFERENCE
from tests.oracle import brute_connected_patterns


def test_generators():
    k4 = PatternGenerator.clique(4)
    assert k4.num_true_edges == 6 and k4.num_vertices == 4
    s5 = PatternGenerator.star(5)
    assert s5.num_true_edges == 4 and len(s5.adj[1]) == 4
    c5 = PatternGenerator.cycle(5)
    assert c5.num_true_edges == 5 and all(len(c5.adj[v]) == 2 for v in c5.vertices)


def test_canonical_isomorphism():
    a = SmallGraph(edges=[(1, 2), (2, 3)])
    b = SmallGraph(edges=[(5, 7), (7, 9)])
    assert canonical_form(a) == canonical_form(b)
    tri = PatternGenerator.clique(3)
    assert canonical_form(a) != canonical_form(tri)
    # labels distinguish
    la = SmallGraph(edges=[(1, 2)], labels={1: 1, 2: 2})
    lb = SmallGraph(edges=[(1, 2)], labels={1: 2, 2: 1})
    lc = SmallGraph(edges=[(1, 2)], labels={1: 1, 2: 1})
    assert canonical_form(la) == canonical_form(lb)
    assert canonical_form(la) != canonical_form(lc)


def test_automorphism_counts():
    assert len(automorphisms(PatternGenerator.clique(4))) == 24
    assert len(automorphisms(PatternGenerator.star(4))) == 6
    assert len(automorphisms(PatternGenerator.cycle(5))) == 10
    assert len(automorphisms(PatternGenerator.chain(4))) == 2


def test_symmetry_conditions_known():
    assert symmetry_conditions(PatternGenerator.clique(3)) == [(1, 2), (1, 3), (2, 3)]
    assert symmetry_conditions(PatternGenerator.star(4)) == [(2, 3), (2, 4), (3, 4)]
    # conditions select exactly one representative per automorphism orbit:
    for g in [
        PatternGenerator.cycle(4),
        PatternGenerator.cycle(5),
        PatternGenerator.chain(5),
        P1_DIAMOND,
    ]:
        conds = symmetry_conditions(g)
        auts = automorphisms(g)
        vs = g.vertices
        # for an arbitrary injective assignment, exactly one automorphic image passes
        base = {v: i * 3 + 1 for i, v in enumerate(vs)}  # distinct data ids
        passing = 0
        for a in auts:
            m = {v: base[a[v]] for v in vs}
            if all(m[l] < m[r] for l, r in conds):
                passing += 1
        assert passing == 1, (g.to_string(), conds, passing)


def test_automorphism_sets():
    assert automorphism_sets(PatternGenerator.star(4)) == [[1], [2, 3, 4]]
    assert automorphism_sets(PatternGenerator.clique(3)) == [[1, 2, 3]]
    assert automorphism_sets(P1_DIAMOND) == [[1, 3], [2, 4]]


def test_pattern_enumeration_counts():
    # known numbers of connected graphs on n vertices (OEIS A001349)
    assert len(PatternGenerator.all(3, vertex_based=False)) == 2
    assert len(PatternGenerator.all(4, vertex_based=False)) == 6
    assert len(PatternGenerator.all(5, vertex_based=False)) == 21
    vb = PatternGenerator.all(4, vertex_based=True, anti_edges=True)
    # vertex-based: anti-edges complete the complement
    for g in vb:
        assert g.num_true_edges + len(g.anti_edge_list()) == 6


def test_num_mappings_and_convert():
    wedge = PatternGenerator.chain(3)
    tri = PatternGenerator.clique(3)
    assert num_mappings(wedge, tri) == 3
    assert num_mappings(wedge, wedge) == 1
    assert num_mappings(tri, tri) == 1
    assert num_mappings(tri, wedge) == 0
    # K4: edge-induced counts of all 4-vertex patterns are known
    # (paths=12? compute via convert round-trip instead)
    # chain3 edge-induced in K4-as-data: wedges = 4*C(3,2)=12
    # convert on a consistent system: induced counts of K4 data graph
    pats = PatternGenerator.all(4, vertex_based=False)
    # edge-induced counts of each 4-pattern within data graph K4:
    e_counts = [(p, num_mappings(p, PatternGenerator.clique(4))) for p in pats]
    v_counts = dict(convert_counts(e_counts))
    # induced subgraphs of K4 on all 4 vertices: only K4 itself, once
    for p, c in v_counts.items():
        expected = 1 if canonical_form(p) == canonical_form(PatternGenerator.clique(4)) else 0
        assert c == expected, (p.to_string(), c)


@pytest.mark.skipif(not REFERENCE.exists(), reason=NO_REFERENCE)
def test_parse_reference_pattern_files():
    p1 = SmallGraph.from_file(str(REFERENCE / "query" / "p1.graph"))
    assert p1.num_vertices == 4 and p1.num_true_edges == 5
    assert canonical_form(p1) == canonical_form(P1_DIAMOND)
    p2 = SmallGraph.from_file(str(REFERENCE / "query" / "p2-mi.graph"))
    assert p2.labelling().value == "labelled"
    assert p2.num_vertices == 5 and p2.num_true_edges == 5


def test_matching_order_connected():
    for g in PatternGenerator.all(5, vertex_based=False):
        order = matching_order(g)
        assert set(order) == set(g.vertices)
        for i, v in enumerate(order[1:], 1):
            assert g.adj[v] & set(order[:i])


def test_anti_vertex_classification():
    g = SmallGraph(edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)])
    assert g.anti_vertices() == [3]
    assert g.has_anti_edges()


# -- sizes 7-9 / g6 (reference parity: core/PatternGenerator.cc:477-548) ----


def test_connected_enumeration_matches_direct():
    """The levelwise generator behind ``all`` returns, in order, the classes
    of the direct edge-subset enumeration (A001349: 2, 6, 21, 112 at sizes
    3..6)."""
    for size, expect in [(3, 2), (4, 6), (5, 21), (6, 112)]:
        got = PatternGenerator.all(size, vertex_based=False)
        direct = brute_connected_patterns(size)
        assert len(got) == expect
        assert [canonical_form(g) for g in got] == [canonical_form(g) for g in direct]


def test_all_size7():
    pats = PatternGenerator.all(7, vertex_based=False)
    assert len(pats) == 853  # A001349
    assert all(p.num_vertices == 7 and p.is_connected() for p in pats[:20])
    # vertex-based variant completes the complement with anti-edges
    vb = PatternGenerator.all(7, vertex_based=True, anti_edges=True)
    g = vb[0]
    assert g.num_true_edges + len(g.anti_edge_list()) == 21


def test_all_size8_bundled_file():
    pats = PatternGenerator.all(8, vertex_based=False)
    assert len(pats) == 11117  # A001349
    # no duplicates under canonical form (spot check the dedup invariant)
    sample = pats[::500]
    assert len({canonical_form(g) for g in sample}) == len(sample)


def test_g6_roundtrip():
    for g in PatternGenerator._connected(5):
        assert canonical_form(PatternGenerator.from_g6(PatternGenerator.to_g6(g))) == canonical_form(g)
