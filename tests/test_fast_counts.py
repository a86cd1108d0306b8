"""Fast-path counting vs brute-force oracle and generic compiler.

Mirrors the reference test idiom (exact counts on small graphs +
closed-form counts on cliques, core/integrationtests/DataConverter_test.hh
binom checks)."""

from __future__ import annotations

import math

import pytest

from peregrine_spark.operators.match import count, count_motifs
from peregrine_spark.patterns.small_graph import PatternGenerator, SmallGraph
from peregrine_spark.plans.compiler import compile_match
from peregrine_spark.plans.fast_counts import fast_count
from tests.conftest import edges_df
from tests.oracle import brute_count, er_graph


@pytest.mark.parametrize("seed", [1, 2])
def test_fast_paths_match_oracle_on_er(spark, seed):
    pairs = er_graph(12, 0.35, seed)
    e = edges_df(spark, pairs)
    for pattern in [
        PatternGenerator.clique(3),
        PatternGenerator.clique(4),
        PatternGenerator.star(3),
        PatternGenerator.star(4),
        PatternGenerator.chain(4),
    ]:
        fc = fast_count(e, pattern)
        assert fc is not None, pattern
        got = fc.collect()[0]["cnt"]
        expect = brute_count(pairs, pattern)
        assert got == expect, (pattern.to_string(), got, expect)


def test_fast_path_closed_forms_on_clique(spark):
    n = 7
    pairs = [(u, v) for u in range(1, n + 1) for v in range(u + 1, n + 1)]
    e = edges_df(spark, pairs)
    for k in range(3, 6):
        got = fast_count(e, PatternGenerator.clique(k)).collect()[0]["cnt"]
        assert got == math.comb(n, k)
    # star(3) on K_n: n * C(n-1, 2)
    got = fast_count(e, PatternGenerator.star(3)).collect()[0]["cnt"]
    assert got == n * math.comb(n - 1, 2)


def test_no_fast_path_for_long_cycles_and_labels(spark):
    # cycle(4) now has a closed form; longer cycles still fall back
    assert fast_count(edges_df(spark, [(1, 2)]), PatternGenerator.cycle(5)) is None
    labelled = PatternGenerator.clique(3).set_label(1, 0)
    assert fast_count(edges_df(spark, [(1, 2)]), labelled) is None


def test_count_uses_fast_paths_consistently(spark):
    pairs = er_graph(11, 0.4, 5)
    e = edges_df(spark, pairs)
    for pattern in [PatternGenerator.clique(3), PatternGenerator.star(4)]:
        via_count = count(e, pattern)[0][1]
        via_compiler = compile_match(e, pattern).df.count()
        assert via_count == via_compiler


def test_count_concurrency_keeps_callers_job_group(spark):
    """count(concurrency>1) submits its per-pattern jobs from driver
    threads; those jobs stay in the caller's job group (so cancelling or
    reading the group covers them) and give the serial counts."""
    e = edges_df(spark, er_graph(20, 0.3, 3))
    pats = [PatternGenerator.cycle(4), PatternGenerator.chain(4), PatternGenerator.clique(3)]
    sc = spark.sparkContext
    sc.setJobGroup("count-threads", "count-threads")
    try:
        threaded = count(e, pats, concurrency=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("count-threads")) >= 1
    assert [c for _, c in threaded] == [c for _, c in count(e, pats, concurrency=1)]


def test_count_concurrency_without_pinned_threads(spark, monkeypatch):
    """Off PySpark's pinned-thread mode (PYSPARK_PIN_THREAD=false)
    inheritable_thread_target returns its argument, here the session;
    count(concurrency>1) then runs its workers unwrapped."""
    import peregrine_spark.session as session

    monkeypatch.setattr(session, "inheritable_thread_target", lambda f: f)
    e = edges_df(spark, er_graph(20, 0.3, 3))
    pats = [PatternGenerator.cycle(4), PatternGenerator.chain(4), PatternGenerator.clique(3)]
    assert count(e, pats, concurrency=3) == count(e, pats, concurrency=1)


def test_motif4_counts_match_oracle(spark):
    pairs = er_graph(10, 0.45, 9)
    e = edges_df(spark, pairs)
    res = count_motifs(e, 4, vertex_induced=True)
    for p, c in res:
        assert c == brute_count(pairs, p), p.to_string()


def test_star_count_exact_at_hub_degree_beyond_2_53(spark):
    """C(deg, k-1) must be exact integer arithmetic: at deg=300k the naive
    long-product/double-division path exceeds 2^53 and rounds wrong."""
    from peregrine_spark.plans.fast_counts import star_count

    n = 300_000
    hub = spark.range(1, n + 1).selectExpr("CAST(0 AS LONG) AS src", "id AS dst")
    got = star_count(hub, 4).collect()[0]["cnt"]
    assert got == math.comb(n, 3)  # leaves contribute C(1,3)=0


def test_cycle4_fast_path_matches_compiler(spark):
    from peregrine_spark.patterns.small_graph import PatternGenerator
    from peregrine_spark.plans.compiler import compile_match
    from peregrine_spark.plans.fast_counts import cycle4_count, fast_count

    pairs = er_graph(45, 0.15, seed=23)
    e = edges_df(spark, pairs)
    via_compiler = compile_match(e, PatternGenerator.cycle(4)).df.count()
    via_fast = cycle4_count(e).collect()[0]["cnt"]
    assert via_fast == via_compiler
    # dispatch picks the closed form for the cycle-4 shape
    df = fast_count(e, PatternGenerator.cycle(4))
    assert df is not None and df.collect()[0]["cnt"] == via_compiler
