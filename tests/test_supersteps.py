"""Superstep engine: PageRank/CC/LP vs pure-Python oracles + resume."""

import itertools
import json

import pytest

from peregrine_spark.graph.build import kcore
from peregrine_spark.operators.triangles import ktruss
from peregrine_spark.supersteps import (
    SuperstepEngine,
    bfs_hops,
    connected_components,
    label_propagation,
    pagerank,
)
from peregrine_spark.supersteps.engine import SuperstepResult

from tests.conftest import edges_df
from tests.oracle import brute_components, brute_pagerank, er_graph


def two_cliques_bridge():
    k5 = list(itertools.combinations(range(1, 6), 2))
    k4 = list(itertools.combinations(range(10, 14), 2))
    return k5 + k4 + [(5, 10)], k5 + k4  # with and without bridge


def test_pagerank_matches_oracle(spark):
    pairs = er_graph(40, 0.15, seed=31)
    e = edges_df(spark, pairs)
    for damping in (0.85, 0.5):
        res = pagerank(e, damping=damping, max_iters=15, tol=0.0)
        got = {r["v"]: r["rank"] for r in res.state.collect()}
        truth = brute_pagerank(pairs, damping=damping, iters=15)
        assert set(got) == set(truth)
        for v in truth:
            assert abs(got[v] - truth[v]) < 1e-6, (damping, v)
        assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_uniform_on_regular_graphs(spark):
    ring = [(i, i % 10 + 1) for i in range(1, 11)]
    res = pagerank(edges_df(spark, ring), max_iters=10, tol=1e-12)
    ranks = [r["rank"] for r in res.state.collect()]
    assert all(abs(x - 0.1) < 1e-9 for x in ranks)


def test_connected_components_exact(spark):
    bridged, unbridged = two_cliques_bridge()
    res = connected_components(edges_df(spark, unbridged))
    got = dict((r["v"], r["comp"]) for r in res.state.collect())
    assert got == brute_components(unbridged)
    assert len(set(got.values())) == 2
    res2 = connected_components(edges_df(spark, bridged))
    got2 = dict((r["v"], r["comp"]) for r in res2.state.collect())
    assert got2 == brute_components(bridged)
    assert len(set(got2.values())) == 1
    assert res2.converged


def test_connected_components_er(spark):
    pairs = er_graph(50, 0.05, seed=41)
    got = dict(
        (r["v"], r["comp"])
        for r in connected_components(edges_df(spark, pairs)).state.collect()
    )
    assert got == brute_components(pairs)


def brute_lp(pairs, iters):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            counts = {}
            for u in adj[v]:
                counts[lab[u]] = counts.get(lab[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == lab:
            break
        lab = new
    return lab


def test_label_propagation_matches_oracle(spark):
    pairs, _ = two_cliques_bridge()
    res = label_propagation(edges_df(spark, pairs), max_iters=4)
    got = dict((r["v"], r["label"]) for r in res.state.collect())
    truth = brute_lp(pairs, res.iterations)
    assert got == truth


def test_label_propagation_from_seeds(spark):
    """K4 on 1..4 plus a pendant 5 on 4, with 1, 2 and 3 seeded label 9
    (4 and 5 start at their own ids). Worked by hand: step 1 gives 4 the
    label 9 (9, 9, 9 against 5) and 5 the label 4; step 2 gives 5 the
    label 9; step 3 changes nothing."""
    pairs = list(itertools.combinations(range(1, 5), 2)) + [(4, 5)]
    seeds = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], "v long, label long")
    res = label_propagation(edges_df(spark, pairs), seeds=seeds, max_iters=10)
    assert res.converged and res.iterations == 3
    assert {r["v"]: r["label"] for r in res.state.collect()} == dict.fromkeys(
        range(1, 6), 9
    )


def test_personalized_pagerank_matches_oracle(spark):
    pairs = er_graph(35, 0.15, seed=53)
    e = edges_df(spark, pairs)
    for sources in ([1], [1, 7, 20]):
        res = pagerank(e, max_iters=15, tol=0.0, sources=sources)
        got = {r["v"]: r["rank"] for r in res.state.collect()}
        truth = brute_pagerank(pairs, iters=15, sources=sources)
        assert set(got) == set(truth)
        for v in truth:
            assert abs(got[v] - truth[v]) < 1e-6, (sources, v)
        # mass conserves to 1 and concentrates near the sources
        assert abs(sum(got.values()) - 1.0) < 1e-6
        assert max(got, key=got.get) in sources
    # sources absent from the graph are an error, not a silent uniform fall-back
    with pytest.raises(ValueError):
        pagerank(e, max_iters=2, sources=[10_000])


def test_bfs_hops_matches_oracle(spark):
    from tests.oracle import brute_bfs

    pairs = er_graph(40, 0.1, seed=41)  # sparse: nontrivial hops + unreached
    verts = {v for p in pairs for v in p}
    e = edges_df(spark, pairs)
    # repeated source ids count once: one state row per vertex
    for sources in ([1], [1, 40], [40, 1, 40, 1, 1]):
        res = bfs_hops(e, sources, max_iters=50)
        assert res.converged
        assert res.state.columns == ["v", "dist"]
        rows = res.state.collect()
        got = {r["v"]: r["dist"] for r in rows}
        truth = brute_bfs(pairs, sources)
        assert set(got) == verts and len(rows) == len(verts)
        for v in verts:
            assert got[v] == truth.get(v), (sources, v)  # None == unreached


def test_bfs_hops_closed_forms(spark):
    # chain: dist from 1 is v-1; the final superstep settles one vertex
    chain = [(i, i + 1) for i in range(1, 8)]
    res = bfs_hops(edges_df(spark, chain), [1], max_iters=20)
    assert res.converged
    assert {r["v"]: r["dist"] for r in res.state.collect()} == {
        v: v - 1 for v in range(1, 9)
    }
    # bridged cliques: k4 side is 1 hop from the bridge, 2 from the k5 core
    pairs, _ = two_cliques_bridge()
    res = bfs_hops(edges_df(spark, pairs), [1], max_iters=20)
    got = {r["v"]: r["dist"] for r in res.state.collect()}
    assert got[5] == 1 and got[10] == 2
    assert all(got[v] == 3 for v in (11, 12, 13))
    # a source outside the graph's vertex set is ignored: nothing reached
    res = bfs_hops(edges_df(spark, chain), [999], max_iters=5)
    assert res.converged
    assert all(r["dist"] is None for r in res.state.collect())


def test_bfs_resume_equivalence(spark, tmp_path):
    pairs = er_graph(30, 0.12, seed=47)
    e = edges_df(spark, pairs)
    full = bfs_hops(e, [1], max_iters=20).state.collect()
    eng = SuperstepEngine(spark, str(tmp_path / "bfs"), run_id="bfs")
    bfs_hops(e, [1], max_iters=2, engine=eng)
    resumed = bfs_hops(e, [1], max_iters=20, engine=eng, resume=True)
    assert {(r["v"], r["dist"]) for r in resumed.state.collect()} == {
        (r["v"], r["dist"]) for r in full
    }
    # the resumed run restarted from the step-2 checkpoint, not from scratch
    steps = sorted(p.name for p in (tmp_path / "bfs" / "bfs").glob("step=*"))
    assert steps and steps[0] == "step=00000"


def test_randomized_vertex_analytics_sweep(spark):
    """Seeded randomized sweep of the round-5 vertex-analytics surface
    (bfs_hops / ktruss / local_clustering / personalized pagerank) over
    graphs of varying density vs their brute oracles — the same
    sweep-through-the-public-surface discipline as the pattern sweep in
    test_matching: fixed fixtures pin single points, this regression-tests
    the space between them."""
    import random as _random

    from peregrine_spark.operators.triangles import ktruss, local_clustering
    from tests.oracle import brute_bfs, brute_ktruss

    rng = _random.Random(777)
    for trial in range(4):
        n = rng.randint(12, 26)
        p = rng.choice([0.12, 0.25, 0.4])
        pairs = er_graph(n, p, seed=rng.randint(1, 10_000))
        if not pairs:
            continue
        verts = sorted({v for pr in pairs for v in pr})
        e = edges_df(spark, pairs)

        src = rng.choice(verts)
        res = bfs_hops(e, [src], max_iters=60)
        assert res.converged
        got = {r["v"]: r["dist"] for r in res.state.collect()}
        truth = brute_bfs(pairs, [src])
        assert all(got[v] == truth.get(v) for v in verts), (trial, src)

        k = rng.randint(3, 5)
        got_t = {(r["src"], r["dst"]) for r in ktruss(e, k).collect()}
        assert got_t == brute_ktruss(pairs, k), (trial, k)

        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for r in local_clustering(e).collect():
            nbrs = adj[r["v"]]
            t = sum(
                1 for u, w in itertools.combinations(sorted(nbrs), 2) if w in adj[u]
            )
            d = len(nbrs)
            want = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0
            assert r["triangles"] == t and abs(r["clustering"] - want) < 1e-9, trial

        ppr = pagerank(e, max_iters=8, tol=0.0, sources=[src])
        got_r = {r["v"]: r["rank"] for r in ppr.state.collect()}
        truth_r = brute_pagerank(pairs, iters=8, sources=[src])
        assert all(abs(got_r[v] - truth_r[v]) < 1e-6 for v in verts), (trial, src)


def test_checkpoint_resume_equivalence(spark, tmp_path):
    pairs = er_graph(30, 0.15, seed=43)
    e = edges_df(spark, pairs)
    full = pagerank(
        e,
        max_iters=10,
        tol=0.0,
        engine=SuperstepEngine(spark, str(tmp_path / "full"), run_id="pr"),
    )
    # partial run: 4 supersteps, then resume to 10
    eng = SuperstepEngine(spark, str(tmp_path / "part"), run_id="pr")
    pagerank(e, max_iters=4, tol=0.0, engine=eng)
    resumed = pagerank(e, max_iters=10, tol=0.0, engine=eng, resume=True)
    gf = {r["v"]: r["rank"] for r in full.state.collect()}
    gr = {r["v"]: r["rank"] for r in resumed.state.collect()}
    for v in gf:
        assert abs(gf[v] - gr[v]) < 1e-12

    # lineage + metrics recorded per superstep
    lines = [
        json.loads(l)
        for l in (tmp_path / "part" / "pr" / "metrics.jsonl").read_text().splitlines()
    ]
    assert [m["iteration"] for m in lines] == list(range(10))
    for m in lines:
        assert m["partitions"] and all(
            "checksum" in p and p["rows"] > 0 for p in m["partitions"]
        )
    # resume skipped the first 4 completed supersteps
    steps = sorted(p.name for p in (tmp_path / "part" / "pr").glob("step=*"))
    assert len(steps) == 10


def test_resume_after_convergence_is_noop(spark, tmp_path):
    pairs, _ = two_cliques_bridge()
    e = edges_df(spark, pairs)
    eng = SuperstepEngine(spark, str(tmp_path), run_id="cc")
    r1 = connected_components(e, engine=eng)
    assert r1.converged
    r2 = connected_components(e, engine=eng, resume=True)
    assert r2.converged
    assert {tuple(r) for r in r1.state.collect()} == {
        tuple(r) for r in r2.state.collect()
    }


def test_cc_contraction_matches_minprop(spark):
    """large-star/small-star == min-propagation on a random graph."""
    from tests.oracle import er_graph

    pairs = er_graph(40, 0.06, 11)
    e = edges_df(spark, pairs)
    a = connected_components(e, max_iters=64).state
    b = connected_components(e, max_iters=20, strategy="contraction").state
    assert {(r["v"], r["comp"]) for r in a.collect()} == {
        (r["v"], r["comp"]) for r in b.collect()
    }


def test_cc_contraction_logarithmic_rounds_on_path(spark):
    """A 60-vertex path has diameter 59: min-prop needs ~59 rounds, the
    contraction variant must finish in O(log^2 n) — give it 12."""
    e = edges_df(spark, [(i, i + 1) for i in range(1, 60)])
    res = connected_components(e, max_iters=12, strategy="contraction")
    assert res.converged and res.iterations <= 12
    assert {(r["v"], r["comp"]) for r in res.state.collect()} == {
        (v, 1) for v in range(1, 61)
    }


def test_auto_shuffle_partitions_regimes(spark):
    from peregrine_spark.supersteps.engine import auto_shuffle_partitions

    cores = spark.sparkContext.defaultParallelism
    # tiny input: scheduling floor dominates -> far fewer than core count
    assert auto_shuffle_partitions(spark, 1_000) == 1
    # medium: one partition per ~100k rows up to the core count
    assert auto_shuffle_partitions(spark, 300_000) == min(cores, 3)
    # beyond cores*2M rows: ~2M-row partitions win (spill safety at scale)
    big = auto_shuffle_partitions(spark, cores * 2_000_000 * 3)
    assert big == cores * 3


def test_operators_leave_session_conf_unchanged(spark):
    """Every vertex program and fsm pins session conf keys (AQE off,
    shuffle partitions, the FSM broadcast cap) only while it runs: after it
    returns, or raises inside its set-up, the session conf is as before.
    The kcore and ktruss peels run on the engine's loop outside any
    vertex program and pin nothing."""
    from peregrine_spark.operators.fsm import fsm
    from peregrine_spark.session import conf_override

    def conf():
        return {r["key"]: r["value"] for r in spark.sql("SET").collect()}

    key = "spark.sql.shuffle.partitions"
    before = conf()
    with conf_override(spark, {key: 7, "spark.peregrine.unset": "x"}):
        assert spark.conf.get(key) == "7"
    assert conf() == before
    with pytest.raises(RuntimeError):
        with conf_override(spark, {key: 7}):
            raise RuntimeError
    assert conf() == before

    pairs = er_graph(30, 0.15, seed=61)
    e = edges_df(spark, pairs)
    labels = spark.createDataFrame(
        [(v, v % 2) for v in {x for p in pairs for x in p}], "v long, label long"
    )
    runs = {
        "pagerank": lambda: pagerank(e, max_iters=2, tol=-1.0),
        "cc_minprop": lambda: connected_components(e),
        "cc_contraction": lambda: connected_components(e, strategy="contraction"),
        "label_propagation": lambda: label_propagation(e, max_iters=2),
        "bfs_hops": lambda: bfs_hops(e, [1]),
        "fsm": lambda: fsm(e, labels, support=2, max_vertices=3),
        "kcore": lambda: kcore(e, 3),
        "ktruss": lambda: ktruss(e, 3),
    }
    for name, run in runs.items():
        run()
        assert conf() == before, name
    with pytest.raises(ValueError):
        pagerank(e, max_iters=2, sources=[10_000])
    assert conf() == before


def test_non_convergence_is_logged(spark, caplog):
    path = edges_df(spark, [(i, i + 1) for i in range(1, 10)])
    with caplog.at_level("WARNING", logger="peregrine_spark.supersteps.engine"):
        res = connected_components(path, max_iters=2)
    assert not res.converged and res.iterations == 2
    assert any("did not converge" in r.getMessage() for r in caplog.records)
    # fixed-step runs (tol < 0) stay quiet
    caplog.clear()
    with caplog.at_level("WARNING", logger="peregrine_spark.supersteps.engine"):
        pagerank(path, max_iters=2, tol=-1.0)
    assert not caplog.records


def test_non_convergence_is_counted(spark):
    """A run that uses up max_iters short of tol adds 1 to
    ``session.nonconverged_runs``, a kcore peel capped short of its
    fixpoint included; a fixed-step run (tol < 0) adds none."""
    from peregrine_spark import session

    path = edges_df(spark, [(i, i + 1) for i in range(1, 10)])
    before = session.nonconverged_runs
    assert not connected_components(path, max_iters=1).converged
    assert session.nonconverged_runs == before + 1
    pagerank(path, max_iters=1, tol=-1.0)
    assert session.nonconverged_runs == before + 1
    # a 10-vertex path loses its two end edges per 2-core round
    kcore(path, 2, max_iters=2)
    assert session.nonconverged_runs == before + 2


def test_operators_accept_pinned_partitions(spark):
    # the scaling-evidence path pins the layout on both sides
    pairs = er_graph(30, 0.2, seed=91)
    e = edges_df(spark, pairs)
    r1 = pagerank(e, max_iters=5, tol=0.0, n_partitions=3)
    r2 = pagerank(e, max_iters=5, tol=0.0)
    a = {r["v"]: r["rank"] for r in r1.state.collect()}
    b = {r["v"]: r["rank"] for r in r2.state.collect()}
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)
    c1 = connected_components(e, n_partitions=2)
    c2 = connected_components(e)
    assert {tuple(r) for r in c1.state.collect()} == {
        tuple(r) for r in c2.state.collect()
    }


def test_resume_from_torn_checkpoint(spark, tmp_path):
    """Kill-mid-write simulation: a superstep whose parquet dir lost its
    _SUCCESS marker (exactly what a mid-write kill leaves behind) must be
    treated as incomplete — resume restarts from the last COMPLETE step,
    re-runs the torn one, and the final ranks equal an uninterrupted run.
    This is the north-rule fault-tolerance path end-to-end: atomicity via
    the commit marker, idempotent overwrite of the torn step, metrics
    truncated to the resumed-from iteration."""
    pairs = er_graph(30, 0.15, seed=47)
    e = edges_df(spark, pairs)
    full = pagerank(
        e,
        max_iters=8,
        tol=0.0,
        engine=SuperstepEngine(spark, str(tmp_path / "full"), run_id="pr"),
    )

    eng = SuperstepEngine(spark, str(tmp_path / "part"), run_id="pr")
    pagerank(e, max_iters=5, tol=0.0, engine=eng)
    # tear the LAST checkpoint: step 4's _SUCCESS vanishes mid-write
    torn = tmp_path / "part" / "pr" / "step=00004"
    (torn / "_SUCCESS").unlink()
    assert eng._complete_steps() == [0, 1, 2, 3]

    resumed = pagerank(e, max_iters=8, tol=0.0, engine=eng, resume=True)
    gf = {r["v"]: r["rank"] for r in full.state.collect()}
    gr = {r["v"]: r["rank"] for r in resumed.state.collect()}
    assert gf.keys() == gr.keys()
    for v in gf:
        assert abs(gf[v] - gr[v]) < 1e-6

    # the torn step was re-run and re-committed atomically
    assert (torn / "_SUCCESS").exists()
    lines = [
        json.loads(l)
        for l in (tmp_path / "part" / "pr" / "metrics.jsonl").read_text().splitlines()
    ]
    # metrics: 0..4 from the first run, then 4..7 re-appended by the resume
    assert [m["iteration"] for m in lines] == [0, 1, 2, 3, 4, 4, 5, 6, 7]


def _path_programs(e):
    """The five vertex programs on ``e`` as functions of the superstep count,
    each checked every superstep where it takes ``check_every``."""
    return {
        "pagerank": lambda n: pagerank(e, max_iters=n, tol=-1.0, check_every=1),
        "cc_minprop": lambda n: connected_components(e, max_iters=n, check_every=1),
        "cc_contraction": lambda n: connected_components(
            e, max_iters=n, strategy="contraction"
        ),
        "label_propagation": lambda n: label_propagation(e, max_iters=n, check_every=1),
        "bfs_hops": lambda n: bfs_hops(e, [1], max_iters=n),
    }


def test_superstep_engine_releases_checkpoints(spark):
    """Each superstep materializes its state (localCheckpoint); the engine
    must release the superseded round's checkpoint — otherwise a long run
    retains one state table PER SUPERSTEP in executor storage.
    DataFrame.unpersist() is a silent no-op on checkpoint blocks (they live
    on the LogicalRDD), hence session.release_checkpoint. A run of 3 and a
    run of 8 supersteps must leave the same number of live RDDs."""

    def persistent_ids():
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    # a path: no program below converges before its 8th superstep
    e = edges_df(spark, [(i, i + 1) for i in range(1, 300)])
    for name, run in _path_programs(e).items():
        grown = []
        for n in (3, 8):
            before = persistent_ids()
            res = run(n)
            res.state.count()
            assert res.iterations == n, name
            grown.append(len(persistent_ids() - before))
        # at most the FINAL state's checkpoint may remain live (the caller
        # owns the result); nothing accumulates per superstep
        assert grown[0] == grown[1] <= 1, (name, grown)


def test_one_spark_job_per_superstep(spark):
    """Every superstep is one Spark job, check steps included: the
    localCheckpoint that materializes the state carries the observed delta,
    and the step joins hash-join the co-partitioned state rather than
    broadcasting it (a broadcast is a job of its own). The kcore peel runs
    on the same loop, one job per round: no eager checkpoint and no count
    beside it. Set-up jobs are the same for any superstep count, so runs of
    n and m supersteps differ by exactly n - m jobs."""
    from peregrine_spark.session import conf_override

    sc = spark.sparkContext

    def jobs(run, n, group):
        sc.setJobGroup(group, group)
        try:
            res = run(n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if isinstance(res, SuperstepResult):  # kcore returns only its edges
            assert res.iterations == n, group
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # a path: no program below converges before its 6th superstep (the
    # 2-core peel drops the two end edges per round)
    e = edges_df(spark, [(i, i + 1) for i in range(1, 300)])

    def kcore_rounds(n):
        # the peel keeps the session's AQE, which submits each query stage
        # of a round's one job as a job of its own; with AQE off the stages
        # run inside that job, so the count is the loop's
        with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
            return kcore(e, 2, max_iters=n)

    programs = {**_path_programs(e), "kcore": kcore_rounds}
    for name, run in programs.items():
        few, many = (jobs(run, n, f"one-job-per-step-{name}-{n}") for n in (2, 6))
        assert many - few == 6 - 2, (name, few, many)


def test_resume_refuses_incompatible_checkpoint(spark, tmp_path):
    """A checkpoint whose columns are not the program's state (here
    hand-written PageRank and BFS states from before the teleport column
    and the frontier flag) is refused up front, naming both schemas,
    rather than failing inside the first superstep on an unresolved
    column."""
    pairs = er_graph(20, 0.2, seed=71)
    e = edges_df(spark, pairs)
    eng = SuperstepEngine(spark, str(tmp_path), run_id="pr")
    verts = sorted({v for p in pairs for v in p})
    old = spark.createDataFrame(
        [(v, 1, 1.0 / len(verts)) for v in verts], "v long, deg long, rank double"
    )
    old.write.parquet(str(eng._step_path(0)))
    with pytest.raises(ValueError) as err:
        pagerank(e, max_iters=3, tol=0.0, engine=eng, resume=True)
    msg = str(err.value)
    assert "v bigint, deg bigint, rank double" in msg
    assert "v bigint, deg bigint, tp double, rank double" in msg
    # a (v, dist) BFS state from before the step carried its ``new`` flag
    eng = SuperstepEngine(spark, str(tmp_path), run_id="bfs")
    spark.createDataFrame([(v, None) for v in verts], "v long, dist long").write.parquet(
        str(eng._step_path(0))
    )
    with pytest.raises(ValueError, match="v bigint, dist bigint, new boolean"):
        bfs_hops(e, [verts[0]], engine=eng, resume=True)


@pytest.mark.parametrize("pairs", [[], [(1, 2), (1, 3), (1, 4)]], ids=["empty", "star3"])
def test_graph_operators_on_degenerate_inputs(spark, pairs):
    """An empty edge table and a 3-leaf star: each count equals the oracle
    (0 where nothing matches), each vertex program returns the oracle's
    state (empty on the empty table). A fast-path sum over no rows (an
    empty table, or no wedge pair on a star) must read 0, not null, and
    PageRank must not divide by a vertex count of 0."""
    from peregrine_spark.operators.match import (
        count,
        count_incremental,
        count_motifs,
        existence,
    )
    from peregrine_spark.operators.triangles import local_clustering, triangle_count
    from peregrine_spark.patterns.small_graph import PatternGenerator as PG

    from tests.conftest import P1_DIAMOND
    from tests.oracle import brute_bfs, brute_count, brute_ktruss

    e = edges_df(spark, pairs)
    shapes = [PG.clique(3), PG.clique(4), PG.star(3), PG.chain(4), PG.cycle(4), P1_DIAMOND]
    assert [c for _, c in count(e, shapes)] == [brute_count(pairs, p) for p in shapes]
    for k in (3, 4):
        for p, c in count_motifs(e, k):
            assert c == brute_count(pairs, p), (k, p.to_string())
    assert triangle_count(e).collect()[0]["triangles"] == 0
    verts = sorted({v for pair in pairs for v in pair})
    deg = {v: sum(v in pair for pair in pairs) for v in verts}
    assert sorted(map(tuple, local_clustering(e).collect())) == [
        (v, 0, deg[v], 0.0) for v in verts
    ]
    assert kcore(e, 2).collect() == []
    assert set(map(tuple, ktruss(e, 3).collect())) == brute_ktruss(pairs, 3)
    for p in (PG.clique(3), PG.star(3)):
        assert existence(e, p) == (brute_count(pairs, p) > 0)
        assert count_incremental(e, p).value == brute_count(pairs, p)

    res = pagerank(e, max_iters=15, tol=0.0)
    got = {r["v"]: r["rank"] for r in res.state.collect()}
    truth = brute_pagerank(pairs, iters=15)
    assert set(got) == set(truth)
    assert all(abs(got[v] - truth[v]) < 1e-6 for v in truth)
    if not pairs:
        assert res.converged
    for strategy in ("minprop", "contraction"):
        cc = connected_components(e, strategy=strategy)
        assert dict(map(tuple, cc.state.collect())) == brute_components(pairs), strategy
    hops = bfs_hops(e, [1]).state.collect()
    assert {r["v"]: r["dist"] for r in hops} == {
        v: brute_bfs(pairs, [1]).get(v) for v in verts
    }
    lp = label_propagation(e, max_iters=4)
    assert dict(map(tuple, lp.state.collect())) == brute_lp(pairs, lp.iterations)
