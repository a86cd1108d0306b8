"""Physical-plan regression tests — the scan-efficiency guarantees.

At 100 TB the difference between a query that pushes its filter into the
parquet scan (and prunes to the 2-3 columns it projects) and one that
reads everything is the whole I/O bill. These tests pin the plan
properties the engine's design claims, so a refactor that silently breaks
pushdown/pruning or drops a Python evaluator into a hot path fails CI —
the `.explain("formatted")` discipline, made executable.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from peregrine_spark.graph.from_tables import chain_edges
from peregrine_spark.text.analysis import lang_id, quality_score, token_stats_by

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lineitem_filter_pushdown_and_column_pruning(spark):
    """The edge-derivation scan: a `l_quantity <= 8` pre-filter must reach
    the parquet reader as a pushed filter, and the scan must read ONLY the
    chain/filter columns — none of the 7 unused lineitem columns."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").where("l_quantity <= 8")
    edges = chain_edges(li, "l_orderkey", "l_partkey", ["l_linenumber"])
    plan = plan_of(edges)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("LessThanOrEqual(l_quantity,8" in l for l in pushed), pushed
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_partkey", "l_quantity"):
        assert col in read_schema, read_schema
    for col in ("l_extendedprice", "l_returnflag", "l_shipdate", "l_comment"):
        assert col not in read_schema, read_schema


@pytest.mark.parametrize(
    "op", [quality_score, lang_id, lambda d: token_stats_by(d, "lang")]
)
def test_documents_column_pruning(spark, op):
    """Text-pipeline ops project doc_id/text(/lang) — the parquet scan must
    NOT read the unused `source` column."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(op(docs))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema
    assert "source" not in read_schema, read_schema


def test_text_and_graph_hot_paths_stay_jvm_side(spark):
    """No Python evaluator of ANY kind (row-at-a-time BatchEvalPython,
    Arrow-batched ArrowEvalPython/MapInPandas) in the text ops or the
    triangle plan — everything is built-in column expressions that stay
    inside the JVM and whole-stage codegen. (Arrow kernels are allowed
    only where declared: the multimodal decode.)"""
    from peregrine_spark.operators.triangles import local_clustering, triangle_count

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    edges = chain_edges(li, "l_orderkey", "l_partkey", ["l_linenumber"])
    for df in (
        quality_score(docs),
        lang_id(docs),
        triangle_count(edges),
        local_clustering(edges),
    ):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan


def test_output_remap_broadcasts_id_dict(spark, tmp_path):
    """output()'s original-id remap joins the id dictionary once per match
    column; with broadcast_dict (the default for dictionary-sized dicts)
    all k joins must be map-side BroadcastHashJoins — the match table is
    the widest table in the query, and a shuffle join per column would
    shuffle it k times at 100 TB."""
    from peregrine_spark.graph.build import canonical_edges
    from peregrine_spark.operators.match import output
    from peregrine_spark.patterns.small_graph import PatternGenerator

    pairs = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (1, 4), (4, 5)]
    e = canonical_edges(
        spark.createDataFrame(pairs, "src long, dst long")
    )
    id_dict = spark.createDataFrame(
        [(v, f"orig_{v}") for v in range(1, 6)], "v long, key string"
    )
    m = output(e, PatternGenerator.clique(3), str(tmp_path / "out"), id_dict=id_dict)
    plan = plan_of(m)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # and the remap itself is value-correct
    rows = {tuple(sorted(r)) for r in m.collect()}
    assert ("orig_1", "orig_2", "orig_3") in rows


def test_ingest_plan_shape(spark):
    """build_graph shuffles once for the commit window and once for its
    single dedup; at this size both id joins broadcast the ranking, and the
    vertex table reads the checkpointed ranking directly. Pre-AQE: at most
    4 Exchanges in the edge plan and 1 in the vertex plan, never a
    single-partition sort, never a Python evaluator."""
    from peregrine_spark.graph import build_graph
    from peregrine_spark.session import conf_override
    from peregrine_spark.tables import source_repo_table

    with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
        # a size no other test ingests: the persisted key edges must be
        # planned here, not found in the cache under another test's AQE plan
        g = build_graph(source_repo_table(spark, n_files=240))
        for name, df, most in (("edges", g.edges, 4), ("vertices", g.vertices, 1)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "AdaptiveSparkPlan" not in plan, plan
            exchanges = [
                l for l in plan.splitlines()
                if "Exchange" in l and "ReusedExchange" not in l
            ]
            assert len(exchanges) <= most, (name, exchanges)
            assert "SinglePartition" not in plan, (name, plan)
            for evaluator in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
                assert evaluator not in plan, (name, plan)
    g.unpersist()


def test_ordered_legs_read_canonical_table(spark):
    """compile_match takes the canonical (src<dst) table and symmetrizes it
    only for legs the symmetry order leaves unrelated. The closure of a
    clique's order relates every vertex pair, so the 4-clique plan reads
    the canonical table on every leg and has no Union. A 3-star's
    centre-leaf pairs are unordered, so its plan still has one."""
    from peregrine_spark.patterns.small_graph import PatternGenerator
    from peregrine_spark.plans.compiler import compile_match
    from tests.conftest import edges_df

    e = edges_df(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])

    def optimized(pattern) -> str:
        return compile_match(e, pattern).df._jdf.queryExecution().optimizedPlan().toString()

    assert "Union" not in optimized(PatternGenerator.clique(4))
    assert "Union" in optimized(PatternGenerator.star(3))


@pytest.mark.parametrize("program", ["pagerank", "cc_minprop", "bfs_hops"])
def test_superstep_plan_hash_joins_copartitioned_state(spark, program):
    """A steady-state superstep of PageRank, min-propagation CC and BFS
    joins the state (already hash-partitioned on the vertex key by the
    previous step) with the adjacency (repartitioned on ``src`` by
    vertex_program) in place: no broadcast, however small the state; no
    sort; one shuffle, the aggregation's; and no Python evaluator."""
    from peregrine_spark.supersteps import (
        SuperstepEngine,
        bfs_hops,
        connected_components,
        pagerank,
    )
    from tests.conftest import edges_df

    class StepPlans(SuperstepEngine):
        """Records the executed plan of every step frame of its run."""

        def run(self, state0, step, delta, **kw):
            self.plans = []

            def recorded(state, i):
                frame = step(state, i)
                self.plans.append(frame._jdf.queryExecution().executedPlan().toString())
                return frame

            return super().run(state0, recorded, delta, **kw)

    e = edges_df(spark, [(i, i + 1) for i in range(1, 40)])
    eng = StepPlans(spark)
    run = {
        "pagerank": lambda: pagerank(e, max_iters=2, tol=-1.0, engine=eng, n_partitions=4),
        "cc_minprop": lambda: connected_components(
            e, max_iters=2, engine=eng, n_partitions=4
        ),
        "bfs_hops": lambda: bfs_hops(e, [1], max_iters=2, engine=eng, n_partitions=4),
    }[program]
    run()
    plan = eng.plans[-1]  # step 1 reads the checkpoint of step 0
    assert "Broadcast" not in plan, plan
    assert "Sort" not in plan, plan
    shuffles = [
        l for l in plan.splitlines() if "Exchange" in l and "ENSURE_REQUIREMENTS" in l
    ]
    assert len(shuffles) == 1, plan
    assert "ShuffledHashJoin" in plan, plan
    for evaluator in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert evaluator not in plan, plan
