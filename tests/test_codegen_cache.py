"""The session keeps the classes whole-stage codegen compiles, and plans
that repeat produce identical code, so a repeated query compiles nothing.
Counted with Spark's CodegenMetrics compilation counter."""

from peregrine_spark.graph.build import build_graph
from peregrine_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles
from peregrine_spark.supersteps import bfs_hops, connected_components, pagerank
from peregrine_spark.tables import source_repo_table
from tests.conftest import edges_df
from tests.oracle import brute_bfs


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_second_build_graph_compiles_nothing(spark, tmp_path):
    """Ingest, query the result with the three vertex programs (together
    more classes than Spark's default 100-entry cache holds), then ingest
    again: the second ingest's classes are all still cached."""
    src = str(tmp_path / "src")
    source_repo_table(spark, n_files=300).write.parquet(src)

    def ingest():
        g = build_graph(spark.read.parquet(src))
        g.edges.write.mode("overwrite").parquet(str(tmp_path / "edges"))
        g.vertices.write.mode("overwrite").parquet(str(tmp_path / "vertices"))
        g.unpersist()

    ingest()
    edges = spark.read.parquet(str(tmp_path / "edges"))
    for run in (pagerank, connected_components, lambda e: bfs_hops(e, [1])):
        run(edges).state.collect()
    before = codegen_compiles(spark)
    ingest()
    assert codegen_compiles(spark) - before == 0


def test_bfs_steps_reuse_their_code(spark):
    """Every BFS superstep runs the same generated code: after a 2-step
    run, a 6-step run in the same session compiles no new class. Each run
    returns exactly (v, dist), the brute-force distances up to its step
    count."""
    pairs = [(i, i + 1) for i in range(1, 300)]
    truth = brute_bfs(pairs, [1])
    e = edges_df(spark, pairs)
    compiled = []
    for n in (2, 6):
        before = codegen_compiles(spark)
        res = bfs_hops(e, [1], max_iters=n)
        got = {r["v"]: r["dist"] for r in res.state.collect()}
        compiled.append(codegen_compiles(spark) - before)
        assert res.state.columns == ["v", "dist"]
        assert got == {v: d if d <= n else None for v, d in truth.items()}
    assert compiled[1] == 0, compiled
