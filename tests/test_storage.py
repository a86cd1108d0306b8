"""Bucketed edge-table storage: round-trip + a shuffle-free wedge join."""

from peregrine_spark.graph.storage import save_edges_bucketed
from peregrine_spark.operators.triangles import triangle_count

from tests.conftest import edges_df
from tests.oracle import er_graph


def test_bucketed_roundtrip_and_colocated_join(spark, tmp_path):
    e = edges_df(spark, er_graph(150, 0.06, seed=13))
    save_edges_bucketed(e, "t_edges_bucketed", n_buckets=8)
    b = spark.table("t_edges_bucketed")
    assert {tuple(r) for r in b.collect()} == {tuple(r) for r in e.collect()}
    plain_dir = str(tmp_path / "plain_edges")
    e.write.parquet(plain_dir)
    plain = spark.read.parquet(plain_dir)

    # triangle_count's oriented wedge self-join is keyed on the canonical
    # table's dst: over the bucketed table it consumes the bucket layout
    # and skips that join's shuffle
    before_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def exchanges(edges):
            plan = triangle_count(edges)._jdf.queryExecution().executedPlan()
            return plan.toString().count("Exchange")

        assert exchanges(b) == 3
        assert exchanges(plain) == 6
        t_bucketed = triangle_count(b).collect()[0]["triangles"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before_bc)
        spark.conf.set("spark.sql.adaptive.enabled", before_aqe)

    # results over the bucketed table match the in-memory table
    assert t_bucketed == triangle_count(e).collect()[0]["triangles"]


def test_bucketed_overwrite_survives_orphan_location(spark):
    """The in-memory catalog forgets tables between sessions while the
    warehouse dir survives; overwrite must clear the orphan location."""
    e = edges_df(spark, er_graph(40, 0.2, seed=5))
    save_edges_bucketed(e, "t_edges_orphan", n_buckets=8)
    # simulate the next session: catalog entry gone, directory remains
    spark.sql("DROP TABLE t_edges_orphan")
    import shutil
    from pathlib import Path

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not Path(f"{wh}/t_edges_orphan").exists()
    Path(f"{wh}/t_edges_orphan").mkdir(parents=True)
    save_edges_bucketed(e, "t_edges_orphan", n_buckets=8)
    b = spark.table("t_edges_orphan")
    assert b.count() == e.count()


def test_overwrite_preserves_external_table_data(spark, tmp_path):
    """Colliding with a same-named EXTERNAL table must drop only the catalog
    entry — DROP TABLE deliberately preserves external data, and the
    overwrite helper must not then erase it behind the catalog's back."""
    ext_dir = str(tmp_path / "external_edges")
    e = edges_df(spark, er_graph(30, 0.2, seed=7))
    e.write.parquet(ext_dir)
    spark.sql(
        f"CREATE TABLE t_edges_ext (src BIGINT, dst BIGINT) "
        f"USING PARQUET LOCATION '{ext_dir}'"
    )
    try:
        save_edges_bucketed(e, "t_edges_ext", n_buckets=8)
        from pathlib import Path

        files = list(Path(ext_dir).glob("*.parquet"))
        assert files, "external table data was deleted"
        assert spark.read.parquet(ext_dir).count() == e.count()
        assert spark.table("t_edges_ext").count() == e.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_edges_ext")
