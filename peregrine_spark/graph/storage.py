"""Bucketed persistent storage for the canonical edge table.

The reference converts a graph once to its binary CSR layout (ids.bin +
adjacency, core/DataConverter.cc) and every query thereafter reads that
layout directly. The Spark-native equivalent of "the adjacency is already
laid out for matching" is a BUCKETED table: writing the canonical edge
table bucketed (and sorted) by ``src`` means every subsequent self-join on
``src`` — the first leg of every pattern join chain, the superstep
adjacency join — reads co-located buckets and skips the shuffle entirely
(Catalyst sees the scan's HashPartitioning(src, n) and drops the
Exchange). At 10^12-file scale this is the difference between re-shuffling
the edge table once per query and never shuffling it at all; on a
lakehouse this role is played by the table format's bucket/cluster spec
(e.g. an Iceberg ``bucket(src, N)`` partition transform) — Spark's
``bucketBy`` is the sandbox stand-in with identical join semantics.

The triangle path stores the ORIENTED table (``fast_counts.oriented``:
the greatest/least swap is opaque to Catalyst, so only a stored oriented
layout keeps the bucketing) and lists triangles with
``fast_counts.clique_rows(edges, 3, pre_oriented=True)``: the wedge
self-join then reads co-located buckets (``bench.py --bucketed``).

Bucket-count choice mirrors :func:`auto_shuffle_partitions`: one bucket
per ~2M edges, floor 8 — big enough that a bucket fits in executor
memory, small enough that tiny graphs don't scatter into empty files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from peregrine_spark.supersteps.engine import auto_shuffle_partitions


def save_edges_bucketed(
    edges: DataFrame,
    table: str,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> int:
    """Persist a canonical (src, dst) edge table bucketed + sorted by src.

    Returns the bucket count used. The table lands in the session
    warehouse (``spark.sql.warehouse.dir``) under ``table``.
    """
    spark = edges.sparkSession
    if n_buckets is None:
        n_buckets = max(8, auto_shuffle_partitions(spark, edges.count()))
    if mode == "overwrite":
        _drop_table_and_location(spark, table)
    (
        edges.write.mode(mode)
        .bucketBy(n_buckets, "src")
        .sortBy("src", "dst")
        .saveAsTable(table)
    )
    return n_buckets


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """Drop ``table`` AND its warehouse location. The default in-memory
    catalog forgets managed tables between sessions while their directories
    survive, so a plain overwrite hits LOCATION_ALREADY_EXISTS; a real
    deployment's persistent metastore / lakehouse catalog makes this a
    no-op.

    If the table is still in the catalog, its actual location comes from
    the catalog (authoritative — handles schema-qualified names and custom
    locations). Otherwise the path is constructed from the parsed name
    the way the session catalog lays out managed tables:
    ``{warehouse}/tbl`` for unqualified names, ``{warehouse}/db.db/tbl``
    for ``db.tbl`` — never a blind ``split('.')[-1]``, which for a
    qualified name would miss the orphan AND could point at an unrelated
    same-named top-level directory."""
    parts = table.split(".")
    if len(parts) > 2:
        raise ValueError(f"expected 'tbl' or 'db.tbl', got {table!r}")
    location = None
    if spark.catalog.tableExists(table):
        info = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        # EXTERNAL tables: DROP TABLE deliberately preserves the data at the
        # custom location — deleting it here would destroy user data the
        # catalog never owned. Drop only the catalog entry and keep the
        # files (the subsequent managed write lands in the warehouse, a
        # different path; if it ever collides, failing loudly beats erasing).
        if (info.get("Type") or "").strip().upper() == "EXTERNAL":
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            return
        location = info.get("Location")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        rel = parts[-1] if len(parts) == 1 else f"{parts[0]}.db/{parts[1]}"
        location = f"{warehouse}/{rel}"
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(conf)
    if fs.exists(path):
        fs.delete(path, True)

def load_edges_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed edge table. Joins/aggregations keyed on ``src``
    consume the bucket layout without a shuffle (requires the default
    ``spark.sql.sources.bucketing.enabled=true``)."""
    return spark.table(table)
