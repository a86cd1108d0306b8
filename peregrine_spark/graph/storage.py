"""Bucketed persistent storage: how a prepared canonical edge table is stored.

The reference converts a graph once to its binary CSR layout (ids.bin +
adjacency, core/DataConverter.cc) and every query thereafter reads that
layout directly. The Spark-native equivalent of "the adjacency is already
laid out for matching" is a BUCKETED table: the canonical ``(src < dst)``
edge table, written bucketed and sorted by ``dst``, then ``src``. Every
operator reads this one table; there is no second, pre-oriented layout.

``dst`` is the bucket key because it is the wedge join key:
``fast_counts.oriented`` is a plain column rename (``dst AS src``), which
Catalyst sees through, so the scan's HashPartitioning(dst, n) satisfies the
oriented wedge self-join of ``clique_rows`` and the public
``triangle_count`` / ``clique_count`` drop that join's shuffle (3
Exchanges instead of 6 for plain parquet, with AQE and auto-broadcast off;
``bench.py --bucketed``). On a lakehouse this role is played by the table
format's bucket/cluster spec (e.g. an Iceberg ``bucket(dst, N)`` partition
transform); Spark's ``bucketBy`` is the sandbox stand-in with identical
join semantics. Read the table back with ``spark.table(name)``.

Bucket-count choice mirrors :func:`auto_shuffle_partitions`: one bucket
per ~2M edges, floor 8 — big enough that a bucket fits in executor
memory, small enough that tiny graphs don't scatter into empty files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from peregrine_spark.supersteps.engine import auto_shuffle_partitions


def save_edges_bucketed(
    edges: DataFrame, table: str, n_buckets: int | None = None
) -> int:
    """Persist a canonical (src<dst) edge table bucketed by ``dst`` and
    sorted by (dst, src), replacing any table of that name.

    Returns the bucket count used. The table lands in the session
    warehouse (``spark.sql.warehouse.dir``) under ``table``.
    """
    spark = edges.sparkSession
    if n_buckets is None:
        n_buckets = max(8, auto_shuffle_partitions(spark, edges.count()))
    _drop_table_and_location(spark, table)
    (
        edges.write.mode("overwrite")
        .bucketBy(n_buckets, "dst")
        .sortBy("dst", "src")
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
