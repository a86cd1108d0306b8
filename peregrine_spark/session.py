"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; the same configuration is what we'd
ship to a real cluster via ``spark-submit --py-files`` (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import logging
import os
import threading
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# Whole-stage codegen classes the JVM keeps. The cache has 4 LRU segments,
# so eviction starts near a quarter of this; one perfbench `queries` pass
# compiles about 180 distinct classes.
CODEGEN_CACHE_ENTRIES = 1000

# Logged and counted in this process, not raised: release_checkpoint calls
# that failed (``session.release_failures``) and superstep runs that used up
# ``max_iters`` short of their tolerance (``session.nonconverged_runs``)
release_failures = 0
nonconverged_runs = 0
_counters_lock = threading.Lock()


def count_event(counter: str) -> None:
    """Add 1 to the module counter named ``counter`` (thread-safe)."""
    with _counters_lock:
        globals()[counter] += 1


def get_spark(
    app_name: str = "peregrine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, AQE enabled (runtime
    coalescing + skew-join splitting — the Spark-native replacement for the
    reference's MPI work stealing), Arrow enabled for all pandas-UDF kernels,
    UTC timezone (DuckDB-oracle comparability), and whole-stage codegen set
    up to compile each generated class once per JVM:

    * a 1000-entry codegen cache (``spark.sql.codegen.cache.maxEntries``):
      Spark's default of 100 is smaller than one pass of the engine's query
      plans, so a repeated query compiled its classes again;
    * no stage id in generated class names
      (``spark.sql.codegen.useIdInClassName=false``): the cache is keyed on
      the code, and AQE numbers a plan's codegen stages in the order its
      concurrent query stages finish, so with the id in the name the same
      pipeline compiled again under each stage number it was given.

    The codegen cache is a JVM-wide static whose size is fixed at the
    JVM's first compile: a session built after that, with this value or an
    ``extra_conf`` one, does not resize it. Under ``spark-submit`` the
    driver JVM is already running when this is called, so the value has to
    come from ``--conf spark.sql.codegen.cache.maxEntries=1000``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # under spark-submit the Python driver attaches to an existing JVM
    # gateway whose master (--master local-cluster[...]/yarn/k8s) is already
    # fixed — never override it with a local default
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None and not submitted:
        # (submitted jobs keep whatever --conf spark-submit carried)
        try:
            n = int(master.split("[")[1].rstrip("]*")) if master and "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(2 * n, 32) if n else 32

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation counter: one per codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def thread_target(spark: SparkSession, fn):
    """``fn`` wrapped for a driver worker thread so that its jobs carry the
    caller's Spark local properties (job group, description, scheduler
    pool) and session tags, as they are when this is called. Without
    PySpark's pinned-thread mode (``PYSPARK_PIN_THREAD=false``) Python
    threads share JVM threads, so no property can be handed to one; ``fn``
    is then returned as it is."""
    wrap = inheritable_thread_target(spark)
    # off pinned-thread mode, inheritable_thread_target returns its argument
    return fn if wrap is spark else wrap(fn)


@contextmanager
def conf_override(spark: SparkSession, conf: dict):
    """Set session conf keys for the body of a ``with`` block and restore
    them on exit, on error too. A key the session had not set is unset
    again rather than pinned to its default."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def release_checkpoint(df) -> None:
    """Release the executor storage behind ``df``, whether it is plan-cached
    (``persist``) or eagerly ``localCheckpoint``-ed.

    ``DataFrame.unpersist()`` only uncaches PLAN-cached data. A
    localCheckpoint stores its blocks on the RDD inside the plan's
    ``LogicalRDD`` leaf, which the cache manager never sees — measured on
    Spark 4.1: after ``df.localCheckpoint(eager=True).unpersist()`` the RDD
    still sits in ``sc.getPersistentRDDs`` until the session dies. Every
    iterative operator here runs on the superstep engine (the vertex
    programs, contraction CC and the kcore and ktruss peels), which
    checkpoints per round and releases the previous round here; a silent
    no-op release would accumulate one state-table of blocks PER ROUND for
    the life of the session — at 100 TB that is the difference between
    bounded and unbounded executor storage. ``contiguous_rank`` and the
    ingest release their checkpoints here too.

    Does nothing if the plan shape is not a direct checkpoint (nothing to
    release). A failing plan lookup or release (e.g. the py4j internals
    move) does not raise, but is logged as a warning naming the exception
    and counted in ``release_failures``.
    """
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as exc:
        count_event("release_failures")
        log.warning("release_checkpoint: could not release checkpoint blocks: %r", exc)


def literal_table(spark: SparkSession, names: list[str], rows) -> DataFrame:
    """A small table of integers (``None`` → NULL), every column BIGINT,
    built in the JVM from one SQL ``VALUES`` literal: a LocalRelation the
    optimizer can broadcast, with no Python RDD and no Python worker behind
    it (``createDataFrame(list)`` runs through both)."""
    cols = ", ".join(f"CAST({n} AS BIGINT) AS {n}" for n in names)
    alias = f"t({', '.join(names)})"
    rows = list(rows)
    if not rows:
        nulls = ", ".join("NULL" for _ in names)
        return spark.sql(f"SELECT {cols} FROM VALUES ({nulls}) AS {alias} WHERE false")
    vals = ", ".join(
        "(" + ", ".join("NULL" if x is None else str(int(x)) for x in r) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {vals} AS {alias}")
