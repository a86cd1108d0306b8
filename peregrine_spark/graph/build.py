"""Graph ingest: source-repo table → canonical edge table + vertex dictionary.

Semantic parity with the reference's converter (core/DataConverter.cc):
  * drop self-loops and duplicate edges   (DataConverter.cc:112-119, 349-359)
  * drop degree-0 vertices                (DataConverter.cc:290-293)
  * renumber vertices 1-based, contiguous, by DESCENDING degree
                                          (DataConverter.cc:283-304)
  * keep an id↔key dictionary             (ids.bin, DataGraph.cc:128-143)

The degree-descending renumbering is load-bearing: symmetry-breaking
predicates are ``id(u) < id(v)`` comparisons, so putting hubs at small ids
makes range pruning shear off hub work early — and it tells us exactly which
ids to salt for shuffle skew (the smallest ones).

Spark-first HOW: everything is DataFrame ops — regexp extraction for import
edges, a window-lag chain for co-commit edges (capped fan-out: a commit with
k files contributes k-1 chain edges, NOT a k-clique — at 10^12 files a mega-
commit must not explode quadratically), groupBy for degrees. Contiguous rank
assignment is :func:`contiguous_rank`: range repartition + per-partition
offsets + a window PARTITIONED by range id — the two-pass distributed idiom,
all JVM-side, never a single-partition global Window sort.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from peregrine_spark.session import release_checkpoint


@dataclass
class GraphTables:
    """The engine's data-graph representation.

    vertices: (v: long, key: string, label: long, degree: long) — v is
        1-based contiguous, degree-descending (ties broken by key).
    edges: (src: long, dst: long) — canonical (src < dst), deduped,
        loop-free. Symmetrize with :func:`symmetrized` when both
        directions are needed.
    labels: (label: long, lang: string) — label dictionary.
    """

    vertices: DataFrame
    edges: DataFrame
    labels: DataFrame
    _cached: tuple = ()

    @property
    def id_dict(self) -> DataFrame:
        return self.vertices.select("v", "key")

    def unpersist(self) -> None:
        """Release intermediate caches held by the ingest (the string-key
        edge table is persisted so the eager degree-ranking pass and the
        lazy id-join pass share one materialization). Call once the edge /
        vertex tables have been materialized or written out."""
        for df in self._cached:
            if df is not None:
                release_checkpoint(df)


def import_edges(src_df: DataFrame) -> DataFrame:
    """(key, other_key) pairs parsed from ``import <repo:path>`` lines."""
    key = F.concat_ws(":", "repo", "path")
    return (
        src_df.select(
            key.alias("a"),
            F.explode(
                F.regexp_extract_all(F.col("content"), F.lit(r"import ([^\n]+)"), 1)
            ).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def co_commit_edges(src_df: DataFrame) -> DataFrame:
    """Chain edges between consecutive paths (sorted by key) within a commit.

    Capped fan-out by construction: one commit touching k files yields k-1
    edges. The per-commit sort is a partitioned window — no global sort.
    """
    key = F.concat_ws(":", "repo", "path")
    per_commit = src_df.select(F.col("commit"), key.alias("a")).dropDuplicates(
        ["commit", "a"]
    )
    w = Window.partitionBy("commit").orderBy("a")
    return (
        per_commit.withColumn("b", F.lag("a").over(w))
        .where(F.col("b").isNotNull())
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def edges_from_pairs(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Undirected canonicalization of arbitrary pair rows: drop loops,
    orient (least, greatest), dedupe. Works for string or numeric keys."""
    return (
        pairs.where(F.col(a) != F.col(b))
        .select(
            F.least(F.col(a), F.col(b)).alias("src"),
            F.greatest(F.col(a), F.col(b)).alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Canonicalize an integer edge table to (src < dst), deduped, loop-free."""
    return edges_from_pairs(edges, "src", "dst")


def symmetrized(edges: DataFrame) -> DataFrame:
    """Both directions of a canonical edge table (the reference's CSR stores
    both directions too — DataGraph adjacency is undirected)."""
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def peel(edges: DataFrame, survivors, max_iters: int) -> tuple[DataFrame, bool]:
    """Iterate ``survivors`` (a function from the current edge table to the
    rows that survive one round) to its fixpoint; returns (edges,
    converged). The one peel loop behind :func:`kcore` and
    :func:`peregrine_spark.operators.triangles.ktruss`.

    Peels only shrink the edge set, so fixpoint is detected by count
    equality. Every round eagerly ``localCheckpoint``s the survivors: the
    logical plan must be TRUNCATED, not just cached (a persist keeps the
    lineage growing and Catalyst re-analysis goes superlinear after tens of
    rounds). Only the latest checkpoint stays alive: each round releases
    the previous one (``release_checkpoint``, not ``unpersist``: checkpoint
    blocks live on the LogicalRDD, which ``DataFrame.unpersist`` misses).
    ``converged`` is False when ``max_iters`` rounds end short of the
    fixpoint with edges left."""
    cur = edges.localCheckpoint(eager=True)
    n = cur.count()
    for _ in range(max_iters):
        if n == 0:
            break
        nxt = survivors(cur).localCheckpoint(eager=True)
        m = nxt.count()
        release_checkpoint(cur)
        cur = nxt
        if m == n:
            return cur, True
        n = m
    return cur, n == 0


def kcore(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """Edges of the k-core (maximal subgraph with min degree >= k) of a
    canonical (src<dst) edge table — iterative :func:`peel`: drop vertices
    with degree < k, keep edges with both endpoints surviving, repeat to
    fixpoint.

    The Spark-first analogue of the reference DFS matcher's degree pruning
    (it never explores a vertex whose degree can't host the pattern): a
    handful of groupBy+semi-join rounds on a monotonically SHRINKING edge
    set, each one shuffle over the surviving edges only. Typical use:
    ``kcore(edges, kq - 1)`` is an EXACT reducer for kq-clique
    existence/counting — every kq-clique lives in the (kq-1)-core.

    When ``max_iters`` rounds end short of the fixpoint, the result is the
    partial peel: a superset of the k-core, still containing every
    subgraph of minimum degree >= k. This is deliberate: ``existence()``
    runs it with ``max_iters=8`` as a reducer, where a superset is exact."""
    from peregrine_spark.graph.from_tables import degrees

    def survivors(cur: DataFrame) -> DataFrame:
        keep = degrees(cur).where(F.col("degree") >= k)
        return (
            cur.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )

    return peel(edges, survivors, max_iters)[0]


def contiguous_rank(
    df: DataFrame, order_cols: list, rank_col: str = "_rank"
) -> DataFrame:
    """Append a 1-based contiguous global rank by ``order_cols`` without a
    single-partition sort and without leaving the JVM.

    The distributed two-pass idiom (reference analogue: the converter's
    renumbering, core/DataConverter.cc:283-304): range-repartition by the
    sort key (materialized once so partition ids are stable), count rows per
    range partition (a tiny collect — one row per partition), then
    rank = partition offset + intra-partition row_number. The window is
    PARTITIONED by the range-partition id, so each window group is one
    balanced range — never the whole table. All stages are JVM-side; no
    Python RDD round-trip.

    The ranked result is eagerly checkpointed so the intermediate
    range-partitioned blocks can be released immediately (otherwise they
    linger in executor storage for the caller's whole lifetime) — and so
    downstream consumers that read the ranking more than once (ingest joins
    it twice) don't recompute it.

    ``order_cols`` must define a strict total order (no duplicate sort keys)
    for the rank to be deterministic.
    """
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 8)
    part = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # freeze partition boundaries for both passes
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_pid", "_off")
        .localCheckpoint(eager=True)
    )
    release_checkpoint(part)
    return out


def assign_degree_ids(key_edges: DataFrame) -> DataFrame:
    """(key_src, key_dst) canonical string-key edges → vertex dictionary
    (v, key, degree) with v = 1-based contiguous, degree-descending, ties by
    key ascending. Degree-0 keys never appear (they have no edge rows) —
    mirroring the reference's deletion of degree-0 vertices.

    Implementation: degree via groupBy-count over the symmetrized view, then
    global ordering via :func:`contiguous_rank` (range partition + per-range
    offsets — two linear passes, no single-task sort, no Python RDD).
    """
    both = key_edges.select(F.col("src").alias("key")).union(
        key_edges.select(F.col("dst").alias("key"))
    )
    degrees = both.groupBy("key").agg(F.count("*").alias("degree"))
    ranked = contiguous_rank(
        degrees, [F.col("degree").desc(), F.col("key").asc()], "v"
    )
    out = ranked.select(F.col("v"), "key", "degree")
    # handle to the checkpointed ranking blocks, so callers can release
    # executor storage once vertices/edges are materialized (build_graph
    # routes it into GraphTables._cached; see GraphTables.unpersist)
    out.ranking_cache = ranked
    return out


def convert_edge_list(
    spark, path: str, comment: str = "#", strict: bool = True
) -> tuple[DataFrame, DataFrame]:
    """One-call parity with the reference converter's TEXT input
    (``convert_data`` on a plain edge list, core/DataConverter.cc:205-464):
    whitespace-separated ``u v`` integer lines → self-loops and duplicate
    edges dropped, vertices renumbered 1-based contiguous by DESCENDING
    degree (degree-0 vertices vanish — they have no edge rows), id
    dictionary kept.

    Returns (edges, mapping): canonical (src<dst) relabelled edges and the
    (v, old, degree) dictionary — ``mapping.select("v", col("old")
    .alias("key"))`` feeds ``operators.match.output``'s original-id remap,
    the ids.bin role. Spark-first: a distributed text scan + regexp split
    (one job, any file size), ranking via the two-pass distributed
    ``contiguous_rank`` — where the reference mmaps and multi-threads one
    file, the scan here is already partitioned."""
    from pyspark.sql import functions as F  # noqa: F811 (local for clarity)

    lines = spark.read.text(path).select(F.trim(F.col("value")).alias("value"))
    # trim BEFORE the comment check so indented comment lines are comments,
    # not accidental parse failures; blank lines are never edges
    lines = lines.where(F.col("value") != "")
    if comment:
        lines = lines.where(~F.col("value").startswith(comment))
    parts = F.split(F.col("value"), r"\s+")
    # try_cast: non-integer tokens become NULL (counted below) instead of
    # an opaque ANSI-mode CAST_INVALID_INPUT executor crash
    cast = lines.select(
        "value",
        parts.getItem(0).try_cast("long").alias("a"),
        parts.getItem(1).try_cast("long").alias("b"),
    )
    if strict:
        # the reference converter parses strictly (core/DataConverter.cc:
        # 205-464 aborts on garbage); a silently smaller graph is worse
        # than a failed ingest, so surface malformed lines instead of
        # letting the null cast drop them
        bad = cast.where(F.col("a").isNull() | F.col("b").isNull())
        n_bad = bad.count()
        if n_bad:
            sample = [r["value"] for r in bad.limit(3).collect()]
            raise ValueError(
                f"convert_edge_list: {n_bad} malformed line(s) in {path} "
                f"(not two integer tokens), e.g. {sample!r}; pass "
                f"strict=False to drop them"
            )
    pairs = cast.select("a", "b").where(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    from peregrine_spark.graph.from_tables import relabel_by_degree

    return relabel_by_degree(edges_from_pairs(pairs))


def build_graph(src_df: DataFrame, include_co_commit: bool = True) -> GraphTables:
    """Full ingest: source-repo rows → GraphTables."""
    imp = import_edges(src_df)
    pairs = imp.union(co_commit_edges(src_df)) if include_co_commit else imp
    # persisted: assign_degree_ids materializes it eagerly (degree ranking),
    # and the final id-join below reads it again — without the persist the
    # whole regex-extract + dedup pipeline runs twice (measured ~2x ingest)
    key_edges = edges_from_pairs(pairs).persist()

    vmap = assign_degree_ids(key_edges)

    # lang per key (deterministic in our generator; FIRST by key otherwise)
    key = F.concat_ws(":", "repo", "path")
    key_lang = (
        src_df.select(key.alias("key"), "lang")
        .groupBy("key")
        .agg(F.min("lang").alias("lang"))
    )
    langs = (
        key_lang.select("lang")
        .distinct()
        .orderBy("lang")
        .withColumn("label", F.row_number().over(Window.orderBy("lang")).cast("long"))
    )
    vertices = (
        vmap.join(key_lang, "key", "left")
        .join(F.broadcast(langs), "lang", "left")
        .select("v", "key", F.coalesce("label", F.lit(0)).alias("label"), "degree")
    )

    v_of = vmap.select("v", "key")
    edges = (
        key_edges.join(v_of.withColumnRenamed("key", "src").withColumnRenamed("v", "sv"), "src")
        .join(v_of.withColumnRenamed("key", "dst").withColumnRenamed("v", "dv"), "dst")
        .select(
            F.least("sv", "dv").alias("src"), F.greatest("sv", "dv").alias("dst")
        )
    )
    return GraphTables(
        vertices=vertices,
        edges=edges,
        labels=langs.select("label", "lang"),
        # key_edges: the persisted string-key edge table; vmap.ranking_cache:
        # the degree-ranking's checkpoint blocks (contiguous_rank) — both
        # released together by GraphTables.unpersist() once the edge/vertex
        # tables are materialized
        _cached=(key_edges, vmap.ranking_cache),
    )
