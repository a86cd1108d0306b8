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

The ingest plan (:func:`build_graph`) does each piece of work once, all
DataFrame ops in the JVM:

1. raw pairs: regex-extracted imports ∪ the co-commit chain
   (:func:`chain_pairs` over each commit's rows sorted by key — k files
   yield k-1 pairs, NOT a k-clique, so a mega-commit cannot explode
   quadratically), neither deduplicated: a file listed twice in one commit
   only chains to itself;
2. one dedup: :func:`edges_from_pairs` drops loops, orients, deduplicates;
3. one key aggregate: edge endpoints (weight 1) ∪ source rows (weight 0,
   lang) grouped by key give degree and language; degree-0 keys drop out;
4. one ranking, eager: :func:`assign_degree_ids` (:func:`contiguous_rank`
   — range partition + per-range offsets, never a single-partition sort);
5. one id join: :func:`join_ids`;
6. labels: the sorted languages reach the driver as an observed metric of
   step 4's first job and number the vertices from a literal array — no
   job of their own, no global Window.

The public :func:`import_edges` and :func:`co_commit_edges` still return
distinct loop-free pairs — each source's own answer to which pairs it
contributes — while ``build_graph`` reads their raw private forms and
leaves the only dedup to step 2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Window
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
        edge table, persisted so the eager degree ranking and the lazy id
        join share one materialization, and the ranking's checkpoint).
        Call once the edge / vertex tables have been materialized or
        written out."""
        for df in self._cached:
            if df is not None:
                release_checkpoint(df)


def _key() -> Column:
    return F.concat_ws(":", "repo", "path")


def _import_pairs(src_df: DataFrame) -> DataFrame:
    return src_df.select(
        _key().alias("a"),
        F.explode(
            F.regexp_extract_all(F.col("content"), F.lit(r"import ([^\n]+)"), 1)
        ).alias("b"),
    )


def chain_pairs(
    df: DataFrame, group_col: str, item_col: str, order_cols: list[str] | None = None
) -> DataFrame:
    """(a, b) pairs between consecutive items of each group, ordered by
    (item, *order_cols), not deduplicated. Capped fan-out by construction:
    a group of k rows yields k-1 pairs; the per-group sort is a partitioned
    window — no global sort."""
    order_by = [F.col(item_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(group_col).orderBy(*order_by)
    return df.select(
        F.col(item_col).alias("a"), F.lag(F.col(item_col)).over(w).alias("b")
    ).where(F.col("b").isNotNull())


def _co_commit_pairs(src_df: DataFrame) -> DataFrame:
    return chain_pairs(src_df.select("commit", _key().alias("key")), "commit", "key")


def _distinct_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.where(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])


def import_edges(src_df: DataFrame) -> DataFrame:
    """Distinct loop-free (key, other_key) pairs parsed from
    ``import <repo:path>`` lines."""
    return _distinct_pairs(_import_pairs(src_df))


def co_commit_edges(src_df: DataFrame) -> DataFrame:
    """Distinct chain pairs between consecutive paths (sorted by key) within
    a commit (:func:`chain_pairs`): one commit touching k files yields k-1
    pairs."""
    return _distinct_pairs(_co_commit_pairs(src_df))


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


def kcore(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """Edges of the k-core (maximal subgraph with min degree >= k) of a
    canonical (src<dst) edge table: drop vertices with degree < k, keep
    edges with both endpoints surviving, repeat to fixpoint.

    The Spark-first analogue of the reference DFS matcher's degree pruning
    (it never explores a vertex whose degree can't host the pattern): a
    handful of groupBy+semi-join rounds on a monotonically SHRINKING edge
    set, each one shuffle over the surviving edges only. Typical use:
    ``kcore(edges, kq - 1)`` is an EXACT reducer for kq-clique
    existence/counting — every kq-clique lives in the (kq-1)-core.

    The rounds run on :class:`~peregrine_spark.supersteps.engine.SuperstepEngine`,
    one Spark job each (the session's AQE, if on, submits that job's
    shuffle and broadcast stages as jobs of their own), to the first round
    whose edge set equals the previous one's
    (:func:`~peregrine_spark.supersteps.engine.edge_set_signature`); the
    first round has no previous one, so an input that is already its
    k-core takes two rounds. When ``max_iters`` rounds end short of the fixpoint, the result is the
    partial peel: a superset of the k-core, still containing every
    subgraph of minimum degree >= k. The engine logs and counts that run
    (``session.nonconverged_runs``); ``existence()`` runs it with
    ``max_iters=8`` as a reducer, where a superset is exact, so a partial
    peel there is reported, not silent."""
    from peregrine_spark.graph.from_tables import degrees
    from peregrine_spark.supersteps.engine import SuperstepEngine, edge_set_signature

    def survivors(cur: DataFrame, i: int) -> DataFrame:
        keep = degrees(cur).where(F.col("degree") >= k)
        return cur.join(keep.select(F.col("v").alias("src")), "src", "left_semi").join(
            keep.select(F.col("v").alias("dst")), "dst", "left_semi"
        )

    return SuperstepEngine(edges.sparkSession).run(
        edges, survivors, edge_set_signature, max_iters=max_iters
    ).state


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
    # offset of each range partition, as a literal array indexed by _pid:
    # no Python RDD behind it, and no join whose row estimate (a product of
    # both sides) would stop the ranking from being broadcast downstream
    offsets, acc = [], 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets.append(F.lit(acc))
        acc += counts.get(pid, 0)
    off = F.element_at(F.array(*offsets).cast("array<bigint>"), F.col("_pid") + 1)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        part.withColumn(rank_col, (off + F.row_number().over(w)).cast("long"))
        .drop("_pid")
        .localCheckpoint(eager=True)
    )
    release_checkpoint(part)
    return out


def assign_degree_ids(degrees: DataFrame) -> DataFrame:
    """(key, degree, …) rows with distinct keys of any type → the same rows
    with ``v`` in front: 1-based contiguous ids by degree descending, ties
    by key ascending. The one degree ranking, behind both
    :func:`build_graph` and ``from_tables.relabel_by_degree``.

    Eager: the ranking (:func:`contiguous_rank`) runs inside this call, so
    every lazy step feeding ``degrees`` executes here. The result carries
    ``ranking_cache``, the checkpoint to release
    (``release_checkpoint``) once its consumers are materialized.
    """
    ranked = contiguous_rank(
        degrees, [F.col("degree").desc(), F.col("key").asc()], "v"
    )
    out = ranked.select("v", *degrees.columns)
    out.ranking_cache = ranked
    return out


def join_ids(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """Key edges (src, dst) → canonical (src < dst) id edges, both
    endpoints mapped through ``ids`` (v, key): the one key → id join."""
    m = ids.select("key", "v")
    return (
        edges.join(m.toDF("src", "_sv"), "src")
        .join(m.toDF("dst", "_dv"), "dst")
        .select(
            F.least("_sv", "_dv").alias("src"), F.greatest("_sv", "_dv").alias("dst")
        )
    )


def convert_edge_list(
    spark, path: str, strict: bool = True
) -> tuple[DataFrame, DataFrame]:
    """One-call parity with the reference converter's TEXT input
    (``convert_data`` on a plain edge list, core/DataConverter.cc:205-464):
    whitespace-separated ``u v`` integer lines (``#`` lines are comments)
    → self-loops and duplicate edges dropped, vertices renumbered 1-based
    contiguous by DESCENDING degree (degree-0 vertices vanish — they have
    no edge rows), id dictionary kept.

    Returns (edges, mapping): canonical (src<dst) relabelled edges and the
    (v, old, degree) dictionary — ``mapping.select("v", col("old")
    .alias("key"))`` feeds ``operators.match.output``'s original-id remap,
    the ids.bin role. Spark-first: a distributed text scan + regexp split
    (one job, any file size), ranking via the two-pass distributed
    ``contiguous_rank`` — where the reference mmaps and multi-threads one
    file, the scan here is already partitioned."""
    lines = spark.read.text(path).select(F.trim(F.col("value")).alias("value"))
    # trim BEFORE the comment check so indented comment lines are comments,
    # not accidental parse failures; blank lines are never edges
    lines = lines.where((F.col("value") != "") & ~F.col("value").startswith("#"))
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


def build_graph(src_df: DataFrame) -> GraphTables:
    """Full ingest: source-repo rows → GraphTables (the plan is laid out in
    the module docstring)."""
    pairs = _import_pairs(src_df).union(_co_commit_pairs(src_df))
    # persisted: the eager ranking reads it for degrees, the id join again
    key_edges = edges_from_pairs(pairs).persist()

    ends = key_edges.select(
        F.explode(F.array("src", "dst")).alias("key"),
        F.lit(1).alias("w"),
        F.lit(None).cast("string").alias("lang"),
    )
    # the sorted languages ride along the ranking's first job as an
    # observed metric: the label dictionary needs no job of its own
    seen = Observation()
    rows = src_df.select(_key().alias("key"), F.lit(0).alias("w"), "lang").observe(
        seen, F.array_sort(F.collect_set("lang")).alias("langs")
    )
    keys = (
        ends.union(rows)
        .groupBy("key")
        .agg(F.sum("w").alias("degree"), F.min("lang").alias("lang"))
        .where(F.col("degree") > 0)
    )
    ranked = assign_degree_ids(keys)

    langs = seen.get["langs"]
    lang_of = F.array(*map(F.lit, langs)).cast("array<string>")
    return GraphTables(
        vertices=ranked.select(
            "v",
            "key",
            F.coalesce(F.array_position(lang_of, F.col("lang")), F.lit(0)).alias("label"),
            "degree",
        ),
        edges=join_ids(key_edges, ranked),
        labels=src_df.sparkSession.range(1, len(langs) + 1).select(
            F.col("id").alias("label"),
            F.element_at(lang_of, F.col("id").cast("int")).alias("lang"),
        ),
        _cached=(key_edges, ranked.ranking_cache),
    )
