"""Derive edge tables from generic relational tables (co-occurrence graphs).

The engine's upstream is any table with a (group, item) shape — files per
commit, parts per order, docs per source. Two derivations:

* ``chain_edges`` — consecutive items within a group (sorted by a
  deterministic total order) become edges: a group touching k items yields
  k-1 edges. This is the scale-safe derivation (``graph.build.chain_pairs``,
  the ingest's co-commit chain too): a mega-group contributes O(k) edges,
  never O(k^2), so no single group can blow up the shuffle at 10^12 rows.
* ``pair_edges`` — all pairs within a group (k*(k-1)/2 edges). Only safe
  when group sizes are bounded; provided for completeness with an explicit
  ``max_group_size`` guard that *drops* oversized groups rather than
  exploding (the cap is the moral equivalent of the reference rejecting
  inputs that don't fit its memory model, core/DataConverter.cc:52-67).

``relabel_by_degree`` reassigns 1-based contiguous ids by descending degree
(ties by old id ascending) — the reference's load-bearing renumbering
(core/DataConverter.cc:283-304) that makes symmetry-break range pruning and
degree-based edge orientation cheap. It shares the ingest's ranking and id
join (``graph.build.assign_degree_ids`` — the distributed two-pass
``contiguous_rank``, for arbitrarily large vertex sets — and
``graph.build.join_ids``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.build import (
    assign_degree_ids,
    chain_pairs,
    edges_from_pairs,
    join_ids,
    symmetrized,
)


def chain_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Canonical (src<dst) edges between consecutive items of each group.

    Ordering within the group is (item, *order_cols) — a total order as long
    as the rows are distinct on those columns, making the derivation
    deterministic (required for the DuckDB oracle to reproduce it).
    """
    return edges_from_pairs(chain_pairs(df, group_col, item_col, order_cols))


def pair_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int = 256,
) -> DataFrame:
    """Canonical edges between ALL item pairs of each group (bounded).

    Groups larger than ``max_group_size`` are dropped entirely (explicit
    skew guard — at web scale one mega-group must not produce O(k^2) rows).
    """
    items = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("a")).dropDuplicates()
    sizes = items.groupBy("g").agg(F.count(F.lit(1)).alias("_n"))
    bounded = items.join(
        sizes.where(F.col("_n") <= max_group_size).select("g"), "g"
    )
    other = bounded.select("g", F.col("a").alias("b"))
    pairs = bounded.join(other, "g").where(F.col("a") < F.col("b")).select("a", "b")
    return edges_from_pairs(pairs)


def degrees(edges: DataFrame) -> DataFrame:
    """(v, degree) over the canonical edge table."""
    return (
        symmetrized(edges)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def relabel_by_degree(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Relabel vertices 1..|V| by (degree desc, old id asc).

    Returns (relabelled canonical edges, mapping (v, old, degree)). The
    mapping carries ``ranking_cache``, the ranking's checkpoint: long-lived
    sessions release it with ``release_checkpoint(mapping.ranking_cache)``
    once the relabelled edges / mapping have been materialized.
    """
    ranked = assign_degree_ids(degrees(edges).withColumnRenamed("v", "key"))
    mapping = ranked.select("v", F.col("key").alias("old"), "degree")
    mapping.ranking_cache = ranked.ranking_cache
    return join_ids(edges, ranked), mapping
