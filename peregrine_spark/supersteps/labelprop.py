"""Label propagation (community detection) supersteps.

Synchronous LP: label_0(v) = v (or a seed column); label_{i+1}(v) = the
most frequent label among N(v), ties broken by SMALLEST label (deterministic
— required for exact oracle comparison and resume-replay idempotence).
Runs a fixed number of supersteps or until no label changes.

Physical plan per superstep: edges_sym ⋈ state on src (shuffle hash join
over the co-partitioned inputs) →
groupBy(dst, label).count (map-side partial) → per-dst argmax via a window
ordered (count desc, label asc). The window partitions by dst — same key as
the preceding shuffle, so Catalyst reuses the partitioning (no extra
shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    vertex_program,
)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_iters: int = 10,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """State: (v, label). ``seeds`` optional (v, label) initial assignment;
    default label_0(v) = v."""
    with vertex_program(edges, n_partitions) as sym:

        def step(state: DataFrame, i: int) -> DataFrame:
            freq = (
                sym.join(state.hint("shuffle_hash"), sym["src"] == F.col("v"))
                .groupBy(F.col("dst").alias("v2"), "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            w = Window.partitionBy("v2").orderBy(F.col("cnt").desc(), F.col("label").asc())
            best = (
                freq.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("v2", F.col("label").alias("new_label"))
            )
            return (
                state.withColumnRenamed("label", "old")
                .join(best.hint("shuffle_hash"), F.col("v") == F.col("v2"), "left")
                .select("v", F.coalesce("new_label", F.col("old")).alias("label"), "old")
            )

        def changed(frame: DataFrame, i: int) -> Column:
            return F.count_if(F.col("label") != F.col("old"))

        vs = sym.select(F.col("src").alias("v")).distinct()
        if seeds is None:
            state0 = vs.select("v", F.col("v").alias("label"))
        else:
            state0 = vs.join(seeds, "v", "left").select(
                "v", F.coalesce("label", F.col("v")).alias("label")
            )
        return (engine or SuperstepEngine(edges.sparkSession)).run(
            state0, step, changed,
            max_iters=max_iters, tol=0.0, resume=resume, check_every=check_every,
        )
