"""Superstep driver loop: checkpointed, lineage-tracked, resumable iteration.

The reference's analogue is the per-pattern barrier loop
(core/Peregrine.hh:1320-1424): workers process a round, hit a barrier, the
driver advances. Our superstep = one Spark job over the vertex-state
DataFrame, checked or not: the materialization of the next state, which
also carries the convergence delta as an observed aggregate. This module
owns the round's whole lifecycle: ``vertex_program`` sets up and tears
down the adjacency a program reads and pins its conf, and
``SuperstepEngine.run`` drives the loop (setting no session conf), so a
vertex program supplies only its ``step`` and ``delta`` kernels. It is the
package's only iteration loop: contraction CC and the ``kcore`` and
``ktruss`` peels run on it with :func:`edge_set_signature` as their delta,
one job per round, non-convergence logged and counted.

What the reference does NOT have — and the north rule demands — is fault
tolerance: every superstep persists

  * the full vertex state (parquet, atomic via Spark's _SUCCESS marker),
  * per-partition lineage (partition id, row count, order-insensitive
    checksum of the rows), and
  * convergence metrics (delta, wall seconds, rows)

to the checkpoint directory, so a killed job resumes mid-iteration from the
last complete superstep (``resume=True``). Writing state out each superstep
also truncates the logical plan — without it, iterative DataFrame loops grow
an exponentially deeper DAG and re-execute the whole history each action.

At 100 TB this directory would be an Iceberg table (snapshot per superstep);
in the sandbox it is Iceberg-shaped parquet + a JSONL metrics log.
"""

from __future__ import annotations

import json
import logging
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.session import conf_override, count_event, release_checkpoint

log = logging.getLogger(__name__)


ROWS_PER_CORE = 100_000
ROWS_TARGET = 2_000_000


def auto_shuffle_partitions(spark: SparkSession, n_rows: int) -> int:
    """Size the shuffle for an iterative job to its data, not the session
    default.

    Two regimes joined smoothly:
      * small inputs — at most one partition per ``ROWS_PER_CORE`` rows (a
        64-task shuffle over 1e5 rows pays 64 scheduling floors to move
        kilobytes; measured 2-4x superstep slowdown at SF=0.1), capped at
        the core count;
      * large inputs — one partition per ``ROWS_TARGET`` rows (~tens of MB),
        which exceeds the core count as soon as n_rows > cores *
        ROWS_TARGET and keeps every shuffle block spill-safe at 100 TB.

    The returned count is used consistently for the state repartition AND
    ``spark.sql.shuffle.partitions`` inside the superstep loop, so the
    per-iteration joins stay co-partitioned (zero-shuffle) whatever the
    session-level setting is.
    """
    cores = spark.sparkContext.defaultParallelism
    by_cores = min(cores, max(1, n_rows // ROWS_PER_CORE))
    return int(max(by_cores, n_rows // ROWS_TARGET, 1))


@contextmanager
def vertex_program(edges: DataFrame, n_partitions: int | None = None):
    """Set-up and tear-down of a vertex program over the canonical
    (src<dst) edge table: yields the symmetrized edges, repartitioned on
    ``src`` into ``n_partitions`` (default :func:`auto_shuffle_partitions`
    of the symmetrized edge count) and persisted. For the body,
    ``spark.sql.shuffle.partitions`` is pinned to the same count, so the
    per-superstep joins on the vertex key stay co-partitioned, and AQE is
    off. Unpersists the edges and restores the session conf on exit.

    The programs' step joins use this co-partitioning at every size: each
    carries a plan-local ``shuffle_hash`` hint, so a state small enough to
    broadcast is still hash-joined in place (no broadcast job, no sort)
    and a step shuffles once, for its aggregation.

    AQE would re-plan every superstep and submit each of its shuffle
    stages as a job (the ``pagerank3`` entry: 19 jobs instead of 13);
    skew is handled structurally instead (map-side partial aggregation,
    degree orientation). The peels run outside this block, on the
    session's AQE."""
    spark = edges.sparkSession
    n = n_partitions or auto_shuffle_partitions(spark, 2 * edges.count())
    sym = symmetrized(edges).repartition(n, "src").persist()
    pinned = {"spark.sql.shuffle.partitions": n, "spark.sql.adaptive.enabled": "false"}
    try:
        with conf_override(spark, pinned):
            yield sym
    finally:
        sym.unpersist()


def edge_set_signature(frame: DataFrame, i: int) -> Column:
    """Struct delta of an edge-set fixpoint: (row count, bit_xor of
    xxhash64(src, dst)), order-insensitive; the run converges on the first
    round whose edge set equals the previous round's."""
    return F.struct(
        F.count(F.lit(1)).alias("c"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    )


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _partition_lineage(state: DataFrame, key_cols: list[str]) -> list[dict]:
    """Per-partition (id, rows, checksum). Checksum = bit_xor of xxhash64
    over the row's columns — order-insensitive, overflow-free, one job."""
    agg = (
        state.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in key_cols])).alias("checksum"),
        )
        .collect()
    )
    return [
        {"partition": r["_pid"], "rows": r["rows"], "checksum": r["checksum"]}
        for r in sorted(agg, key=lambda r: r["_pid"])
    ]


def _check_resumable(ckpt: DataFrame, state0: DataFrame, path: Path) -> None:
    """A checkpoint resumes a run only if its column names and types are
    ``state0``'s; anything else (e.g. one written before a program's state
    gained a column) would fail later, inside a superstep, as an
    unresolved column."""

    def schema(df: DataFrame) -> str:
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)

    if schema(ckpt) != schema(state0):
        raise ValueError(
            f"cannot resume from {path}: its schema ({schema(ckpt)}) is not "
            f"the program's state schema ({schema(state0)}); restart the run "
            "from scratch"
        )


class SuperstepEngine:
    """Runs ``state_{i+1} = step(state_i, i)`` to convergence.

    ``step`` returns the next frame: the state's columns plus any extra
    ones that only ``delta`` reads (e.g. the previous value as ``old``).
    ``delta(frame, i)`` returns an aggregate Column over that frame: either
    a number (L1 change, changed-row count, ...) or a struct signature of
    the frame, whose delta is 0 when it equals the previous check's
    signature and 1 otherwise. Every ``check_every``-th superstep, and the
    last one, is a check step; a delta <= tol stops the run.

    Every superstep is one Spark job, checked or not: the frame is projected
    back to the state's columns and materialized — parquet when the engine
    has a checkpoint directory, ``localCheckpoint`` otherwise — and on a
    check step the delta aggregate rides that same job as an observed
    metric (``DataFrame.observe``), read once the job is done. The previous
    round's checkpoint is released right after. (The parquet path adds one
    job per step for the per-partition lineage it records.)

    A run with ``tol >= 0`` that uses up ``max_iters`` without converging
    logs a warning and is counted in ``session.nonconverged_runs``;
    fixed-step runs pass ``tol=-1``.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str = "run",
    ):
        self.spark = spark
        self.dir = Path(checkpoint_dir) if checkpoint_dir else None
        self.run_id = run_id

    # -- checkpoint layout -------------------------------------------------
    def _step_path(self, i: int) -> Path:
        return self.dir / self.run_id / f"step={i:05d}"

    def _metrics_path(self) -> Path:
        return self.dir / self.run_id / "metrics.jsonl"

    def _complete_steps(self) -> list[int]:
        if not self.dir or not (self.dir / self.run_id).exists():
            return []
        out = []
        for p in sorted((self.dir / self.run_id).glob("step=*")):
            if (p / "_SUCCESS").exists():
                out.append(int(p.name.split("=")[1]))
        return out

    def last_checkpoint(self) -> tuple[int, DataFrame] | None:
        steps = self._complete_steps()
        if not steps:
            return None
        i = steps[-1]
        return i, self.spark.read.parquet(str(self._step_path(i)))

    # -- main loop -----------------------------------------------------------
    def run(
        self,
        state0: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        delta: Callable[[DataFrame, int], Column],
        max_iters: int = 20,
        tol: float = 0.0,
        resume: bool = False,
        check_every: int = 1,
    ) -> SuperstepResult:
        """Drive the loop from ``state0`` (or, with ``resume=True``, from
        the last complete checkpoint, whose column names and types must
        equal ``state0``'s). Each superstep is one Spark job, check steps
        included: the delta is observed on the materialization. (With a
        checkpoint directory the lineage adds a second.)"""
        metrics: list[dict] = []
        start_iter = 0
        state = state0

        if resume and self.dir:
            ckpt = self.last_checkpoint()
            if ckpt:
                _check_resumable(ckpt[1], state0, self._step_path(ckpt[0]))
                start_iter = ckpt[0] + 1
                state = ckpt[1]
                if self._metrics_path().exists():
                    metrics = [
                        json.loads(l)
                        for l in self._metrics_path().read_text().splitlines()
                        if json.loads(l)["iteration"] <= ckpt[0]
                    ]
                    if metrics and metrics[-1].get("converged"):
                        return SuperstepResult(
                            state=state,
                            iterations=start_iter,
                            converged=True,
                            metrics=metrics,
                        )

        converged = False
        i = start_iter - 1
        cols = state.columns
        own_ckpt = None  # the engine's own live localCheckpoint, if any
        prev_sig = None  # the last check's signature, for struct deltas
        check_every = max(1, check_every)
        for i in range(start_iter, max_iters):
            t0 = time.monotonic()
            frame = step(state, i)
            checked = (i + 1) % check_every == 0 or i == max_iters - 1
            if checked:
                obs = Observation()
                frame = frame.observe(obs, delta(frame, i).alias("delta"))
            state = frame.select(*cols)
            if self.dir is not None:
                path = self._step_path(i)
                state.write.mode("overwrite").parquet(str(path))
                state = self.spark.read.parquet(str(path))
                lineage = _partition_lineage(state, cols)
            else:
                # plan-truncation without durability
                state = state.localCheckpoint()
                lineage = None
            # the new state is materialized (parquet or eager checkpoint):
            # the PREVIOUS round's engine-made checkpoint is dead weight
            # now; without this every superstep retains one state table in
            # executor storage for the life of the session
            if own_ckpt is not None:
                release_checkpoint(own_ckpt)
            own_ckpt = state if lineage is None else None

            d = None
            if checked:
                value = obs.get["delta"]
                if isinstance(value, Row):
                    d = 0.0 if value == prev_sig else 1.0
                    prev_sig = value
                else:
                    d = float(value or 0.0)  # a sum over no rows is null
            converged = bool(checked and d <= tol)
            m = {
                "run_id": self.run_id,
                "iteration": i,
                "delta": d,
                "seconds": time.monotonic() - t0,
                "rows": sum(p["rows"] for p in lineage) if lineage else None,
                "partitions": lineage,
                "converged": converged,
            }
            metrics.append(m)
            if self.dir:
                self._metrics_path().parent.mkdir(parents=True, exist_ok=True)
                with open(self._metrics_path(), "a") as f:
                    f.write(json.dumps(m) + "\n")
            if converged:
                break
        if not converged and tol >= 0:
            count_event("nonconverged_runs")
            log.warning(
                "superstep run %r did not converge in %d supersteps "
                "(last delta %s, tol %s)",
                self.run_id, max_iters, metrics[-1]["delta"] if metrics else None, tol,
            )
        return SuperstepResult(
            state=state, iterations=i + 1, converged=converged, metrics=metrics
        )
