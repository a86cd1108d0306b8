"""Benchmark harness — headline queries of the link-graph engine.

Per BASELINE.md the authoritative metric is **edges processed per second
per superstep** for PageRank and triangle counting over the synthetic
source-repo edge table at SF=0.1, plus scaling efficiency >= 0.8 from N to
4N cores (the sandbox stand-in for two cluster sizes).

Default run (what the driver invokes):
    python bench.py [--reps N]
      -> one JSON line {"metric", "value" (total sec), "unit": "sec",
         "queries": {name: sec}, "sf", plus edges/sec detail fields}.
         Superstep throughput is steady-state: the first superstep (which
         materializes the cached symmetrized edge table) is excluded,
         mirroring how a long-running production job amortizes it.
         Every measured query runs ``--reps`` times (default 3), then keeps
         appending reps while the running min still improves >= 5% on the
         last rep (cap 10) and reports the per-query MIN; per-rep arrays
         land in "rep_times" and plateau status in "rep_converged" /
         "converged". Single-run timings on a shared host swing up to 9x
         with interference (the BENCH_r03 adjudication; BENCH_r04's fixed
         3 reps never converged), so adaptive min-over-reps is the
         default, not an opt-in — each rep builds FRESH DataFrames (a reused instance lets
         Spark skip already-computed shuffle map stages and fakes the
         timing; only the materialized edge table is intentionally shared,
         the way production queries share the lakehouse table).

Other modes, one at a time: --bucketed, --patterns, --fsm. --skewed and
--shuffle reach every mode; --fsm refuses --skewed (no vertex labels).

Scaling evidence (writes the numbers quoted in BENCH/BASELINE.md):
    python bench.py --scaling [--skewed|--patterns] [--n 2] [--scale-sf 1.0]
      Runs the identical job in fresh subprocesses at N and 4N cores on the
      same (larger) input — at SF=0.1 the per-superstep work is smaller
      than Spark's per-stage scheduling floor on ANY core count, so the
      scaling experiment uses a bigger SF of the same deterministic
      generator to make compute dominate (same job, same code path). Each
      side builds that input in its own JVM, both pin the operators'
      partition counts, and T_N / (4 T_4N) compares the sides' adaptive
      min-over-reps times.

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — its
suffix sets the SF of the synthetic source-repo table (no external data;
generated by pure column expressions, tables.py); SPARK_GRAFT_CPUS caps
cores.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from peregrine_spark.graph.build import build_graph  # noqa: E402
from peregrine_spark.graph.storage import save_edges_bucketed  # noqa: E402
from peregrine_spark.operators.fsm import fsm  # noqa: E402
from peregrine_spark.operators.match import match  # noqa: E402
from peregrine_spark.operators.triangles import triangle_count  # noqa: E402
from peregrine_spark.patterns.small_graph import PatternGenerator  # noqa: E402
from peregrine_spark.session import get_spark  # noqa: E402
from peregrine_spark.supersteps.components import connected_components  # noqa: E402
from peregrine_spark.supersteps.pagerank import pagerank  # noqa: E402
from peregrine_spark.tables import powerlaw_edges, source_repo_table, with_sha256  # noqa: E402

SKEWED = "skewed (power-law hub) "


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _steady(metrics: list[dict]) -> float:
    """Mean per-superstep seconds excluding the warm-up first superstep
    (cached-structure materialization) and the final one (it carries the
    convergence-check pass when check_every batches them)."""
    secs = [m["seconds"] for m in metrics]
    if len(secs) >= 3:
        secs = secs[1:-1]
    elif len(secs) == 2:
        secs = secs[1:]
    return sum(secs) / len(secs)


class Timings:
    """Rep timings of one bench run, per query name: the min wall
    (``queries``), every rep's wall (``rep_times``) and whether the min
    plateaued before the rep cap (``rep_converged``)."""

    def __init__(self) -> None:
        self.queries, self.rep_times, self.rep_converged = {}, {}, {}

    def measure(self, name: str, fn, reps: int, max_reps: int = 10):
        """Run ``fn`` (a FRESH plan per call, see the module docstring)
        ``reps`` times, then append reps while the running min still
        improves >= 5% on the last one, up to ``max_reps`` (``max_reps <=
        reps`` keeps the count fixed, and settled). Returns the fastest
        rep's result and every rep's result."""

        def improving() -> bool:
            return len(walls) < 2 or walls[-1] < 0.95 * min(walls[:-1])

        walls, results = [], []
        while len(walls) < max(1, reps) or (len(walls) < max_reps and improving()):
            t0 = time.monotonic()
            results.append(fn())
            walls.append(time.monotonic() - t0)
        self.rep_times[name] = [round(w, 3) for w in walls]
        self.rep_converged[name] = max_reps <= reps or not improving()
        self.queries[name] = min(walls)
        return results[walls.index(min(walls))], results


class Bench:
    """One bench run: the session, the input every mode measures on (its
    datagen and ingest seconds in ``build_times``) and the rep timings."""

    def __init__(self, args) -> None:
        """The prelude of every mode. An explicit ``--shuffle`` pins the
        session shuffle partitions (default: 2 per core, at least 8). The
        edge table, and for --fsm the labelled vertex table (else None), are
        materialized once by an eager ``localCheckpoint``, which cuts the
        ingest lineage: no rep re-plans the ingest, and its caches are
        released here."""
        self.args, self.timings, self.build_times = args, Timings(), {}
        cores = args.cores
        spark = self.spark = get_spark(
            app_name=f"peregrine_bench_{cores or 'env'}",
            master=f"local[{cores}]" if cores else None,
            shuffle_partitions=args.shuffle or (max(2 * cores, 8) if cores else None),
        )
        t0 = time.monotonic()
        if args.skewed:
            # adversarial hub-skew input (sf -> millions of log-uniform samples
            # over 1e5 vertices; hub degree ~ samples/ln(1e5))
            edges = powerlaw_edges(spark, int(args.sf * 1_000_000), 100_000)
            self.edges, self.vertices = edges.localCheckpoint(eager=True), None
        else:
            # persisted: build_graph scans the source table multiple times
            # (import regexes, co-commit chains, lang dictionary)
            src = with_sha256(source_repo_table(spark, sf=args.sf)).persist()
            src.count()
            self.build_times["datagen"] = time.monotonic() - t0
            t0 = time.monotonic()
            g = build_graph(src)
            self.edges = g.edges.localCheckpoint(eager=True)
            vertices = g.vertices.select("v", "label")
            self.vertices = vertices.localCheckpoint(eager=True) if args.fsm else None
            g.unpersist()
            src.unpersist()
        self.n_edges = self.edges.count()
        self.build_times["ingest"] = time.monotonic() - t0

    def report(self, metric: str, **extra) -> dict:
        """The final JSON line's fields every mode shares, then ``extra``,
        which may override ``value`` (default: the summed min seconds) and
        ``unit``."""
        args, t = self.args, self.timings
        return {
            "metric": (SKEWED if args.skewed else "") + metric,
            "value": round(sum(t.queries.values()), 3),
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in t.queries.items()},
            "sf": args.sf,
            "cores": self.spark.sparkContext.defaultParallelism,
            "n_edges": self.n_edges,
            "reps": args.reps,
            "rep_times": t.rep_times,
            "rep_converged": t.rep_converged,
            # every query's min plateaued before the adaptive-rep cap; False
            # means the artifact may still under-report throughput
            "converged": all(t.rep_converged.values()),
            **extra,
        }


def run_suite(b: Bench) -> dict:
    """PageRank, triangle count and connected components; the input's
    datagen and ingest seconds count towards ``value``. An
    explicit ``--shuffle`` also pins the superstep operators' internal
    partition counts (identical data layout at N and 4N cores; only
    parallelism differs); without it they auto-size to the data
    (auto_shuffle_partitions)."""
    pin, reps, edges, timings = b.args.shuffle, b.args.reps, b.edges, b.timings
    timings.queries.update(b.build_times)
    detail: dict[str, float] = {}

    pr_iters = 5
    _, runs = timings.measure(
        "pagerank",
        lambda: pagerank(edges, max_iters=pr_iters, tol=-1.0,
                         check_every=pr_iters, n_partitions=pin),
        reps,
    )
    steady = min(_steady(r.metrics) for r in runs)
    detail["pagerank_sec_per_superstep"] = steady
    detail["pagerank_edges_per_sec_per_superstep"] = 2 * b.n_edges / steady

    triangle_count(edges).collect()  # warm (materializes AQE stats path)
    best_tri, _ = timings.measure(
        "triangle_count",
        lambda: triangle_count(edges).collect()[0]["triangles"],
        max(reps, 5),  # cheap query: more reps, same budget
    )
    detail["triangle_edges_per_sec"] = b.n_edges / timings.queries["triangle_count"]
    detail["triangles"] = best_tri

    best_cc, runs = timings.measure(
        "connected_components",
        lambda: connected_components(edges, max_iters=64, check_every=2,
                                     n_partitions=pin),
        reps,
    )
    detail["cc_sec_per_superstep"] = min(_steady(r.metrics) for r in runs)
    detail["cc_iterations"] = best_cc.iterations

    return b.report(
        ("" if b.args.skewed else "headline ")
        + "link-graph suite wall seconds, min over reps "
        "(see *_edges_per_sec* for throughput)",
        **{k: (round(v, 2) if isinstance(v, float) else v) for k, v in detail.items()},
    )


def run_bucketed(b: Bench) -> dict:
    """Measure bucketed storage (graph/storage.py): the public
    ``triangle_count`` over the canonical edge table stored bucketed by
    ``dst``, over the same table as plain parquet, and over the in-session
    table every other mode reads. Reports wall seconds AND the number of
    ``Exchange`` operators in each executed plan; ``value`` is the
    in-session / bucketed speedup."""
    spark = b.spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    tmp = str(Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
              / "bench_plain_edges")
    b.edges.write.mode("overwrite").parquet(tmp)
    n_buckets = save_edges_bucketed(b.edges, "bench_edges_bucketed")

    def measure(name: str, loader) -> tuple[int, int]:
        # a FRESH DataFrame per rep: re-collecting one instance lets Spark
        # skip already-computed shuffle map stages (same RDD lineage), which
        # would time only the final reduce
        def query():
            return triangle_count(loader())

        query().collect()  # warm
        tri, _ = b.timings.measure(name, lambda: query().collect()[0]["triangles"], 5, max_reps=5)
        exchanges = query()._jdf.queryExecution().executedPlan().toString().count("Exchange")
        return exchanges, tri

    session_ex, tri0 = measure("triangle_in_session", lambda: b.edges)
    plain_ex, tri1 = measure("triangle_plain", lambda: spark.read.parquet(tmp))
    buck_ex, tri2 = measure("triangle_bucketed", lambda: spark.table("bench_edges_bucketed"))
    assert tri0 == tri1 == tri2, (tri0, tri1, tri2)
    spark.sql("DROP TABLE bench_edges_bucketed")
    shutil.rmtree(tmp)
    q = b.timings.queries
    return b.report(
        "in-session vs bucketed triangle count (canonical edge table)",
        value=round(q["triangle_in_session"] / q["triangle_bucketed"], 3),
        unit="speedup_ratio",
        reps=5,
        n_buckets=n_buckets,
        exchanges_in_session=session_ex,
        exchanges_plain=plain_ex,
        exchanges_bucketed=buck_ex,
        triangles=tri0,
    )


def run_patterns(b: Bench) -> dict:
    """Pattern-count bench (4-clique / 4-cycle through the generic join
    compiler) — the pattern-matching counterpart of run_suite, with the
    same adaptive min-over-reps and pinned-partition method so
    ``--scaling --patterns`` measures N->4N efficiency on the SAME data
    layout (the reference's Slurm scaling experiment, slurm/countDist.sh)."""
    pats = {"clique4": PatternGenerator.clique(4), "cycle4": PatternGenerator.cycle(4)}
    counts: dict[str, int] = {}
    for name, p in pats.items():
        counts[name], seen = b.timings.measure(
            name, lambda: match(b.edges, p).count(), b.args.reps
        )
        assert len(set(seen)) == 1, (name, seen)

    return b.report(
        "pattern-count wall seconds (generic compiler, canonical "
        "legs), min over adaptive reps",
        counts=counts,
        **{f"{k}_edges_per_sec": round(b.n_edges / v, 1)
           for k, v in b.timings.queries.items()},
    )


def run_fsm(b: Bench) -> dict:
    """FSM timing evidence beyond citeseer: mine up-to-3-edge labelled
    patterns (5 lang labels) on the SF source-repo graph, reporting wall +
    per-level breakdown (candidates/survivors/seconds) — the reference's
    bin/fsm timing experiment (README.md:100-105) on OUR generator."""
    args = b.args

    def mine():
        lm: list[dict] = []
        res = fsm(b.edges, b.vertices, support=args.support, max_vertices=4,
                  max_edges=3, level_metrics=lm)
        return sorted((p.to_string(), s) for p, s in res), lm

    best, runs = b.timings.measure("fsm", mine, args.reps, max_reps=args.reps)
    # counts must be stable across reps (determinism evidence)
    assert all(r[0] == runs[0][0] for r in runs), "FSM results unstable"
    return b.report(
        "FSM wall seconds (max 3 edges, MNI support threshold, "
        "lang labels), min over reps",
        support=args.support,
        n_frequent=len(runs[0][0]),
        levels=best[1],
        rep_times=b.timings.rep_times["fsm"],  # --fsm's is a list (fsm_r05_sf0.1.json)
    )


def scaling(args) -> dict:
    """N -> 4N efficiency T_N / (4 T_4N) of each timed key, one fresh
    subprocess per side."""

    def side(cores: int) -> dict:
        # the same shuffle and operator partition counts on both sides;
        # only parallelism differs (the cluster analogue: 4x the executors)
        cmd = [sys.executable, __file__, "--cores", str(cores), "--sf", str(args.scale_sf),
               "--reps", str(args.reps), "--shuffle", str(max(2 * 4 * args.n, 8))]
        cmd += ["--patterns"] * args.patterns + ["--skewed"] * args.skewed
        proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    small, big = side(args.n), side(4 * args.n)
    if args.patterns:
        metric = "pattern-count scaling efficiency N->4N cores"
        keys = {k: k for k in small["queries"]}
    else:
        metric = "scaling efficiency N->4N cores (per-superstep, steady state)"
        keys = {"pagerank": "pagerank_sec_per_superstep",
                "cc": "cc_sec_per_superstep",
                "triangle": "triangle_count"}
    # per-superstep seconds are top-level fields, query seconds in "queries"
    t_small, t_big = ({**res["queries"], **res} for res in (small, big))
    effs = {f"{name}_efficiency": round(t_small[k] / (4 * t_big[k]), 3)
            for name, k in keys.items()}
    return {
        "metric": (SKEWED if args.skewed else "") + metric,
        "value": next(iter(effs.values())),
        "unit": "ratio",
        "queries": big["queries"],
        "sf": args.scale_sf,
        "n_cores": args.n,
        **effs,
        "small": small,
        "big": big,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--shuffle", type=int, default=None)
    ap.add_argument("--scaling", action="store_true", help="N->4N efficiency")
    ap.add_argument("--skewed", action="store_true",
                    help="run on the power-law hub-skew input (sf = millions "
                         "of samples) instead of the source-repo graph")
    modes = ap.add_mutually_exclusive_group()
    modes.add_argument("--bucketed", action="store_true",
                       help="triangle count over the canonical edge table "
                            "stored bucketed vs plain parquet vs in-session")
    modes.add_argument("--patterns", action="store_true",
                       help="pattern-count bench (4-clique/4-cycle through the "
                            "generic compiler); combine with --scaling for "
                            "per-pattern N->4N efficiency")
    modes.add_argument("--fsm", action="store_true",
                       help="FSM timing (3-edge labelled mining, lang labels) "
                            "with per-level breakdown")
    ap.add_argument("--support", type=int, default=2000,
                    help="MNI support threshold for --fsm")
    ap.add_argument("--n", type=int, default=2, help="small core count for --scaling")
    ap.add_argument("--reps", type=int, default=3,
                    help="reps per measured query; the reported time is the "
                         "min (single-run timings on a shared host are noise)")
    ap.add_argument(
        "--scale-sf", type=float, default=1.0,
        help="SF for the scaling experiment (bigger so compute dominates)",
    )
    args = ap.parse_args()
    if args.scaling and (args.bucketed or args.fsm):
        ap.error("--scaling measures the suite or --patterns only")
    if args.fsm and args.skewed:
        ap.error("--fsm mines vertex labels; the --skewed power-law input has none")

    if args.scaling:
        print(json.dumps(scaling(args)))
        return

    if args.sf is None:
        args.sf = sf_from_dir(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    args.cores = args.cores or (int(cores_env) if cores_env else None)
    mode = (run_bucketed if args.bucketed else run_patterns if args.patterns
            else run_fsm if args.fsm else run_suite)
    b = Bench(args)
    out = mode(b)
    b.spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
