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
         materializes the cached symmetrized/CSR edge structures) is
         excluded, mirroring how a long-running production job amortizes it.
         Every measured query runs ``--reps`` times (default 3), then keeps
         appending reps while the running min still improves >= 5% on the
         last rep (cap 10) and reports the per-query MIN; per-rep arrays
         land in "rep_times" and plateau status in "rep_converged" /
         "converged". Single-run timings on a shared host swing up to 9x
         with interference (the BENCH_r03 adjudication; BENCH_r04's fixed
         3 reps never converged), so adaptive min-over-reps is the
         default, not an opt-in — each rep builds FRESH DataFrames (a reused instance lets
         Spark skip already-computed shuffle map stages and fakes the
         timing; only the persisted edge table is intentionally shared,
         the way production queries share the lakehouse table).

Scaling evidence (writes the numbers quoted in BENCH/BASELINE.md):
    python bench.py --scaling [--n 2] [--scale-sf 1.0]
      Runs the identical job in fresh subprocesses at N and 4N cores on the
      same (larger) input — at SF=0.1 the per-superstep work is smaller
      than Spark's per-stage scheduling floor on ANY core count, so the
      scaling experiment uses a bigger SF of the same deterministic
      generator to make compute dominate (same job, same code path).

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
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


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
        reps`` keeps the count fixed). Returns the fastest rep's result and
        every rep's result."""

        def improving() -> bool:
            return len(walls) < 2 or walls[-1] < 0.95 * min(walls[:-1])

        walls, results = [], []
        while len(walls) < max(1, reps) or (len(walls) < max_reps and improving()):
            t0 = time.monotonic()
            results.append(fn())
            walls.append(time.monotonic() - t0)
        self.rep_times[name] = [round(w, 3) for w in walls]
        self.rep_converged[name] = not improving()
        self.queries[name] = min(walls)
        return results[walls.index(min(walls))], results

    def reps_fields(self) -> dict:
        # converged: every query's min plateaued before the adaptive-rep
        # cap; False means the artifact may still under-report throughput
        return {"rep_times": self.rep_times, "rep_converged": self.rep_converged,
                "converged": all(self.rep_converged.values())}


def run_suite(
    cores: int | None,
    sf: float,
    shuffle: int | None = None,
    skewed: bool = False,
    reps: int = 3,
) -> dict:
    """``shuffle`` explicitly given pins BOTH the session shuffle partitions
    and the superstep operators' internal partition counts — required by the
    scaling experiment (identical data layout at N and 4N cores; only
    parallelism differs). When None, operators auto-size to the data
    (auto_shuffle_partitions)."""
    pin = shuffle
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.operators.triangles import triangle_count
    from peregrine_spark.session import get_spark
    from peregrine_spark.supersteps.components import connected_components
    from peregrine_spark.supersteps.pagerank import pagerank, pagerank_csr
    from peregrine_spark.tables import powerlaw_edges, source_repo_table, with_sha256

    master = f"local[{cores}]" if cores else None
    if shuffle is None:
        shuffle = max(2 * cores, 8) if cores else None
    spark = get_spark(
        app_name=f"peregrine_bench_{cores or 'env'}",
        master=master,
        shuffle_partitions=shuffle,
    )
    n_cores = spark.sparkContext.defaultParallelism

    timings = Timings()
    queries = timings.queries
    detail: dict[str, float] = {}

    t0 = time.monotonic()
    if skewed:
        # adversarial hub-skew input (sf -> millions of log-uniform samples
        # over 1e5 vertices; hub degree ~ samples/ln(1e5))
        edges = powerlaw_edges(spark, int(sf * 1_000_000), 100_000).persist()
    else:
        # persisted: build_graph scans the source table multiple times
        # (import regexes, co-commit chains, lang dictionary)
        src = with_sha256(source_repo_table(spark, sf=sf)).persist()
        src.count()
        queries["datagen"] = time.monotonic() - t0
        t0 = time.monotonic()
        g = build_graph(src)
        edges = g.edges.persist()
    n_edges = edges.count()
    if not skewed:
        g.unpersist()
        src.unpersist()
    queries["ingest"] = time.monotonic() - t0
    n_sym = 2 * n_edges

    pr_iters = 5
    _, runs = timings.measure(
        "pagerank",
        lambda: pagerank(edges, max_iters=pr_iters, tol=-1.0,
                         check_every=pr_iters, n_partitions=pin),
        reps,
    )
    steady = min(_steady(r.metrics) for r in runs)
    detail["pagerank_sec_per_superstep"] = steady
    detail["pagerank_edges_per_sec_per_superstep"] = n_sym / steady

    _, runs = timings.measure(
        "pagerank_csr",
        lambda: pagerank_csr(edges, max_iters=pr_iters, tol=-1.0,
                             check_every=pr_iters, n_partitions=pin),
        reps,
    )
    steady = min(_steady(r.metrics) for r in runs)
    detail["pagerank_csr_sec_per_superstep"] = steady
    detail["pagerank_csr_edges_per_sec_per_superstep"] = n_sym / steady

    triangle_count(edges).collect()  # warm (materializes AQE stats path)
    best_tri, _ = timings.measure(
        "triangle_count",
        lambda: triangle_count(edges).collect()[0]["triangles"],
        max(reps, 5),  # cheap query: more reps, same budget
    )
    detail["triangle_edges_per_sec"] = n_edges / queries["triangle_count"]
    detail["triangles"] = best_tri

    best_cc, runs = timings.measure(
        "connected_components",
        lambda: connected_components(edges, max_iters=64, check_every=2,
                                     n_partitions=pin),
        reps,
    )
    detail["cc_sec_per_superstep"] = min(_steady(r.metrics) for r in runs)
    detail["cc_iterations"] = best_cc.iterations

    edges.unpersist()
    out = {
        "metric": ("skewed (power-law hub) " if skewed else "headline ")
        + "link-graph suite wall seconds, min over reps "
        "(see *_edges_per_sec* for throughput)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": sf,
        "cores": n_cores,
        "n_edges": n_edges,
        "reps": reps,
        **timings.reps_fields(),
        **{k: (round(v, 2) if isinstance(v, float) else v) for k, v in detail.items()},
    }
    spark.stop()
    return out


def run_bucketed(cores: int | None, sf: float) -> dict:
    """Measure the bucketed-storage claim (graph/storage.py): triangle
    counting over the ORIENTED edge table persisted bucketed+sorted by
    ``src`` vs the same table as plain parquet. Reports wall seconds AND
    the number of ``Exchange`` operators in each executed plan — the claim
    is the wedge self-join consumes the bucket layout with no shuffle."""
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.graph.storage import load_edges_bucketed, save_edges_bucketed
    from peregrine_spark.plans.fast_counts import clique_rows, oriented
    from peregrine_spark.session import get_spark
    from peregrine_spark.tables import source_repo_table, with_sha256

    master = f"local[{cores}]" if cores else None
    spark = get_spark(app_name="peregrine_bench_bucketed", master=master)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    src = with_sha256(source_repo_table(spark, sf=sf))
    o = oriented(build_graph(src).edges)
    n_edges = o.count()
    tmp = str(Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
              / "bench_plain_edges")
    o.write.mode("overwrite").parquet(tmp)
    n_buckets = save_edges_bucketed(
        spark.read.parquet(tmp), "bench_edges_bucketed"
    )

    timings = Timings()

    def measure(name: str, loader) -> tuple[int, int]:
        # a FRESH DataFrame per rep: re-collecting one instance lets Spark
        # skip already-computed shuffle map stages (same RDD lineage), which
        # would time only the final reduce
        def query():
            return clique_rows(loader(), 3, pre_oriented=True).groupBy().count()

        query().collect()  # warm
        tri, _ = timings.measure(name, lambda: query().collect()[0]["count"], 5, max_reps=5)
        exchanges = query()._jdf.queryExecution().executedPlan().toString().count("Exchange")
        return exchanges, tri

    plain_ex, tri1 = measure("triangle_plain", lambda: spark.read.parquet(tmp))
    buck_ex, tri2 = measure(
        "triangle_bucketed", lambda: load_edges_bucketed(spark, "bench_edges_bucketed")
    )
    assert tri1 == tri2
    plain_dt, buck_dt = timings.queries["triangle_plain"], timings.queries["triangle_bucketed"]
    out = {
        "metric": "bucketed vs plain-parquet triangle count (oriented edge table)",
        "value": round(plain_dt / buck_dt, 3),
        "unit": "speedup_ratio",
        "queries": {k: round(v, 3) for k, v in timings.queries.items()},
        "sf": sf,
        "cores": spark.sparkContext.defaultParallelism,
        "n_edges": n_edges,
        "n_buckets": n_buckets,
        "exchanges_plain": plain_ex,
        "exchanges_bucketed": buck_ex,
        "triangles": tri1,
    }
    spark.stop()
    return out


def run_patterns(
    cores: int | None,
    sf: float,
    shuffle: int | None = None,
    reps: int = 3,
) -> dict:
    """Pattern-count bench (4-clique / 4-cycle through the generic join
    compiler) — the pattern-matching counterpart of run_suite, with the
    same adaptive min-over-reps and pinned-partition method so
    ``--scaling --patterns`` measures N->4N efficiency on the SAME data
    layout (the reference's Slurm scaling experiment, slurm/countDist.sh)."""
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.operators.match import match
    from peregrine_spark.patterns.small_graph import PatternGenerator
    from peregrine_spark.session import get_spark
    from peregrine_spark.tables import source_repo_table, with_sha256

    master = f"local[{cores}]" if cores else None
    if shuffle is None:
        shuffle = max(2 * cores, 8) if cores else None
    spark = get_spark(
        app_name=f"peregrine_bench_patterns_{cores or 'env'}",
        master=master,
        shuffle_partitions=shuffle,
    )
    n_cores = spark.sparkContext.defaultParallelism

    src = with_sha256(source_repo_table(spark, sf=sf)).persist()
    g = build_graph(src)
    # shared materialized table, lakehouse-style; each rep builds a FRESH plan
    edges = g.edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    g.unpersist()
    src.unpersist()

    pats = {
        "clique4": PatternGenerator.clique(4),
        "cycle4": PatternGenerator.cycle(4),
    }
    timings = Timings()
    queries = timings.queries
    counts: dict[str, int] = {}
    for name, p in pats.items():
        counts[name], seen = timings.measure(name, lambda: match(edges, p).count(), reps)
        assert len(set(seen)) == 1, (name, seen)

    out = {
        "metric": "pattern-count wall seconds (generic compiler, canonical "
        "legs), min over adaptive reps",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": sf,
        "cores": n_cores,
        "n_edges": n_edges,
        "reps": reps,
        **timings.reps_fields(),
        "counts": counts,
        **{f"{k}_edges_per_sec": round(n_edges / v, 1) for k, v in queries.items()},
    }
    spark.stop()
    return out


def run_fsm(cores: int | None, sf: float, reps: int = 3, support: int = 2000) -> dict:
    """FSM timing evidence beyond citeseer: mine up-to-3-edge labelled
    patterns (5 lang labels) on the SF source-repo graph, reporting wall +
    per-level breakdown (candidates/survivors/seconds) — the reference's
    bin/fsm timing experiment (README.md:100-105) on OUR generator."""
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.operators.fsm import fsm
    from peregrine_spark.session import get_spark
    from peregrine_spark.tables import source_repo_table, with_sha256

    master = f"local[{cores}]" if cores else None
    spark = get_spark(app_name=f"peregrine_bench_fsm_{cores or 'env'}", master=master)
    n_cores = spark.sparkContext.defaultParallelism

    src = with_sha256(source_repo_table(spark, sf=sf)).persist()
    g = build_graph(src)
    edges = g.edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    verts = g.vertices.select("v", "label").localCheckpoint(eager=True)
    g.unpersist()
    src.unpersist()

    def mine():
        lm: list[dict] = []
        res = fsm(edges, verts, support=support, max_vertices=4,
                  max_edges=3, level_metrics=lm)
        return sorted((p.to_string(), s) for p, s in res), lm

    timings = Timings()
    best, runs = timings.measure("fsm", mine, reps, max_reps=reps)
    # counts must be stable across reps (determinism evidence)
    assert all(r[0] == runs[0][0] for r in runs), "FSM results unstable"
    wall = round(timings.queries["fsm"], 3)
    out = {
        "metric": "FSM wall seconds (max 3 edges, MNI support threshold, "
        "lang labels), min over reps",
        "value": wall,
        "unit": "sec",
        "queries": {"fsm": wall},
        "sf": sf,
        "cores": n_cores,
        "n_edges": n_edges,
        "support": support,
        "n_frequent": len(runs[0][0]),
        "levels": best[1],
        "rep_times": timings.rep_times["fsm"],
    }
    spark.stop()
    return out


def run_subprocess(
    cores: int, sf: float, shuffle: int | None = None, reps: int = 3,
    patterns: bool = False, skewed: bool = False,
) -> dict:
    cmd = [sys.executable, __file__, "--cores", str(cores), "--sf", str(sf),
           "--reps", str(reps)]
    if shuffle:
        cmd += ["--shuffle", str(shuffle)]
    if patterns:
        cmd += ["--patterns"]
    if skewed:
        cmd += ["--skewed"]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--shuffle", type=int, default=None)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--skewed", action="store_true",
                    help="run the suite on the power-law hub-skew input "
                         "(sf = millions of samples) instead of the "
                         "source-repo graph")
    ap.add_argument("--bucketed", action="store_true",
                    help="measure the bucketed-storage zero-shuffle claim "
                         "(triangle count over bucketed vs plain parquet)")
    ap.add_argument("--patterns", action="store_true",
                    help="pattern-count bench (4-clique/4-cycle through the "
                         "generic compiler); combine with --scaling for "
                         "per-pattern N->4N efficiency")
    ap.add_argument("--fsm", action="store_true",
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

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = args.sf if args.sf is not None else sf_from_dir(sf_dir)

    if args.scaling:
        # identical data partitioning on both sides — only parallelism
        # differs (the cluster analogue: same layout, 4x the executors)
        shuffle = max(2 * 4 * args.n, 8)
        if args.patterns:
            small = run_subprocess(args.n, args.scale_sf, shuffle, args.reps,
                                   patterns=True)
            big = run_subprocess(4 * args.n, args.scale_sf, shuffle, args.reps,
                                 patterns=True)
            effs = {
                f"{k}_efficiency": round(small["queries"][k] / (4 * big["queries"][k]), 3)
                for k in small["queries"]
            }
            out = {
                "metric": "pattern-count scaling efficiency N->4N cores",
                "value": effs["clique4_efficiency"],
                "unit": "ratio",
                "queries": big["queries"],
                "sf": args.scale_sf,
                "n_cores": args.n,
                **effs,
                "small": small,
                "big": big,
            }
            print(json.dumps(out))
            return
        small = run_subprocess(args.n, args.scale_sf, shuffle, args.reps,
                               skewed=args.skewed)
        big = run_subprocess(4 * args.n, args.scale_sf, shuffle, args.reps,
                             skewed=args.skewed)
        effs = {}
        for k in ("pagerank_sec_per_superstep", "pagerank_csr_sec_per_superstep",
                  "cc_sec_per_superstep"):
            effs[k.replace("_sec_per_superstep", "_efficiency")] = round(
                small[k] / (4 * big[k]), 3
            )
        effs["triangle_efficiency"] = round(
            small["queries"]["triangle_count"] / (4 * big["queries"]["triangle_count"]), 3
        )
        out = {
            "metric": ("skewed (power-law hub) " if args.skewed else "")
            + "scaling efficiency N->4N cores (per-superstep, steady state)",
            "value": effs["pagerank_efficiency"],
            "unit": "ratio",
            "queries": big["queries"],
            "sf": args.scale_sf,
            "n_cores": args.n,
            **effs,
            "small": small,
            "big": big,
        }
        print(json.dumps(out))
        return

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    cores = args.cores or (int(cores_env) if cores_env else None)
    if args.bucketed:
        print(json.dumps(run_bucketed(cores, sf)))
        return
    if args.patterns:
        print(json.dumps(run_patterns(cores, sf, args.shuffle, args.reps)))
        return
    if args.fsm:
        print(json.dumps(run_fsm(cores, sf, args.reps, args.support)))
        return
    print(json.dumps(run_suite(cores, sf, args.shuffle, skewed=args.skewed,
                               reps=args.reps)))


if __name__ == "__main__":
    main()
