#!/usr/bin/env python3
"""Benchmark of the peregrine_spark engine: one workload per process.

    python3 perfbench/run.py --workload {ingest,queries}
        [--seed 42] [--seconds 5] [--trace 0|1] [--record]

Run from the root of a checkout. One run:

1. sets up: starts a pinned ``local[min(4, nproc)]`` session, generates
   the source-repo table (``tables.SEED`` = ``--seed``) to parquet three
   times, then prepares once: ``queries`` builds, writes and checkpoints
   the edge and vertex tables; ``ingest``, which reads only the source
   table, runs one checked warm-up pass of its own code instead.
   ``setup_s`` = session start + median generation + that preparation.
2. runs timed passes for about ``--seconds`` (at least one); ``cpu_s`` and
   ``wall_s`` are the medians of the passes' CPU time (``tree_cpu_s``) and
   wall time. Every pass's outputs are checked against the first checked
   pass. The set-up is about 30 s of every run, so a run makes one
   pass when a pass is longer than ``--seconds`` (``queries``).
3. with ``--trace 1``, where Spark's event log is on from the session's
   start, runs one more, instrumented pass in the same warm session and
   reports the per-layer metrics instead.

The last stdout line is the JSON result; the line before it records the
run's context (cores, SF, seed, Spark version, driver memory). A per-span
trace is written to ``.perfbench/trace_<workload>.json``. ``--record``
stores this seed's answers in ``expected.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import peregrine_spark  # noqa: E402,F401  (fails fast outside a checkout)
from peregrine_spark import tables  # noqa: E402

import eventlog  # noqa: E402
import layers  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Inputs  # noqa: E402

SF = 0.01
SETUPS = 3
DRIVER_MEMORY = "2g"
EXPECTED = HERE / "expected.json"


@dataclass
class Pass:
    wall: float
    cpu: float
    results: dict
    op_seconds: dict
    info: dict = field(default_factory=dict)
    errors: dict = field(default_factory=dict)


def start_session(work: Path, cores: int, eventlog_dir: Path | None = None):
    from peregrine_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # JIT compiler threads stay alive, so their CPU can be left out
        # of cpu_s (see tree_cpu_s)
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work / 'tmp'}"
                                          " -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=2 * cores, extra_conf=conf)


def prepare_graph(inp: Inputs) -> None:
    """Build the edge and vertex tables, write them, read them back and
    checkpoint them: the one input every pass shares."""
    from peregrine_spark.graph.build import build_graph

    spark = inp.spark
    g = build_graph(spark.read.parquet(inp.src_path))
    g.edges.write.mode("overwrite").parquet(f"{inp.out_dir}/prepared/edges")
    g.vertices.select("v", "label", "degree").write.mode("overwrite").parquet(
        f"{inp.out_dir}/prepared/vertices")
    g.unpersist()
    inp.edges = spark.read.parquet(f"{inp.out_dir}/prepared/edges").localCheckpoint(eager=True)
    inp.vertices = spark.read.parquet(f"{inp.out_dir}/prepared/vertices").localCheckpoint(eager=True)
    inp.n_edges = inp.edges.count()
    inp.top_vertex = inp.vertices.orderBy(inp.vertices.degree.desc(), "v").first()["v"]


def run_pass(wl, inp: Inputs, tracer: Tracer) -> Pass:
    results, op_seconds, errors = {}, {}, {}
    with contextlib.ExitStack() as hooks:
        for hook in wl.instrument(tracer):
            hooks.enter_context(hook)
        t0, c0 = time.monotonic(), tree_cpu_s()
        with tracer.span("pass", workload=wl.name):
            for op in wl.ops(inp, tracer):
                with tracer.span(op.name) as sp:
                    try:
                        results[op.name] = op.run()
                    except Exception:  # one failed operation must not end the run
                        errors[op.name] = traceback.format_exc()
                        results[op.name] = None
                        print(errors[op.name], file=sys.stderr)
                op_seconds[op.name] = sp.seconds
        wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
    return Pass(wall, cpu, results, op_seconds, wl.info(results), errors)


def _stat_fields(path: Path) -> list[str]:
    return path.read_text().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the Spark JVM and its Python workers, with the children
    they have reaped), without the JVM's JIT compiler threads. CPU taken
    away by the host (steal) is not in it. JIT compilation is half of an
    ingest pass's CPU, keeps falling for many passes as the JVM warms, and
    varies from run to run; what is left is the program's own work."""
    parent, ticks = {}, {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = _stat_fields(d / "stat")
        except OSError:  # the process ended while we scanned
            continue
        parent[int(d.name)] = int(fields[1])
        ticks[int(d.name)] = sum(int(x) for x in fields[11:15])
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid and c not in tree)
    total = sum(ticks.get(pid, 0) for pid in tree)
    for pid in tree:
        for task in Path(f"/proc/{pid}/task").glob("*"):
            try:
                if task.joinpath("comm").read_text().startswith(("C1 Compiler", "C2 Compiler")):
                    fields = _stat_fields(task / "stat")
                    total -= int(fields[11]) + int(fields[12])
            except OSError:
                continue
    return total / os.sysconf("SC_CLK_TCK")


def check(wl, inp: Inputs, p: Pass, first: dict | None, expected: dict | None):
    """(answers, failed op names) for one pass."""
    try:
        answers = wl.answers(inp, p.results)
        bad = wl.violations(answers, p.results)
    except Exception:  # a check that cannot read its outputs fails every op
        print(traceback.format_exc(), file=sys.stderr)
        return {}, set(p.results)
    failed = set(p.errors)
    for op in p.results:
        got = answers.get(op)
        for want, what in ((first, "first pass"), (expected, "recorded value")):
            if want is not None and op in want and got != want[op]:
                print(f"{op}: {got} differs from the {what} {want[op]}", file=sys.stderr)
                failed.add(op)
        for msg in bad.get(op, []):
            print(f"{op}: {msg}", file=sys.stderr)
            failed.add(op)
    return answers, failed


def peak_rss_mb(sc) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's answers in expected.json")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # keep every file Spark and Python write inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = str(work / "tmp")
    cores = min(4, len(os.sched_getaffinity(0)))
    tables.SEED = args.seed
    recorded = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    expected = recorded.get(str(SF), {}).get(str(args.seed), {}).get(wl.name)

    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session(work, cores, work / "eventlog" if args.trace else None)
        session_start = time.monotonic() - t0
        spark_version = spark.version
        inp = Inputs(spark=spark, src_path=str(work / "src"), out_dir=str(work))

        gen = []
        for _ in range(SETUPS):
            t0 = time.monotonic()
            tables.source_repo_table(spark, sf=SF).write.mode("overwrite").parquet(inp.src_path)
            gen.append(time.monotonic() - t0)
        rows = spark.read.parquet(inp.src_path).count()

        attempted = failed = 0

        def checked(p: Pass, first=None):
            nonlocal attempted, failed
            answers, bad = check(wl, inp, p, first, expected)
            attempted += len(p.results)
            failed += len(bad)
            return answers

        t0 = time.monotonic()
        if wl.needs_graph:
            prepare_graph(inp)
            first = None
        else:
            # the warm-up pass: compiles and JIT-warms the plans every
            # timed pass runs
            warm = run_pass(wl, inp, Tracer())
            first = checked(warm)
        prepare = time.monotonic() - t0
        setup_s = session_start + statistics.median(gen) + prepare

        # as many passes as fit in --seconds at the first pass's pace: a
        # count that depends on the pace, not on where a deadline falls
        passes = [run_pass(wl, inp, Tracer())]
        answers = checked(passes[0], first)
        if first is None:
            first = answers
        while len(passes) < round(args.seconds / passes[0].wall):
            passes.append(run_pass(wl, inp, Tracer()))
            checked(passes[-1], first)
        wall_s = statistics.median(p.wall for p in passes)
        cpu_s = statistics.median(p.cpu for p in passes)

        traced = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tp = run_pass(wl, inp, tracer)
            checked(tp, first)
            rss = peak_rss_mb(spark.sparkContext)
            spark.stop()
            log = eventlog.parse(next((work / "eventlog").iterdir()))
            traced = layers.TracedPass(tracer, log, tp)

        if args.record:
            recorded.setdefault(str(SF), {}).setdefault(str(args.seed), {})[wl.name] = first
            EXPECTED.write_text(json.dumps(recorded, indent=1, sort_keys=True) + "\n")

        context = {
            "workload": wl.name, "seed": args.seed, "sf": SF, "cores": cores,
            "spark": spark_version, "driver_memory": DRIVER_MEMORY,
            "pass_walls_s": [p.wall for p in passes],
            "pass_cpu_s": [p.cpu for p in passes],
            "setup_walls_s": {"session": session_start, "gen": gen, "prepare": prepare},
            "n_edges": inp.n_edges, "checked_against_recorded": expected is not None,
        }
        if traced:
            metrics = layers.compute(wl.name, passes, traced, inp.n_edges, first, {
                "wall_s": wall_s,
                "session.start_s": session_start,
                "tables.gen_s": statistics.median(gen),
                "tables.rows": rows,
                "setup.prepare_s": prepare,
                "trace_overhead_ratio": tp.wall / wall_s,
                "ops_failed_ratio": failed / attempted,
                "spark.peak_rss_mb": rss,
            })
            write_trace(base / f"trace_{wl.name}.json", context, traced, metrics)
            units = layers.PER_LAYER
        else:
            metrics = {"cpu_s": cpu_s, "setup_s": setup_s}
            units = {"cpu_s": "s", "setup_s": "s"}
        print(json.dumps(context))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def write_trace(path: Path, context: dict, traced, metrics: dict) -> None:
    """The run's trace artifact: every span with its spark.* rollup, and a
    one-line-per-span table on stderr."""
    rows = []
    for s in traced.tracer.spans:
        row = {"id": s.id, "name": s.name, "parent": s.parent,
               "main_thread": s.thread == traced.tracer._main,
               "seconds": s.seconds, **s.attrs}
        if row["main_thread"]:
            row["spark"] = traced.summary(s)
        rows.append(row)
    path.write_text(json.dumps({"context": context, "metrics": metrics, "spans": rows},
                               indent=1))
    for r in rows:
        if r["main_thread"]:
            sp = r["spark"]
            print(f"{r['name']:<42} {r['seconds']:8.3f}s jobs={sp['jobs']:<4} "
                  f"stages={sp['stages']:<4} tasks={sp['tasks']:<5} "
                  f"gap={sp['driver_gap_s']:.3f}s shuffle_w={sp['shuffle_write_mb']:.2f}MB",
                  file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
