"""Per-layer metrics of one run, named after the repo's modules.

Each metric is computed on every workload; a layer the workload does not
call reports 0. Timings the library reports itself (superstep seconds, FSM
level seconds) and per-operation walls come from the untraced passes
(median over passes); row counts come from the checked answers; everything
that needs the event log or an instrumented span comes from the single
traced pass.
"""

from __future__ import annotations

import statistics

import eventlog

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
PER_LAYER = {
    # the median untraced pass's wall time: steal by the host moves it, so
    # it is reported here rather than bounded
    "wall_s": "s",
    "session.start_s": "s",
    "tables.gen_s": "s",
    "tables.rows": "count",
    "setup.prepare_s": "s",
    "trace_overhead_ratio": "ratio",
    "ops_failed_ratio": "ratio",
    **{f"graph.build.{k}": "s" for k in (
        "import_edges_s", "co_commit_edges_s", "edges_from_pairs_s",
        "assign_degree_ids_s", "id_join_s", "vertices_s")},
    "graph.build.span_sum_ratio": "ratio",
    "graph.build.pairs_rows": "count",
    "graph.build.edges_rows": "count",
    "graph.build.dedup_ratio": "ratio",
    "graph.build.shuffle_write_mb": "MB",
    "graph.build.spill_mb": "MB",
    **{f"supersteps.{p}.{k}": ("count" if k == "iterations" else "s")
       for p in ("pagerank", "cc", "bfs")
       for k in ("setup_s", "first_step_s", "step_s", "iterations")},
    "supersteps.jobs_per_step": "count",
    "supersteps.shuffle_write_mb_per_step": "MB",
    "supersteps.sched_delay_s": "s",
    "supersteps.pagerank_edges_per_s": "edges/s",
    "supersteps.cc_s": "s",
    "plans.compiler.plan_s": "s",
    "plans.compiler.exec_s": "s",
    "plans.compiler.matches": "count",
    "plans.compiler.shuffle_write_mb": "MB",
    "plans.fast_counts.exec_s": "s",
    "patterns.fastpath_s": "s",
    "patterns.generic_s": "s",
    "operators.triangles.triangle_s": "s",
    "operators.triangles.edges_per_s": "edges/s",
    "operators.match.motifs4_s": "s",
    "operators.match.existence_s": "s",
    "operators.fsm.level1_s": "s",
    "operators.fsm.level2_s": "s",
    "operators.fsm.candidates": "count",
    "operators.fsm.survivor_ratio": "ratio",
    "operators.fsm.s_per_candidate": "s",
    "operators.fsm.jobs": "count",
    "operators.fsm.plan_s": "s",
    "operators.fsm.exec_s": "s",
    **{f"spark.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("failed_tasks", "count"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("max_task_s", "s"),
        ("median_task_s", "s"), ("driver_gap_s", "s"))},
    # driver Python + JVM; varies by more than a tenth between runs, so it
    # is not an end-to-end metric
    "spark.peak_rss_mb": "MB",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class TracedPass:
    """The traced pass's spans joined with the event log."""

    def __init__(self, tracer, log: eventlog.EventLog, run):
        self.tracer = tracer
        self.log = log
        self.run = run  # the traced pass's results and library-reported info
        self.job_span = eventlog.attribute(log, tracer.spans, tracer._main)

    def summary(self, span) -> dict:
        """spark.* rollup of the jobs under ``span`` (it and its same-thread
        descendants), over the span's window."""
        ids = {span.id} | {s.id for s in self.tracer.descendants(span.id)}
        jobs = [j for j, s in self.job_span.items() if s in ids]
        return eventlog.summarize(self.log, jobs, span.start, span.end)

    def summed(self, spans, key: str) -> float:
        return sum(self.summary(s)[key] for s in spans)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.tracer.named(name))

    def spans(self, prefix: str) -> list:
        return [s for s in self.tracer.spans if s.name.startswith(prefix)]


def _superstep_layers(passes, traced: TracedPass, n_edges: int) -> dict:
    out = {}
    for prog in ("pagerank", "cc", "bfs"):
        op = f"supersteps.{prog}"
        infos = [(p.op_seconds[op], p.info[op]) for p in passes if op in p.info]
        steps = [i["step_seconds"] for _, i in infos]
        out[f"{op}.setup_s"] = _median(w - sum(s) for w, s in zip((w for w, _ in infos), steps))
        out[f"{op}.first_step_s"] = _median(s[0] for s in steps if s)
        out[f"{op}.step_s"] = _median(_median(s[1:]) for s in steps if len(s) > 1)
        out[f"{op}.iterations"] = _median(i["iterations"] for _, i in infos)
    # steady PageRank supersteps: without the first (it materializes the
    # adjacency) and the last (it also runs the convergence check)
    rates = []
    for p in passes:
        s = p.info.get("supersteps.pagerank", {}).get("step_seconds", [])
        steady = s[1:-1] if len(s) >= 3 else s[1:]
        if steady:
            rates.append(2 * n_edges * len(steady) / sum(steady))
    out["supersteps.pagerank_edges_per_s"] = _median(rates)
    out["supersteps.cc_s"] = _median(p.op_seconds.get("supersteps.cc", 0.0) for p in passes)

    if not traced:
        return out
    spans = [s for s in traced.spans("supersteps.") if s.name in traced.run.info]
    iters = sum(traced.run.info[s.name]["iterations"] for s in spans)
    if iters:
        out["supersteps.jobs_per_step"] = traced.summed(spans, "jobs") / iters
        out["supersteps.shuffle_write_mb_per_step"] = traced.summed(spans, "shuffle_write_mb") / iters
        out["supersteps.sched_delay_s"] = traced.summed(spans, "sched_delay_s")
    return out


def _pattern_layers(passes, traced: TracedPass, n_edges: int) -> dict:
    out = {}

    def op_median(prefix):
        return _median(
            sum(t for k, t in p.op_seconds.items() if k.startswith(prefix)) for p in passes
        )

    out["patterns.fastpath_s"] = op_median("patterns.fast.")
    out["patterns.generic_s"] = op_median("patterns.generic.")
    tri = op_median("operators.triangles.triangle_count")
    out["operators.triangles.triangle_s"] = tri
    out["operators.triangles.edges_per_s"] = n_edges / tri if tri else 0.0
    out["operators.match.motifs4_s"] = op_median("operators.match.motifs4")
    out["operators.match.existence_s"] = op_median("operators.match.existence")
    out["plans.compiler.matches"] = sum(
        v for k, v in passes[0].results.items()
        if k.startswith("patterns.generic.") and v is not None
    ) if passes else 0
    if traced:
        generic = traced.spans("patterns.generic.")
        out["plans.compiler.exec_s"] = traced.summed(generic, "job_busy_s")
        out["plans.compiler.shuffle_write_mb"] = traced.summed(generic, "shuffle_write_mb")
        out["plans.fast_counts.exec_s"] = traced.summed(traced.spans("patterns.fast."), "job_busy_s")
    return out


def _fsm_layers(passes, traced: TracedPass) -> dict:
    out = {}
    levels = [p.info.get("operators.fsm", {}).get("levels", []) for p in passes]
    for n in (1, 2):
        out[f"operators.fsm.level{n}_s"] = _median(
            lv[n - 1]["seconds"] for lv in levels if len(lv) >= n)
    if levels and levels[0]:
        cands = sum(lv["candidates"] for lv in levels[0])
        survivors = sum(lv["survivors"] for lv in levels[0])
        out["operators.fsm.candidates"] = cands
        out["operators.fsm.survivor_ratio"] = survivors / cands if cands else 0.0
        wall = _median(p.op_seconds.get("operators.fsm", 0.0) for p in passes)
        out["operators.fsm.s_per_candidate"] = wall / cands if cands else 0.0
    if traced:
        spans = traced.tracer.named("operators.fsm")
        out["operators.fsm.jobs"] = traced.summed(spans, "jobs")
        out["operators.fsm.exec_s"] = traced.summed(spans, "job_busy_s")
        # compile_match runs on FSM's worker threads: its spans are found by
        # time window, and their seconds add up across threads
        out["operators.fsm.plan_s"] = sum(
            p.seconds for s in spans for p in traced.tracer.named("plans.compiler.plan", s))
    return out


def _ingest_layers(traced: TracedPass, answers: dict, wall_s: float) -> dict:
    out = {}
    for step in ("import_edges", "co_commit_edges", "edges_from_pairs",
                 "assign_degree_ids", "id_join", "vertices"):
        out[f"graph.build.{step}_s"] = traced.seconds(f"graph.build.{step}")
    # the step spans tile the traced build; this is how much of the
    # untraced pass they explain
    out["graph.build.span_sum_ratio"] = sum(out.values()) / wall_s

    a = answers.get("graph.build", {})
    pairs, edges = a.get("pairs", 0), a.get("edges", 0)
    out["graph.build.pairs_rows"] = pairs
    out["graph.build.edges_rows"] = edges
    out["graph.build.dedup_ratio"] = edges / pairs if pairs else 0.0
    build = traced.tracer.named("graph.build")
    out["graph.build.shuffle_write_mb"] = traced.summed(build, "shuffle_write_mb")
    out["graph.build.spill_mb"] = traced.summed(build, "spill_mb")
    return out


def compute(workload: str, passes, traced: TracedPass | None, n_edges: int,
            answers: dict, common: dict) -> dict:
    """Every PER_LAYER metric for this run (0 where the layer is idle)."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update(common)
    # summed over threads: FSM compiles plans concurrently
    out["plans.compiler.plan_s"] = traced.seconds("plans.compiler.plan") if traced else 0.0
    if traced:
        root = traced.tracer.named("pass")[0]
        out.update({f"spark.{k}": v for k, v in traced.summary(root).items()
                    if f"spark.{k}" in PER_LAYER})
    if workload == "ingest" and traced:
        wall_s = statistics.median(p.wall for p in passes)
        out.update(_ingest_layers(traced, answers, wall_s))
    elif workload == "queries":
        out.update(_superstep_layers(passes, traced, n_edges))
        out.update(_pattern_layers(passes, traced, n_edges))
        out.update(_fsm_layers(passes, traced))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return out
