"""The two workloads: what each pass calls, and how its outputs are checked.

Every workload is a list of operations. An operation's ``run`` is timed and
calls into the library on DataFrames built fresh for the pass; only the
prepared input (``Inputs``) is shared between passes, because reusing a
DataFrame lets Spark skip shuffle map stages it has already run. After the
pass, ``answers`` reads each result (untimed) into exact values that must
match the first pass and, for a recorded seed, ``expected.json``;
``violations`` adds the checks that hold on every seed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph import build as graph_build
from peregrine_spark.operators import fsm as fsm_mod
from peregrine_spark.operators import match as match_mod
from peregrine_spark.operators.triangles import triangle_count
from peregrine_spark.patterns.canonical import canonical_form
from peregrine_spark.patterns.small_graph import PatternGenerator as PG
from peregrine_spark.patterns.small_graph import SmallGraph
from peregrine_spark.supersteps.bfs import bfs_hops
from peregrine_spark.supersteps.components import connected_components
from peregrine_spark.supersteps.pagerank import pagerank

PAGERANK_STEPS = 10
FSM_SUPPORT = 1000
FSM_MAX_EDGES = 2
FSM_LABELS = 3  # the six language labels folded to three: ~30 candidate plans

# count() fast-path shapes (plans.fast_counts) and generic-compiler shapes
FAST_SHAPES = {
    "triangle": PG.clique(3),
    "clique4": PG.clique(4),
    "cycle4": PG.cycle(4),
    "star4": PG.star(4),
}
GENERIC_SHAPES = {
    # the reference's query/p1.graph: a 4-cycle with one chord
    "diamond": SmallGraph(edges=[(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)]),
    "tailed_triangle": SmallGraph(edges=[(1, 2), (1, 3), (2, 3), (3, 4)]),
    # a py-labelled vertex and a cpp-labelled vertex in a triangle
    "labelled_triangle": SmallGraph(edges=[(1, 2), (1, 3), (2, 3)])
    .set_label(1, 1)
    .set_label(2, 2),
    # open wedge: the anti-edge compiles to a LEFT ANTI join
    "open_wedge": SmallGraph(edges=[(1, 2), (1, 3)], anti_edges=[(2, 3)]),
}


@dataclass
class Inputs:
    """What setup hands the passes: the generated source table and the
    prepared, checkpointed edge and vertex tables."""

    spark: object
    src_path: str
    out_dir: str
    edges: DataFrame | None = None
    vertices: DataFrame | None = None
    n_edges: int = 0
    top_vertex: int = 0


@dataclass
class Op:
    name: str
    run: Callable[[], object]


def _superstep_info(res) -> dict:
    secs = [m["seconds"] for m in res.metrics]
    return {"iterations": res.iterations, "step_seconds": secs}


# -- ingest ------------------------------------------------------------------


class Ingest:
    """Source table parquet -> build_graph -> edges and vertices parquet."""

    name = "ingest"
    needs_graph = False

    def ops(self, inp: Inputs, tracer) -> list[Op]:
        def run():
            spark = inp.spark
            g = graph_build.build_graph(spark.read.parquet(inp.src_path))
            with tracer.span("graph.build.id_join"):
                g.edges.write.mode("overwrite").parquet(f"{inp.out_dir}/edges")
            with tracer.span("graph.build.vertices"):
                g.vertices.write.mode("overwrite").parquet(f"{inp.out_dir}/vertices")
            g.unpersist()

        return [Op("graph.build", run)]

    def instrument(self, tracer):
        """Spans for the public ingest steps ``build_graph`` calls, which
        run as the program runs them: the first three only build lazy
        plans, and their execution happens in the jobs ``assign_degree_ids``
        submits (its degree ranking is the first action on their output)."""
        return [
            tracer.instrument(graph_build, step, f"graph.build.{step}")
            for step in ("import_edges", "co_commit_edges", "edges_from_pairs",
                         "assign_degree_ids")
        ]

    def answers(self, inp: Inputs, results: dict) -> dict:
        spark = inp.spark
        src = spark.read.parquet(inp.src_path)
        # rows entering the dedup in edges_from_pairs, counted untimed
        pairs = (graph_build.import_edges(src).count()
                 + graph_build.co_commit_edges(src).count())
        e = spark.read.parquet(f"{inp.out_dir}/edges")
        v = spark.read.parquet(f"{inp.out_dir}/vertices")
        er = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("src", "dst").alias("distinct"),
            F.sum((F.col("src") >= F.col("dst")).cast("int")).alias("not_canonical"),
        ).first()
        vr = v.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("degree").alias("degree_sum"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        ).first()
        return {"graph.build": {
            "pairs": pairs, "edges": er["n"], "vertices": vr["n"],
            "duplicate_edges": er["n"] - er["distinct"],
            "not_canonical": er["not_canonical"] or 0,
            "degree_sum": vr["degree_sum"], "v_lo": vr["lo"], "v_hi": vr["hi"],
        }}

    def violations(self, answers: dict, results: dict) -> dict:
        a = answers["graph.build"]
        bad = []
        if a["duplicate_edges"] or a["not_canonical"]:
            bad.append("edges are not canonical and deduplicated")
        if a["degree_sum"] != 2 * a["edges"]:
            bad.append("vertex degrees do not sum to twice the edge count")
        if (a["v_lo"], a["v_hi"]) != (1, a["vertices"]):
            bad.append("vertex ids are not 1..n")
        return {"graph.build": bad}

    def info(self, results: dict) -> dict:
        return {}


# -- queries: supersteps, then patterns and FSM -----------------------------


class Supersteps:
    """PageRank (fixed steps), connected components, BFS from the top vertex."""

    owns = ("supersteps.",)

    def ops(self, inp: Inputs, tracer) -> list[Op]:
        e = inp.edges
        return [
            Op("supersteps.pagerank", lambda: pagerank(
                e, max_iters=PAGERANK_STEPS, tol=-1.0, check_every=PAGERANK_STEPS)),
            Op("supersteps.cc", lambda: connected_components(e, max_iters=64, check_every=2)),
            Op("supersteps.bfs", lambda: bfs_hops(e, [inp.top_vertex])),
        ]

    def instrument(self, tracer):
        return []

    def answers(self, inp: Inputs, results: dict) -> dict:
        out = {}
        pr, cc, bfs = (results.get(f"supersteps.{k}") for k in ("pagerank", "cc", "bfs"))
        if pr is not None:
            out["supersteps.pagerank"] = {"iterations": pr.iterations}
        if cc is not None:
            out["supersteps.cc"] = {
                "components": cc.state.select("comp").distinct().count(),
                "converged": cc.converged,
            }
        if bfs is not None:
            out["supersteps.bfs"] = {
                "reached": bfs.state.where(F.col("dist").isNotNull()).count(),
                "converged": bfs.converged,
            }
        return out

    def violations(self, answers: dict, results: dict) -> dict:
        bad = {k: [] for k in answers}
        pr, cc, bfs = (results.get(f"supersteps.{k}") for k in ("pagerank", "cc", "bfs"))
        if pr is not None:
            mass = pr.state.agg(F.sum("rank")).first()[0]
            if abs(mass - 1.0) > 1e-6:
                bad["supersteps.pagerank"].append(f"PageRank mass {mass!r} is not 1")
        if cc is not None and bfs is not None:
            # BFS reaches exactly the source's connected component
            src_comp = cc.state.join(
                bfs.state.where(F.col("dist") == 0).select("v"), "v"
            ).select("comp")
            size = cc.state.join(src_comp, "comp").count()
            if size != answers["supersteps.bfs"]["reached"]:
                bad["supersteps.bfs"].append(
                    f"BFS reached {answers['supersteps.bfs']['reached']} vertices, "
                    f"the source's component has {size}")
        return bad

    def info(self, results: dict) -> dict:
        return {k: _superstep_info(r) for k, r in results.items() if r is not None}


# -- patterns ----------------------------------------------------------------


class Patterns:
    """count() over fast-path and generic shapes, 4-motifs, 5-clique
    existence, and FSM up to two edges (~30 small concurrent plans)."""

    owns = ("patterns.", "operators.")

    def ops(self, inp: Inputs, tracer) -> list[Op]:
        e, v = inp.edges, inp.vertices.select("v", "label")

        def counter(p, labelled):
            return lambda: match_mod.count(e, p, vertices=v if labelled else None)[0][1]

        ops = [Op(f"patterns.fast.{n}", counter(p, False)) for n, p in FAST_SHAPES.items()]
        ops += [
            Op(f"patterns.generic.{n}", counter(p, bool(p.labels)))
            for n, p in GENERIC_SHAPES.items()
        ]
        ops += [
            Op("operators.triangles.triangle_count",
               lambda: triangle_count(e).collect()[0]["triangles"]),
            Op("operators.match.motifs4", lambda: [c for _, c in match_mod.count_motifs(e, 4)]),
            Op("operators.match.existence", lambda: match_mod.existence(e, PG.clique(5))),
        ]
        fsm_v = v.select("v", ((F.col("label") - 1) % FSM_LABELS + 1).alias("label"))

        def run_fsm():
            levels: list[dict] = []
            res = fsm_mod.fsm(e, fsm_v, support=FSM_SUPPORT,
                              max_edges=FSM_MAX_EDGES, level_metrics=levels)
            return res, levels

        return ops + [Op("operators.fsm", run_fsm)]

    def instrument(self, tracer):
        def force_plan(plan, sp):
            plan.df._jdf.queryExecution().executedPlan()
            return plan

        return [
            tracer.instrument(mod, "compile_match", "plans.compiler.plan", force_plan)
            for mod in (match_mod, fsm_mod)
        ]

    def answers(self, inp: Inputs, results: dict) -> dict:
        out = {k: {"value": r} for k, r in results.items() if r is not None}
        if "operators.fsm" in out:
            found = results["operators.fsm"][0]
            out["operators.fsm"] = {"patterns": len(found), "hash": fsm_hash(found)}
        return out

    def violations(self, answers: dict, results: dict) -> dict:
        bad = {k: [] for k in answers}
        tri = results.get("operators.triangles.triangle_count")
        if tri is not None and tri != results.get("patterns.fast.triangle"):
            bad["operators.triangles.triangle_count"].append(
                "triangle_count disagrees with count(triangle)")
        motifs = results.get("operators.match.motifs4")
        if motifs is not None:
            pats = PG.all(4, vertex_based=True, anti_edges=True)
            k4 = next(c for p, c in zip(pats, motifs) if p.num_true_edges == 6)
            if k4 != results.get("patterns.fast.clique4"):
                bad["operators.match.motifs4"].append(
                    "4-clique motif count disagrees with count(clique4)")
        return bad

    def info(self, results: dict) -> dict:
        r = results.get("operators.fsm")
        return {"operators.fsm": {"levels": r[1]}} if r is not None else {}


class Queries:
    """Every query layer on the prepared edges, in one pass: the superstep
    programs, then the pattern counts and FSM. Each part keeps its own
    operation names, so its layers stay separable in the per-layer output."""

    name = "queries"
    needs_graph = True
    parts = (Supersteps(), Patterns())

    def ops(self, inp: Inputs, tracer) -> list[Op]:
        return [op for part in self.parts for op in part.ops(inp, tracer)]

    def instrument(self, tracer):
        return [hook for part in self.parts for hook in part.instrument(tracer)]

    # each part reads only the results and answers of its own operations

    def answers(self, inp: Inputs, results: dict) -> dict:
        return {k: v for part in self.parts
                for k, v in part.answers(inp, _own(part, results)).items()}

    def violations(self, answers: dict, results: dict) -> dict:
        return {k: v for part in self.parts
                for k, v in part.violations(_own(part, answers), _own(part, results)).items()}

    def info(self, results: dict) -> dict:
        return {k: v for part in self.parts for k, v in part.info(_own(part, results)).items()}


def _own(part, d: dict) -> dict:
    return {k: v for k, v in d.items() if k.startswith(part.owns)}


def fsm_hash(result) -> str:
    """Order- and representation-independent digest of an FSM result."""
    items = sorted(f"{canonical_form(g)!r}:{s}" for g, s in result)
    return hashlib.sha256("\n".join(items).encode()).hexdigest()[:16]


WORKLOADS = {w.name: w for w in (Ingest(), Queries())}
