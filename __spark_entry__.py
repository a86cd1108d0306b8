"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Query surface here = SURVEY.md §2 operator inventory re-expressed over the
driver's testdata tables:

* the link graph is derived from ``lineitem`` — consecutive parts within an
  order become chain edges (the same capped-fan-out derivation the engine
  uses for co-commit edges on the source-repo table, graph/from_tables.py);
* pattern queries (triangle / wedge / clique / cycle / motifs / MNI /
  existence) run through the pattern→join compiler on that graph;
* vertex programs (PageRank / connected components / label propagation) run
  through the superstep engine; oracles are unrolled/recursive SQL;
* the training-data-pipeline tier (dedup / similarity / text analysis /
  multimodal plumbing) runs over ``documents`` and ``embeddings``.

Every entry has an ``oracle_sql`` (the citeseer ones when the reference
checkout is present), the sketch-based ones included: their hashes,
hyperplanes and IVF quantizer are deterministic, so the DuckDB oracle
replicates each sketch exactly.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.graph.from_tables import chain_edges, degrees, relabel_by_degree
from peregrine_spark.multimodal.assets import (
    attach_payload,
    extract_features,
    frame_sample_plan,
)
from peregrine_spark.operators.fsm import fsm, mni_support, support_at_least
from peregrine_spark.operators.match import count_incremental, count_motifs, existence, match
from peregrine_spark.plans.fast_counts import cycle4_count, star_count
from peregrine_spark.operators.triangles import local_clustering, triangle_count
from peregrine_spark.patterns.small_graph import PatternGenerator, SmallGraph
from peregrine_spark.graph.build import symmetrized
from peregrine_spark.similarity.ann import (
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from peregrine_spark.supersteps.components import connected_components
from peregrine_spark.supersteps.labelprop import label_propagation
from peregrine_spark.supersteps.pagerank import pagerank
from peregrine_spark.text.analysis import (
    STOPWORDS,
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_stats_by,
)
from peregrine_spark.text.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from peregrine_spark.streaming.windows import (
    session_agg_batch,
    sliding_agg,
    tumbling_agg,
)

# ---------------------------------------------------------------------------
# shared inputs
# ---------------------------------------------------------------------------

# checkout of the reference implementation: its citeseer dataset and the
# committed truth files the citeseer_* entries are checked against. Expected
# beside this repository unless PEREGRINE_REFERENCE names another directory;
# without it the citeseer oracles are left out.
REFERENCE = Path(
    os.environ.get("PEREGRINE_REFERENCE")
    or Path(__file__).resolve().parent.parent / "reference"
)
CC_FILTER = "l_quantity <= 3"  # sparser subgraph -> many components
MOTIF5_FILTER = "l_quantity <= 8"  # ~2.5k edges, max degree ~10: 5-motifs tractable
FSM3_SUPPORT = 50  # prunes ~1/3 of labelled wedges; triangles all infrequent
FSM4_SUPPORT = 90  # with 3 labels keeps path-4/star-4 shapes frequent
FSM4_MOD = 3  # label cardinality for fsm_size4: fewer labels -> smaller
# labelled-candidate space at the 3-edge level and higher 4-vertex supports
KCORE_ROUNDS = 16  # unrolled SQL peel rounds; engine fixpoint < this at sf<=0.01

# reference query/p1.graph verbatim (4-vertex diamond = K4 minus (2,4))
P1_DIAMOND = SmallGraph(edges=[(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)])


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _edges(spark: SparkSession, sf_dir: str, filt: str | None = None) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    if filt:
        li = li.where(filt)
    return chain_edges(li, "l_orderkey", "l_partkey", ["l_linenumber"])


def _one_row(spark: SparkSession, value, name: str, typ: str) -> DataFrame:
    return spark.createDataFrame([(value,)], f"{name} {typ}")


def _tagged(**paths: DataFrame) -> DataFrame:
    """One entry for two physical paths of one query: each path's rows
    behind a leading ``path`` column holding its name (a column a path
    lacks is null). The oracle is the same tagged union
    (:func:`_tagged_sql`), so each path stays value-checked on its own."""
    a, b = (df.select(F.lit(name).alias("path"), "*") for name, df in paths.items())
    return a.unionByName(b, allowMissingColumns=True)


_RELABEL_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _relabelled_with_map(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Degree-relabelled edge table + (v, old, degree) id mapping,
    materialized once (localCheckpoint) before the k-way self-joins of
    pattern matching — without this every self-join leg re-runs the whole
    ingest chain (measured 3 parquet scans in one triangle plan). Memoized
    per (session, sf_dir): every pattern entry query shares one
    materialization, the way production queries share the canonical edge
    table written to the lakehouse once."""
    cached = _RELABEL_CACHE.get(sf_dir)
    if cached is not None and cached[0].sparkSession is spark:
        return cached
    rel, mapping = relabel_by_degree(_edges(spark, sf_dir))
    rel = rel.localCheckpoint()
    _RELABEL_CACHE[sf_dir] = (rel, mapping)
    return rel, mapping


def _relabelled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _relabelled_with_map(spark, sf_dir)[0]


# SQL fragments mirrored by the Spark derivations above ----------------------

def _e_sql(filt: str | None = None) -> str:
    where = f" WHERE {filt}" if filt else ""
    return f"""SELECT DISTINCT least(p, pp) AS src, greatest(p, pp) AS dst FROM (
  SELECT l_partkey AS p,
         lag(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_partkey, l_linenumber) AS pp
  FROM lineitem{where}
) WHERE pp IS NOT NULL AND p <> pp"""


SYM_SQL = "SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e"

# degree-descending rank relabel + low-degree->high-degree orientation — the
# oracle mirror of relabel_by_degree + fast_counts.oriented
ORIENT_SQL = """
deg AS (SELECT src AS v, count(*) AS degree FROM sym GROUP BY 1),
rnk AS (SELECT v, row_number() OVER (ORDER BY degree DESC, v) AS r FROM deg),
o AS MATERIALIZED (
  SELECT greatest(ra.r, rb.r) AS src, least(ra.r, rb.r) AS dst
  FROM e JOIN rnk ra ON ra.v = e.src JOIN rnk rb ON rb.v = e.dst)"""

TOKS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _tagged_sql(**paths: str) -> str:
    """The oracle of a :func:`_tagged` entry: each path's query behind its
    name, unioned by column name."""
    return "\nUNION ALL BY NAME\n".join(
        f"SELECT '{name}' AS path, * FROM (\n{sql})" for name, sql in paths.items()
    )


def _pagerank_sql(iters: int, damping: float = 0.85) -> str:
    parts = [
        f"WITH e AS ({_e_sql()})",
        f"sym AS ({SYM_SQL})",
        "deg AS (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1)",
        "n AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT v, deg, CAST(1 AS DOUBLE) / n.n AS rank FROM deg, n)",
    ]
    d = "CAST(0.85 AS DOUBLE)"
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT sym.dst AS v, sum(r{i-1}.rank / r{i-1}.deg) AS inflow "
            f"FROM sym JOIN r{i-1} ON sym.src = r{i-1}.v GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT r{i-1}.v, r{i-1}.deg, "
            f"(1 - {d}) / n.n + {d} * coalesce(c{i}.inflow, 0) AS rank "
            f"FROM r{i-1} LEFT JOIN c{i} ON r{i-1}.v = c{i}.v, n)"
        )
    return ",\n".join(parts) + f"\nSELECT v, round(rank, 6) AS rank FROM r{iters}"


def _ppr_sql(iters: int) -> str:
    """Personalized PageRank from the highest-degree vertex (same
    (deg DESC, v) root as the bfs_hops oracle): teleport mass 1 at the
    root, 0 elsewhere; otherwise identical unrolled iteration to
    :func:`_pagerank_sql` with the teleport column carried through."""
    parts = [
        f"WITH e AS ({_e_sql()})",
        f"sym AS ({SYM_SQL})",
        "deg AS (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1)",
        "root AS (SELECT v FROM deg ORDER BY deg DESC, v LIMIT 1)",
        "r0 AS (SELECT v, deg, tp, tp AS rank FROM (SELECT deg.v, deg.deg, "
        "CASE WHEN deg.v = root.v THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END "
        "AS tp FROM deg, root))",
    ]
    d = "CAST(0.85 AS DOUBLE)"
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT sym.dst AS v, sum(r{i-1}.rank / r{i-1}.deg) AS inflow "
            f"FROM sym JOIN r{i-1} ON sym.src = r{i-1}.v GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT r{i-1}.v, r{i-1}.deg, r{i-1}.tp, "
            f"(1 - {d}) * r{i-1}.tp + {d} * coalesce(c{i}.inflow, 0) AS rank "
            f"FROM r{i-1} LEFT JOIN c{i} ON r{i-1}.v = c{i}.v)"
        )
    return ",\n".join(parts) + f"\nSELECT v, round(rank, 6) AS rank FROM r{iters}"


def _inj_hom_sql(p) -> tuple[str, str]:
    """(FROM clause, WHERE clause) counting *injective homomorphisms* of
    unlabelled pattern ``p`` into the ``sym`` view: one sym leg per pattern
    edge (ordered connectedly), equality constraints tying shared vertices,
    ``<>`` for non-adjacent pairs. Dividing by |Aut(p)| gives the
    edge-induced count — a formulation fully independent of the engine's
    symmetry-breaking compiler (different uniqueness mechanism, same math).
    """
    edges = list(p.true_edges())
    ordered = [edges[0]]
    seen = set(edges[0])
    rest = edges[1:]
    while rest:
        for k, (u, v) in enumerate(rest):
            if u in seen or v in seen:
                ordered.append((u, v))
                seen |= {u, v}
                rest.pop(k)
                break
        else:
            raise ValueError("pattern not connected")
    var: dict[int, str] = {}
    froms, conds = [], []
    for k, (u, v) in enumerate(ordered, 1):
        t = f"s{k}"
        froms.append(f"sym {t}")
        if u in var and v in var:
            conds += [f"{t}.src = {var[u]}", f"{t}.dst = {var[v]}"]
        elif u in var:
            conds.append(f"{t}.src = {var[u]}")
            var[v] = f"{t}.dst"
        elif v in var:
            conds.append(f"{t}.src = {var[v]}")
            var[u] = f"{t}.dst"
        else:
            var[u], var[v] = f"{t}.src", f"{t}.dst"
    eset = {(min(u, v), max(u, v)) for u, v in edges}
    vs = sorted(var)
    for i in range(len(vs)):
        for j in range(i + 1, len(vs)):
            if (vs[i], vs[j]) not in eset:
                conds.append(f"{var[vs[i]]} <> {var[vs[j]]}")
    return (
        ", ".join(froms),
        (" WHERE " + " AND ".join(conds)) if conds else "",
        var,
    )


def _pattern_oracle_sql(p, alias: str, filt: str | None = None) -> str:
    """Injective-homomorphism count / |Aut| of an arbitrary unlabelled
    pattern — a uniqueness mechanism fully independent of the engine's
    symmetry-breaking compiler."""
    from peregrine_spark.patterns.canonical import automorphisms

    frm, whr, _ = _inj_hom_sql(p)
    aut = len(automorphisms(p))
    return (
        f"WITH e AS MATERIALIZED ({_e_sql(filt)}), sym AS MATERIALIZED ({SYM_SQL})\n"
        f"SELECT CAST((SELECT count(*) FROM {frm}{whr}) // {aut} AS BIGINT) AS {alias}"
    )


def _motif_oracle_sql(size: int, filt: str) -> str:
    """Vertex-induced k-motif counts: per pattern, injective-hom count /
    |Aut| (edge-induced), then the downward-closure conversion with literal
    num_mappings coefficients — two independent roads vs the Spark side
    (which matches with symmetry-break predicates and converts driver-side).
    """
    from peregrine_spark.patterns.canonical import automorphisms
    from peregrine_spark.plans.counts import num_mappings

    pats = PatternGenerator.all(size, vertex_based=False)
    parts = [
        f"WITH e AS MATERIALIZED ({_e_sql(filt)})",
        f"sym AS MATERIALIZED ({SYM_SQL})",
    ]
    for i, p in enumerate(pats):
        frm, whr, _ = _inj_hom_sql(p)
        aut = len(automorphisms(p))
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
        # chained v{i} references below would expand exponentially.
        parts.append(
            f"ec{i} AS MATERIALIZED (SELECT (SELECT count(*) FROM {frm}{whr}) // {aut} AS c)"
        )
    order = sorted(range(len(pats)), key=lambda i: -pats[i].num_true_edges)
    for i in order:
        p = pats[i]
        terms = [
            f"{num_mappings(p, pats[j])} * (SELECT c FROM v{j})"
            for j in order
            if pats[j].num_true_edges > p.num_true_edges and num_mappings(p, pats[j])
        ]
        expr = f"(SELECT c FROM ec{i})" + (
            f" - ({' + '.join(terms)})" if terms else ""
        )
        parts.append(f"v{i} AS MATERIALIZED (SELECT {expr} AS c)")
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS pattern_id,"
        f" CAST({pats[i].num_true_edges} AS BIGINT) AS pattern_edges,"
        f" CAST((SELECT c FROM v{i}) AS BIGINT) AS cnt"
        for i in range(len(pats))
    )
    return ",\n".join(parts) + f"\nSELECT * FROM ({rows})"


def _motif_edge_oracle_sql(size: int, filt: str) -> str:
    """EDGE-induced k-motif counts (no downward-closure conversion —
    oracles the raw matcher output the way truth/4m-edge.txt does for the
    reference): per pattern, injective-hom count / |Aut|."""
    from peregrine_spark.patterns.canonical import automorphisms

    pats = PatternGenerator.all(size, vertex_based=False)
    rows = []
    for i, p in enumerate(pats):
        frm, whr, _ = _inj_hom_sql(p)
        aut = len(automorphisms(p))
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS pattern_id,"
            f" CAST({p.num_true_edges} AS BIGINT) AS pattern_edges,"
            f" CAST((SELECT count(*) FROM {frm}{whr}) // {aut} AS BIGINT) AS cnt"
        )
    return (
        f"WITH e AS MATERIALIZED ({_e_sql(filt)}),\n"
        f"sym AS MATERIALIZED ({SYM_SQL})\n"
        "SELECT * FROM (" + " UNION ALL ".join(rows) + ")"
    )


# reference shapes for every connected pattern with <= 4 vertices, in a FIXED
# vertex numbering both the SQL oracle and the driver-side key share
_FSM4_SHAPES: dict[str, "SmallGraph"] = {}


def _fsm4_shapes() -> dict[str, "SmallGraph"]:
    if not _FSM4_SHAPES:
        _FSM4_SHAPES.update(
            {
                "edge": SmallGraph(edges=[(1, 2)]),
                "wedge": SmallGraph(edges=[(1, 2), (1, 3)]),
                "triangle": SmallGraph(edges=[(1, 2), (1, 3), (2, 3)]),
                "path4": SmallGraph(edges=[(1, 2), (2, 3), (3, 4)]),
                "star4": SmallGraph(edges=[(1, 2), (1, 3), (1, 4)]),
                "cycle4": SmallGraph(edges=[(1, 2), (2, 3), (3, 4), (1, 4)]),
                "paw": SmallGraph(edges=[(1, 2), (1, 3), (2, 3), (3, 4)]),
                "diamond": SmallGraph(
                    edges=[(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
                ),
                "k4": SmallGraph(
                    edges=[(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
                ),
            }
        )
    return _FSM4_SHAPES


def _shape_and_key(g) -> tuple[str, str]:
    """(shape name, canonical label key) of a fully-labelled pattern with
    <= 4 vertices. The key is the lexicographic MIN over all isomorphisms
    g -> reference-shape of the comma-joined labels read in the reference
    shape's vertex order — exactly the ``least()``-over-automorphisms the
    SQL oracle computes, so strings match iff the labelled patterns are
    isomorphic. Labels are single digits here (v % 5), so string order ==
    numeric order."""
    import itertools as _it

    es = {tuple(sorted(e)) for e in g.true_edges()}
    for name, R in _fsm4_shapes().items():
        if R.num_vertices != g.num_vertices or R.num_true_edges != len(es):
            continue
        rvs = sorted(R.vertices)
        res_edges = [tuple(sorted(e)) for e in R.true_edges()]
        best = None
        for perm in _it.permutations(sorted(g.vertices)):
            f = dict(zip(rvs, perm))
            if all(tuple(sorted((f[a], f[b]))) in es for a, b in res_edges):
                key = ",".join(str(int(g.labels[f[i]])) for i in rvs)
                best = key if best is None or key < best else best
        if best is not None:
            return name, best
    raise ValueError(f"no <=4-vertex shape matches {g.to_string()}")


def _fsm_mni_oracle_sql(filt: str, support: int, mod: int = 5) -> str:
    """MNI supports of every labelled pattern with <= 4 vertices at
    threshold ``support`` — the injective-homomorphism-domain formulation:
    per shape, enumerate ALL inj-homs (closed under automorphism, so the
    per-position distinct counts ARE the reference's orbit domains —
    cf. the l1=l2 union-domain case of _fsm3_oracle_sql), group by the
    least()-over-automorphisms canonical label key, min over positions.
    Fully independent of the engine's matcher, symmetry-breaking AND its
    level-wise search (MNI anti-monotonicity makes the searches coincide).
    """
    from peregrine_spark.patterns.canonical import automorphisms

    parts = [
        f"WITH e AS MATERIALIZED ({_e_sql(filt)})",
        f"sym AS MATERIALIZED ({SYM_SQL})",
        f"lab AS MATERIALIZED (SELECT DISTINCT src AS v, src % {mod} AS label FROM sym)",
    ]
    unions = []
    for name, R in _fsm4_shapes().items():
        k = R.num_vertices
        rvs = sorted(R.vertices)
        pos = {v: j for j, v in enumerate(rvs, 1)}
        frm, whr, var = _inj_hom_sql(R)
        sel = ", ".join(f"{var[v]} AS v{pos[v]}" for v in rvs)
        parts.append(f"h_{name} AS MATERIALIZED (SELECT {sel} FROM {frm}{whr})")
        labjoin = " ".join(
            f"JOIN lab b{j} ON b{j}.v = h.v{j}" for j in range(1, k + 1)
        )
        vcols = ", ".join(f"h.v{j}" for j in range(1, k + 1))
        lcols = ", ".join(f"b{j}.label AS l{j}" for j in range(1, k + 1))
        parts.append(
            f"lh_{name} AS MATERIALIZED (SELECT {vcols}, {lcols} "
            f"FROM h_{name} h {labjoin})"
        )
        ls = ", ".join(f"l{j}" for j in range(1, k + 1))
        # domains per RAW label tuple + position: automorphic images of a
        # tuple only share rows when the automorphism FIXES the tuple — the
        # reference's union-domain case for symmetric equal-label positions
        # — never across distinct (but isomorphic) tuples, whose positions
        # must not mix
        dom = " UNION ALL ".join(
            f"SELECT {ls}, {j} AS pos, v{j} AS v FROM lh_{name}"
            for j in range(1, k + 1)
        )
        parts.append(
            f"d_{name} AS (SELECT {ls}, pos, count(DISTINCT v) AS d "
            f"FROM ({dom}) GROUP BY ALL)"
        )
        keys = []
        for a in automorphisms(R):
            keys.append(
                "concat_ws(','," + ",".join(f"l{pos[a[v]]}" for v in rvs) + ")"
            )
        key_expr = keys[0] if len(keys) == 1 else "least(" + ", ".join(keys) + ")"
        parts.append(
            f"s_{name} AS (SELECT {key_expr} AS lkey, min(d) AS support "
            f"FROM d_{name} GROUP BY {ls})"
        )
        unions.append(
            f"SELECT '{name}' AS shape, lkey AS labels, "
            f"CAST(min(support) AS BIGINT) AS support FROM s_{name} GROUP BY lkey"
        )
    return (
        ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(unions)
        + f") WHERE support >= {support}"
    )


def _kcore_oracle_sql(k: int, rounds: int, filt: str | None = None) -> str:
    """Edges of the k-core by ``rounds`` unrolled peel iterations (each:
    degrees on the surviving edge set, keep vertices with degree >= k,
    keep edges with both endpoints kept). The engine peels to convergence,
    so the oracle must have converged too: the final SELECT asserts the
    last two rounds are identical in size (the peel is monotone decreasing,
    so equal counts == fixpoint) and raises a DuckDB error('...') —
    an unmistakable harness failure, not a silently-larger edge set — if
    ``rounds`` stopped short at this scale."""
    parts = [f"WITH e AS MATERIALIZED ({_e_sql(filt)})", "p0 AS (SELECT src, dst FROM e)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT v FROM (SELECT src AS v FROM p{i-1} "
            f"UNION ALL SELECT dst FROM p{i-1}) GROUP BY v HAVING count(*) >= {k})"
        )
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT p.src, p.dst FROM p{i-1} p "
            f"JOIN d{i} a ON a.v = p.src JOIN d{i} b ON b.v = p.dst)"
        )
    parts.append(
        "conv AS (SELECT CASE WHEN "
        f"(SELECT count(*) FROM p{rounds}) = (SELECT count(*) FROM p{rounds-1}) "
        f"THEN true ELSE error('kcore oracle unconverged after {rounds} rounds "
        "- raise KCORE_ROUNDS for this scale') END AS ok)"
    )
    return ",\n".join(parts) + f"\nSELECT src, dst FROM p{rounds}, conv WHERE conv.ok"


KTRUSS_ROUNDS = 12  # sf0.01 fixpoint measured at 10 peel rounds


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    """Edges of the k-truss by ``rounds`` unrolled peel iterations (each:
    enumerate triangles a<b<c on the surviving edge set, count per-edge
    support over the three stacked canonical edges, keep support >= k-2).
    Same convergence discipline as :func:`_kcore_oracle_sql`: the peel is
    monotone decreasing, so the final SELECT asserts the last two rounds
    are equal in size and error()s if ``rounds`` stopped short."""
    parts = [f"WITH e AS MATERIALIZED ({_e_sql()})", "p0 AS (SELECT src, dst FROM e)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"t{i} AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
            f"FROM p{i-1} e1 JOIN p{i-1} e2 ON e2.src = e1.dst "
            f"JOIN p{i-1} e3 ON e3.src = e1.src AND e3.dst = e2.dst)"
        )
        parts.append(
            f"s{i} AS (SELECT src, dst, count(*) AS s FROM ("
            f"SELECT a AS src, b AS dst FROM t{i} "
            f"UNION ALL SELECT b AS src, c AS dst FROM t{i} "
            f"UNION ALL SELECT a AS src, c AS dst FROM t{i}) GROUP BY 1, 2)"
        )
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT p.src, p.dst FROM p{i-1} p "
            f"JOIN s{i} s ON s.src = p.src AND s.dst = p.dst WHERE s.s >= {k - 2})"
        )
    parts.append(
        "conv AS (SELECT CASE WHEN "
        f"(SELECT count(*) FROM p{rounds}) = (SELECT count(*) FROM p{rounds-1}) "
        f"THEN true ELSE error('ktruss oracle unconverged after {rounds} rounds "
        "- raise KTRUSS_ROUNDS for this scale') END AS ok)"
    )
    return ",\n".join(parts) + f"\nSELECT src, dst FROM p{rounds}, conv WHERE conv.ok"


def _fsm3_oracle_sql(filt: str, support: int) -> str:
    """MNI supports of every labelled pattern with <= 3 vertices (edge /
    wedge / triangle, labels = v % 5) at threshold ``support`` — closed-form
    per shape, independent of the engine's matcher AND of its level-wise
    search (anti-monotonicity guarantees the searches coincide)."""
    return f"""WITH e AS MATERIALIZED ({_e_sql(filt)}),
sym AS ({SYM_SQL}),
lab AS (SELECT DISTINCT src AS v, src % 5 AS label FROM sym),
el AS (SELECT least(la.label, lb.label) AS l1, greatest(la.label, lb.label) AS l2,
              CASE WHEN la.label <= lb.label THEN e.src ELSE e.dst END AS va,
              CASE WHEN la.label <= lb.label THEN e.dst ELSE e.src END AS vb
       FROM e JOIN lab la ON la.v = e.src JOIN lab lb ON lb.v = e.dst),
eagg AS (SELECT l1, l2, count(DISTINCT va) AS ca, count(DISTINCT vb) AS cb FROM el GROUP BY 1,2),
euni AS (SELECT l1, l2, count(DISTINCT x) AS cu FROM (SELECT l1, l2, unnest([va, vb]) AS x FROM el) GROUP BY 1,2),
esup AS (SELECT 'edge' AS shape, eagg.l1, eagg.l2, CAST(-1 AS BIGINT) AS l3,
                CAST(CASE WHEN eagg.l1 = eagg.l2 THEN euni.cu ELSE least(eagg.ca, eagg.cb) END AS BIGINT) AS support
         FROM eagg JOIN euni ON eagg.l1 = euni.l1 AND eagg.l2 = euni.l2),
w AS (SELECT s1.src AS c, s1.dst AS a, s2.dst AS b
      FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst),
wcanon AS (SELECT lc.label AS lc, least(la.label, lb.label) AS l2, greatest(la.label, lb.label) AS l3,
                  w.c, CASE WHEN la.label <= lb.label THEN w.a ELSE w.b END AS va,
                  CASE WHEN la.label <= lb.label THEN w.b ELSE w.a END AS vb
           FROM w JOIN lab lc ON lc.v = w.c JOIN lab la ON la.v = w.a JOIN lab lb ON lb.v = w.b),
wagg AS (SELECT lc, l2, l3, count(DISTINCT c) AS cc, count(DISTINCT va) AS ca, count(DISTINCT vb) AS cb FROM wcanon GROUP BY 1,2,3),
wuni AS (SELECT lc, l2, l3, count(DISTINCT x) AS cu FROM (SELECT lc, l2, l3, unnest([va, vb]) AS x FROM wcanon) GROUP BY 1,2,3),
wsup AS (SELECT 'wedge' AS shape, wagg.lc AS l1, wagg.l2, CAST(wagg.l3 AS BIGINT) AS l3,
                CAST(CASE WHEN wagg.l2 = wagg.l3 THEN least(wagg.cc, wuni.cu) ELSE least(wagg.cc, wagg.ca, wagg.cb) END AS BIGINT) AS support
         FROM wagg JOIN wuni ON wagg.lc = wuni.lc AND wagg.l2 = wuni.l2 AND wagg.l3 = wuni.l3),
tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
        JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
tk AS (SELECT lx.label AS lx, ly.label AS ly, lz.label AS lz, x, y, z,
              least(lx.label, ly.label, lz.label) AS l1,
              greatest(lx.label, ly.label, lz.label) AS l3
       FROM tri JOIN lab lx ON lx.v = x JOIN lab ly ON ly.v = y JOIN lab lz ON lz.v = z),
texp AS (SELECT l1, lx + ly + lz - l1 - l3 AS l2, l3, lx AS lbl, x AS v FROM tk
         UNION ALL SELECT l1, lx + ly + lz - l1 - l3, l3, ly, y FROM tk
         UNION ALL SELECT l1, lx + ly + lz - l1 - l3, l3, lz, z FROM tk),
tdom AS (SELECT l1, l2, l3, lbl, count(DISTINCT v) AS d FROM texp GROUP BY l1, l2, l3, lbl),
tsup AS (SELECT 'triangle' AS shape, l1, l2, CAST(l3 AS BIGINT) AS l3, CAST(min(d) AS BIGINT) AS support FROM tdom GROUP BY l1, l2, l3)
SELECT shape, CAST(l1 AS BIGINT) AS l1, CAST(l2 AS BIGINT) AS l2, l3, support
FROM (SELECT * FROM esup UNION ALL SELECT * FROM wsup UNION ALL SELECT * FROM tsup)
WHERE support >= {support}"""


def _labelprop_sql(iters: int, filt: str) -> str:
    parts = [
        f"WITH e AS ({_e_sql(filt)})",
        f"sym AS ({SYM_SQL})",
        "verts AS (SELECT DISTINCT src AS v FROM sym)",
        "s0 AS (SELECT v, v AS label FROM verts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"f{i} AS (SELECT sym.dst AS v, s{i-1}.label, count(*) AS c "
            f"FROM sym JOIN s{i-1} ON sym.src = s{i-1}.v GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i} AS (SELECT v, label FROM (SELECT v, label, "
            f"row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC) AS rn "
            f"FROM f{i}) WHERE rn = 1)"
        )
        parts.append(
            f"s{i} AS (SELECT verts.v, coalesce(b{i}.label, verts.v) AS label "
            f"FROM verts LEFT JOIN b{i} ON verts.v = b{i}.v)"
        )
    return ",\n".join(parts) + f"\nSELECT v, label FROM s{iters}"


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact triangle count of the lineitem link graph at
    sf0.001, via degree-relabelled ids + degree-oriented two-join plan."""
    edges = _edges(spark, "/root/testdata/sf0.001")
    rel, _ = relabel_by_degree(edges)
    return triangle_count(rel)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- pattern matching tier ---------------------------------------------
    def q_triangle(spark, sf_dir):
        # two paths: the direct count, and on-the-fly aggregation (C10,
        # core/Peregrine.hh:453-463), where the match space is chunked on
        # the first matching-order vertex's id range, one Spark job per
        # chunk, the driver merging the running count between jobs (each
        # merge = the reference's 300 ms aggregator tick; a callback can
        # stop() on the running value). Run to completion the partial sums
        # are exact, so the chunk partitioning itself is value-checked.
        rel = _relabelled(spark, sf_dir)
        res = count_incremental(rel, PatternGenerator.clique(3), chunks=4)
        assert res.completed and res.chunks_run == 4
        return _tagged(
            direct=triangle_count(rel).select(
                F.col("triangles").cast("long").alias("triangles")
            ),
            incremental=_one_row(spark, int(res.value), "triangles", "long"),
        )

    q["triangle_count"] = q_triangle

    def q_wedge(spark, sf_dir):
        rel = _relabelled(spark, sf_dir)
        m = match(rel, PatternGenerator.star(3))
        return m.agg(F.count(F.lit(1)).cast("long").alias("wedges"))

    q["wedge_count"] = q_wedge

    def q_4clique(spark, sf_dir):
        rel = _relabelled(spark, sf_dir)
        m = match(rel, PatternGenerator.clique(4))
        return m.agg(F.count(F.lit(1)).cast("long").alias("four_cliques"))

    q["four_clique_count"] = q_4clique

    def q_4cycle(spark, sf_dir):
        # two paths: the generic compiler, and the closed-form wedge-pair
        # count (sum C(common-neighbours, 2) / 2)
        rel = _relabelled(spark, sf_dir)
        m = match(rel, PatternGenerator.cycle(4))
        return _tagged(
            compiler=m.agg(F.count(F.lit(1)).cast("long").alias("four_cycles")),
            closed_form=cycle4_count(rel).select(F.col("cnt").alias("four_cycles")),
        )

    q["four_cycle_count"] = q_4cycle

    def q_motif3(spark, sf_dir):
        rel = _relabelled(spark, sf_dir)
        res = count_motifs(rel, 3, vertex_induced=True)
        rows = sorted(
            (int(p.num_true_edges), int(c)) for p, c in res
        )
        return spark.createDataFrame(rows, "pattern_edges long, cnt long")

    q["motif3_vertex_induced"] = q_motif3

    def q_motif5(spark, sf_dir):
        rel, _ = relabel_by_degree(_edges(spark, sf_dir, MOTIF5_FILTER))
        rel = rel.localCheckpoint()
        res = count_motifs(rel, 5, vertex_induced=True, concurrency=6)
        rows = [(i, int(p.num_true_edges), int(c)) for i, (p, c) in enumerate(res)]
        return spark.createDataFrame(rows, "pattern_id long, pattern_edges long, cnt long")

    q["motif5_vertex_induced"] = q_motif5

    def q_motif4_edge(spark, sf_dir):
        # EDGE-induced 4-motif vector straight off the matcher — the
        # non-converted counting path (truth/4m-edge.txt semantics),
        # oracled by injective-hom / |Aut| per pattern
        rel, _ = relabel_by_degree(_edges(spark, sf_dir, MOTIF5_FILTER))
        rel = rel.localCheckpoint()
        res = count_motifs(rel, 4, vertex_induced=False, concurrency=6)
        rows = [(i, int(p.num_true_edges), int(c)) for i, (p, c) in enumerate(res)]
        return spark.createDataFrame(rows, "pattern_id long, pattern_edges long, cnt long")

    q["motif4_edge_induced"] = q_motif4_edge

    def q_induced_wedge(spark, sf_dir):
        # wedge with an anti-edge between the leaves -> LEFT ANTI join
        # against the edge table (M4); equals wedges - 3*triangles
        rel = _relabelled(spark, sf_dir)
        p = SmallGraph(edges=[(1, 2), (1, 3)], anti_edges=[(2, 3)])
        m = match(rel, p)
        return m.agg(F.count(F.lit(1)).cast("long").alias("induced_wedges"))

    q["induced_wedge_count"] = q_induced_wedge

    def q_isolated_edges(spark, sf_dir):
        # edge with an anti-VERTEX adjacent to both endpoints (M9): count of
        # edges that are in no triangle (no common neighbour)
        rel = _relabelled(spark, sf_dir)
        p = SmallGraph(edges=[(1, 2)], anti_edges=[(1, 3), (2, 3)])
        m = match(rel, p)
        return m.agg(F.count(F.lit(1)).cast("long").alias("non_triangle_edges"))

    q["isolated_edge_count"] = q_isolated_edges

    def q_5clique_exists(spark, sf_dir):
        rel = _relabelled(spark, sf_dir)
        return _one_row(
            spark, existence(rel, PatternGenerator.clique(5)), "found", "boolean"
        )

    q["five_clique_existence"] = q_5clique_exists

    def q_mni_wedge(spark, sf_dir):
        rel = _relabelled(spark, sf_dir)
        m = match(rel, PatternGenerator.star(3))
        s = mni_support(m, PatternGenerator.star(3))
        return _one_row(spark, s, "support", "long")

    q["mni_support_wedge"] = q_mni_wedge

    def q_support_threshold(spark, sf_dir):
        # stoppable aggregation (reference handle.stop() analogue): answers
        # "is wedge MNI support >= T" with early termination — the low
        # threshold short-circuits after T distinct vertices, the high one
        # bails on the incremental pre-probe
        rel = _relabelled(spark, sf_dir)
        wedge = PatternGenerator.star(3)
        rows = [
            (int(t), bool(support_at_least(rel, wedge, t)))
            for t in (1500, 5_000_000)
        ]
        return spark.createDataFrame(rows, "threshold long, reached boolean")

    q["support_threshold_wedge"] = q_support_threshold

    def q_seven_star(spark, sf_dir):
        # 7-vertex star via the closed-form fast path: sum_v C(deg(v), 6)
        # with exact integer binomials (no join at all)
        rel = _relabelled(spark, sf_dir)
        return star_count(rel, 7).select(F.col("cnt").alias("seven_stars"))

    q["seven_star_count"] = q_seven_star

    def q_seven_cycle(spark, sf_dir):
        # a 7-vertex NON-star pattern through the GENERIC compiler (deep
        # 7-leg join regime — stars take the closed-form fast path, this
        # can't): 7-cycle on the sparser MOTIF5_FILTER graph, oracled by
        # injective-hom / |Aut| = 14
        rel, _ = relabel_by_degree(_edges(spark, sf_dir, MOTIF5_FILTER))
        rel = rel.localCheckpoint()
        m = match(rel, PatternGenerator.cycle(7))
        return m.agg(F.count(F.lit(1)).cast("long").alias("seven_cycles"))

    q["seven_cycle_count"] = q_seven_cycle

    def q_output_triangles(spark, sf_dir):
        # the S6/S7 match SINK end-to-end, one path per format: triangle
        # matches written REMAPPED to original vertex ids (the reference's
        # ids.bin remap, core/OutputManager.hh:130-143) to a dir-per-pattern
        # parquet sink, and to the PACKED-BINARY sink (the reference's
        # output<BIN>, core/OutputManager.hh:80-91: fixed 3x4-byte
        # little-endian u32 records, one file per partition, re-read
        # distributed via binaryFile + an Arrow unpack kernel). Each is
        # re-read from disk and normalized to sorted (a, b, c) — triangles
        # are id-invariant, so the oracle enumerates them on the ORIGINAL
        # ids directly, value-checking each format's whole write/remap/read
        # loop; a byte-layout bug value-mismatches
        import shutil
        import tempfile
        from pathlib import Path

        from peregrine_spark.graph.binfmt import read_matches_bin
        from peregrine_spark.operators.match import output

        rel, mapping = _relabelled_with_map(spark, sf_dir)
        id_dict = mapping.select("v", F.col("old").alias("key"))

        def round_trip(fmt, read):
            dest = tempfile.mkdtemp(prefix=f"peregrine_output_triangles_{fmt}_")
            try:
                output(rel, PatternGenerator.clique(3), dest, id_dict=id_dict, fmt=fmt)
                [pat_dir] = [p for p in Path(dest).iterdir() if p.is_dir()]
                back = read(pat_dir)
                v1, v2, v3 = (F.col(c) for c in back.columns)
                lo = F.least(v1, v2, v3)
                hi = F.greatest(v1, v2, v3)
                mid = (v1 + v2 + v3) - lo - hi
                # eagerly materialize the (small) normalized result so the
                # sink directory can be removed NOW — returning a lazy read
                # would leak a temp dir per CI/oracle run
                return back.select(
                    lo.cast("long").alias("a"),
                    mid.cast("long").alias("b"),
                    hi.cast("long").alias("c"),
                ).localCheckpoint(eager=True)
            finally:
                shutil.rmtree(dest, ignore_errors=True)

        return _tagged(
            parquet=round_trip("parquet", lambda d: spark.read.parquet(str(d))),
            bin=round_trip("bin", lambda d: read_matches_bin(spark, d, 3)),
        )

    q["output_triangles"] = q_output_triangles

    def q_p1_diamond(spark, sf_dir):
        # the reference's query/p1.graph (4-vertex diamond, K4 minus an
        # edge; README.md:91-94 counts it on citeseer) through the generic
        # pattern->join compiler
        rel = _relabelled(spark, sf_dir)
        m = match(rel, P1_DIAMOND)
        return m.agg(F.count(F.lit(1)).cast("long").alias("diamonds"))

    q["p1_diamond_count"] = q_p1_diamond

    def q_fsm_edges(spark, sf_dir):
        edges = _edges(spark, sf_dir)
        verts = (
            symmetrized(edges)
            .select(F.col("src").alias("v"))
            .distinct()
            .select("v", (F.col("v") % 5).alias("label"))
        )
        res = fsm(edges, verts, support=100, max_vertices=2)
        rows = sorted(
            (*sorted(int(l) for l in g.labels.values()), int(s)) for g, s in res
        )
        return spark.createDataFrame(rows, "la long, lb long, support long")

    q["fsm_labelled_edges"] = q_fsm_edges

    def q_fsm3(spark, sf_dir):
        edges = _edges(spark, sf_dir, MOTIF5_FILTER)
        verts = (
            symmetrized(edges)
            .select(F.col("src").alias("v"))
            .distinct()
            .select("v", (F.col("v") % 5).alias("label"))
        )
        res = fsm(edges, verts, support=FSM3_SUPPORT, max_vertices=3)
        rows = []
        for g, s in res:
            vs = g.vertices
            labs = [int(g.labels[v]) for v in vs]
            if g.num_vertices == 2:
                la, lb = sorted(labs)
                rows.append(("edge", la, lb, -1, int(s)))
            elif g.num_true_edges == 2:
                centre = next(v for v in vs if len(g.adj[v]) == 2)
                leaves = sorted(int(g.labels[v]) for v in vs if v != centre)
                rows.append(("wedge", int(g.labels[centre]), leaves[0], leaves[1], int(s)))
            else:
                l1, l2, l3 = sorted(labs)
                rows.append(("triangle", l1, l2, l3, int(s)))
        rows.sort()
        return spark.createDataFrame(
            rows, "shape string, l1 long, l2 long, l3 long, support long"
        )

    q["fsm_size3"] = q_fsm3

    def q_fsm4(spark, sf_dir):
        # one level past fsm_size3: 4-vertex labelled patterns (path-4,
        # star-4, cycle-4, paw, diamond, K4 shapes) where wildcard growth
        # and level batching genuinely compound; rows keyed by the
        # least-over-isomorphisms label string shared with the SQL oracle
        edges = _edges(spark, sf_dir, MOTIF5_FILTER)
        verts = (
            symmetrized(edges)
            .select(F.col("src").alias("v"))
            .distinct()
            .select("v", (F.col("v") % FSM4_MOD).alias("label"))
        )
        res = fsm(edges, verts, support=FSM4_SUPPORT, max_vertices=4)
        rows = sorted((*_shape_and_key(g), int(s)) for g, s in res)
        return spark.createDataFrame(rows, "shape string, labels string, support long")

    q["fsm_size4"] = q_fsm4

    def q_kcore(spark, sf_dir):
        # 3-core edge set via the iterative peel (the clique-existence
        # reducer), oracled by an unrolled peel in SQL
        from peregrine_spark.graph.build import kcore

        return kcore(_edges(spark, sf_dir), 3).select("src", "dst")

    q["kcore3_edges"] = q_kcore

    def q_ktruss(spark, sf_dir):
        from peregrine_spark.operators.triangles import ktruss

        return ktruss(_edges(spark, sf_dir), 4).select("src", "dst")

    q["ktruss4_edges"] = q_ktruss

    # -- degree / ingest tier ----------------------------------------------
    def q_deg_hist(spark, sf_dir):
        return (
            degrees(_edges(spark, sf_dir))
            .groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        )

    q["degree_histogram"] = q_deg_hist

    def q_top_degree(spark, sf_dir):
        rel, mapping = relabel_by_degree(_edges(spark, sf_dir))
        return (
            mapping.where(F.col("v") <= 20)
            .select(
                F.col("v").alias("rank"),
                F.col("old").alias("part"),
                F.col("degree").cast("long").alias("degree"),
            )
        )

    q["top_degree_vertices"] = q_top_degree

    def q_local_clustering(spark, sf_dir):
        # per-vertex analytics on the shared relabelled graph (degree-oriented
        # wedge join stays sqrt-bounded), reported on ORIGINAL part ids via
        # the (v, old) map — one broadcast-sized key join at this SF
        rel, mapping = _relabelled_with_map(spark, sf_dir)
        out = local_clustering(rel, id_map=mapping.select("v", "old"))
        return out.select(
            F.col("v").cast("long").alias("part"), "triangles", "degree", "clustering"
        )

    q["local_clustering"] = q_local_clustering

    def q_bfs_hops(spark, sf_dir):
        # hop distances from the highest-degree vertex (= relabelled id 1,
        # the same (degree DESC, id) tie-break the oracle's ORDER BY uses),
        # reported on ORIGINAL part ids; only reached vertices returned
        from peregrine_spark.supersteps.bfs import bfs_hops

        rel, mapping = _relabelled_with_map(spark, sf_dir)
        res = bfs_hops(rel, [1], max_iters=100)
        if not res.converged:
            raise RuntimeError("bfs_hops did not converge within 100 supersteps")
        out = res.state.where(F.col("dist").isNotNull()).join(
            mapping.select("v", "old"), "v"
        )
        return out.select(
            F.col("old").cast("long").alias("part"),
            F.col("dist").cast("long").alias("dist"),
        )

    q["bfs_hops"] = q_bfs_hops

    # -- vertex-program tier ------------------------------------------------
    def q_pagerank(spark, sf_dir):
        res = pagerank(_edges(spark, sf_dir), max_iters=3, tol=-1.0)
        return res.state.select("v", F.round("rank", 6).alias("rank"))

    q["pagerank3"] = q_pagerank

    def q_ppr(spark, sf_dir):
        # personalized from the highest-degree vertex — relabelled id 1's
        # ORIGINAL id, the same (degree DESC, id) root the oracle selects
        _, mapping = _relabelled_with_map(spark, sf_dir)
        root = mapping.where(F.col("v") == 1).collect()[0]["old"]
        res = pagerank(_edges(spark, sf_dir), max_iters=3, tol=-1.0, sources=[root])
        return res.state.select("v", F.round("rank", 6).alias("rank"))

    q["personalized_pagerank3"] = q_ppr

    def q_cc(spark, sf_dir):
        # min-label propagation needs ~diameter supersteps; retry with a
        # doubled budget rather than silently returning unconverged labels
        # (they would diverge from the recursive-SQL oracle).
        for max_iters in (64, 256, 1024):
            res = connected_components(_edges(spark, sf_dir, CC_FILTER), max_iters=max_iters)
            if res.converged:
                break
        assert res.converged, "connected_components did not converge"
        return res.state.select("v", "comp")

    q["connected_components"] = q_cc

    def q_cc_contraction(spark, sf_dir):
        # large-star/small-star contraction (Kiveris et al., SoCC'14):
        # O(log^2 n) rounds independent of diameter — the scale path for
        # long-chain graphs; must agree exactly with min-propagation
        res = connected_components(
            _edges(spark, sf_dir, CC_FILTER),
            max_iters=64,
            strategy="contraction",
        )
        assert res.converged, "contraction CC did not converge"
        return res.state.select("v", "comp")

    q["connected_components_contraction"] = q_cc_contraction

    def q_lp(spark, sf_dir):
        res = label_propagation(_edges(spark, sf_dir, CC_FILTER), max_iters=2)
        return res.state.select("v", "label")

    q["label_propagation2"] = q_lp

    # -- dedup tier ---------------------------------------------------------
    def q_exact_dedup(spark, sf_dir):
        return exact_dedup(_documents(spark, sf_dir))

    q["exact_dedup"] = q_exact_dedup

    def q_fp_dedup(spark, sf_dir):
        fp = fingerprint(_documents(spark, sf_dir))
        return fp.groupBy("fp").agg(
            F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
        )

    q["fingerprint_dedup"] = q_fp_dedup

    def q_jaccard(spark, sf_dir):
        return jaccard_pairs(_documents(spark, sf_dir), threshold=0.5, k=3)

    q["near_dup_jaccard"] = q_jaccard

    def q_minhash(spark, sf_dir):
        # bands = num_hashes (r=1): a qualifying pair (jaccard >= 0.5) is
        # missed only if all 64 per-hash minima differ — P ≈ 0.5^64 ≈ 5e-20,
        # and the exact-Jaccard verify step makes precision exact, so the
        # output EQUALS jaccard_pairs (validated at sf0.001/0.01/0.1); the
        # oracle is therefore the same SQL as near_dup_jaccard. Scale-path
        # banding (r=4 S-curve) stays the library default, recall-checked
        # in tests/test_text_pipeline.py.
        return minhash_lsh_pairs(
            _documents(spark, sf_dir), threshold=0.5, k=3, num_hashes=64, bands=64
        )

    q["near_dup_minhash_lsh"] = q_minhash

    def q_simhash(spark, sf_dir):
        # md5_32 hash: 32-bit simhash whose per-token hash (first 8 hex
        # chars of md5) is reproducible in ANSI SQL, so the oracle recomputes
        # the SAME signatures in DuckDB; bands=4 > max_hamming=3 keeps the
        # pigeonhole-exact guarantee. xxhash64 stays the scale-path default.
        return simhash_pairs(_documents(spark, sf_dir), max_hamming=3, hash_fn="md5_32")

    q["near_dup_simhash"] = q_simhash

    # -- text-analysis tier -------------------------------------------------
    def q_token_stats(spark, sf_dir):
        return token_stats_by(_documents(spark, sf_dir), "lang")

    q["token_stats_by_lang"] = q_token_stats

    def q_quality(spark, sf_dir):
        return quality_score(_documents(spark, sf_dir))

    q["quality_scores"] = q_quality

    def q_lang_id(spark, sf_dir):
        return lang_id(_documents(spark, sf_dir))

    q["lang_id"] = q_lang_id

    # -- similarity tier ----------------------------------------------------
    def q_topk(spark, sf_dir):
        emb = _embeddings(spark, sf_dir)
        out = cosine_topk(emb, emb.where(F.col("vec_id") < 24), k=5)
        return out.select(
            "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "sim"
        )

    q["embedding_topk"] = q_topk

    def q_topk_lsh(spark, sf_dir):
        # Value-oracled at the REAL operating point: the hyperplanes are
        # deterministic (ann.hyperplanes — hash-derived, no RNG), so the
        # DuckDB oracle replicates the whole sketch — same plane literals,
        # same sign-bit signatures, same 1-bit multi-probe bucket join,
        # same exact re-rank — rather than pinning a degenerate 100%-recall
        # config. dim=64 is pinned (testdata embeddings) so the entry is
        # action-free and the oracle's plane literals provably match.
        emb = _embeddings(spark, sf_dir)
        out = cosine_topk_lsh(
            emb, emb.where(F.col("vec_id") < 24), k=5, n_planes=6, dim=64
        )
        return out.select(
            "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "sim"
        )

    q["embedding_topk_lsh"] = q_topk_lsh

    def q_emb_near_dup(spark, sf_dir):
        # embedding-cosine near-dup pairs, exact all-pairs oracle baseline;
        # threshold is dataset-relative (the synthetic embeddings' max
        # pairwise cosine is ~0.51 — 0.4 selects the closest ~0.05%)
        return cosine_pairs(_embeddings(spark, sf_dir), threshold=0.4)

    q["embedding_near_dup"] = q_emb_near_dup

    def q_topk_ivf(spark, sf_dir):
        # Value-oracled at the real operating point (nprobe=6 of 16 cells —
        # genuine pruning): the quantizer is deterministic (stride-seeded by
        # vec_id + one Lloyd step, ivf_centroids), so the DuckDB oracle
        # retrains the SAME centroids in SQL and replicates assignment /
        # probing / exact re-rank end-to-end.
        emb = _embeddings(spark, sf_dir)
        out = cosine_topk_ivf(
            emb, emb.where(F.col("vec_id") < 24), k=5, n_cells=16, nprobe=6
        )
        return out.select(
            "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "sim"
        )

    q["embedding_topk_ivf"] = q_topk_ivf

    def q_emb_near_dup_lsh(spark, sf_dir):
        # Value-oracled at the library-default banding (n_planes=16,
        # bands=4): deterministic hyperplanes again let the DuckDB oracle
        # replicate signature → banded bucket join → exact verify exactly.
        return cosine_pairs_lsh(
            _embeddings(spark, sf_dir), threshold=0.4, n_planes=16, bands=4, dim=64
        )

    q["embedding_near_dup_lsh"] = q_emb_near_dup_lsh

    # -- multimodal tier ----------------------------------------------------
    def q_binary_features(spark, sf_dir):
        feats = extract_features(attach_payload(_documents(spark, sf_dir)))
        return feats.select("asset_id", "n_bytes", "sha256")

    q["binary_features"] = q_binary_features

    def q_frame_sample(spark, sf_dir):
        plan = frame_sample_plan(attach_payload(_documents(spark, sf_dir)))
        return plan

    q["frame_sample_plan"] = q_frame_sample

    # -- event-time windowing tier (batch form; streaming form is the same
    # logical query over readStream — tests/test_streaming.py proves parity)
    def _events(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/events.parquet")

    def q_tumbling(spark, sf_dir):
        # two window shapes over one event stream: hourly tumbling windows
        # per event type, and 1-hour windows sliding by 30 minutes over all
        # types (no event_type or total_value: null on those rows)
        def start_us(out):
            return F.unix_micros(out["window_start"].cast("timestamp")).alias("window_start_us")

        tumbling = tumbling_agg(_events(spark, sf_dir), "1 hour")
        sliding = sliding_agg(_events(spark, sf_dir), "1 hour", "30 minutes")
        return _tagged(
            tumbling=tumbling.select(
                start_us(tumbling), "event_type", "n_events", "total_value"
            ),
            sliding=sliding.select(start_us(sliding), "n_events"),
        )

    q["events_tumbling_hourly"] = q_tumbling

    def q_first_seen(spark, sf_dir):
        # the stateful-streaming tier under the hard signal: this is the
        # batch-equivalent of streaming_first_seen_events
        # (applyInPandasWithState), pinned equal to the streaming path in
        # tests/test_streaming.py::test_first_seen_stream_batch_parity
        from peregrine_spark.streaming.stateful import first_seen_events

        return first_seen_events(_events(spark, sf_dir))

    q["events_first_seen"] = q_first_seen

    def q_sessions(spark, sf_dir):
        out = session_agg_batch(_events(spark, sf_dir), "30 minutes")
        return out.select(
            "user_id",
            F.unix_micros(F.col("session_start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("session_end").cast("timestamp")).alias("session_end_us"),
            "n_events",
        )

    q["events_sessions"] = q_sessions

    # -- reference-truth parity tier: the data graph is the reference's OWN
    # committed citeseer dataset (loaded from its binary format,
    # core/DataGraph.cc:64-154) and the oracle is its OWN committed truth
    # (core/integrationtests/truth/*.txt, README.md:77-129) as SQL
    # literals — not a recomputation. tests/test_citeseer.py extends this
    # to 5m/6m vectors, FSM-to-4-edges and per-pattern MNI supports.
    def q_citeseer_4motifs(spark, sf_dir):
        from peregrine_spark.graph.binfmt import load_bin_graph
        from peregrine_spark.patterns.canonical import canonical_relabel
        from peregrine_spark.plans.counts import convert_counts

        edges, _ = load_bin_graph(spark, str(REFERENCE / "data" / "citeseer"))
        edges = edges.localCheckpoint()
        ei = count_motifs(edges, 4, vertex_induced=False, concurrency=6)
        vi = {p: c for p, c in convert_counts(ei)}  # keyed by canonical eq
        rows = sorted(
            (canonical_relabel(p).to_string(), int(c), int(vi[p]))
            for p, c in ei
        )
        return spark.createDataFrame(
            rows, "pattern string, edge_induced long, vertex_induced long"
        )

    q["citeseer_4motifs"] = q_citeseer_4motifs

    def q_citeseer_fsm3(spark, sf_dir):
        # the README's own flagship example (README.md:100-105): size-3
        # (edge-count) FSM at support 300 on citeseer
        from peregrine_spark.graph.binfmt import load_bin_graph
        from peregrine_spark.operators.fsm import fsm
        from peregrine_spark.patterns.canonical import canonical_relabel

        edges, vertices = load_bin_graph(spark, str(REFERENCE / "data" / "citeseer"))
        edges = edges.localCheckpoint()
        vertices = vertices.localCheckpoint()
        res = fsm(edges, vertices, support=300, max_vertices=4, max_edges=3)
        rows = sorted(
            (canonical_relabel(p).to_string(), int(s))
            for p, s in res
            if p.num_true_edges >= 2
        )
        return spark.createDataFrame(rows, "pattern string, support long")

    q["citeseer_fsm3"] = q_citeseer_fsm3

    return q


def oracle_sql() -> dict[str, str]:
    e = _e_sql()
    ef = _e_sql(CC_FILTER)
    stop = _sql_list(STOPWORDS)

    o: dict[str, str] = {}

    triangles = f"""WITH e AS ({e})
SELECT CAST(count(*) AS BIGINT) AS triangles
FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst"""
    # chunked counting partitions the match space exactly, so the
    # completed incremental count answers to the same query
    o["triangle_count"] = _tagged_sql(direct=triangles, incremental=triangles)

    o["wedge_count"] = f"""WITH e AS ({e}), sym AS ({SYM_SQL})
SELECT CAST(count(*) AS BIGINT) AS wedges
FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst"""

    o["four_clique_count"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}), {ORIENT_SQL},
tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM o e1 JOIN o e2 ON e2.src = e1.src AND e2.dst < e1.dst
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
SELECT CAST(count(*) AS BIGINT) AS four_cliques FROM tri
JOIN o ad ON ad.src = tri.a AND ad.dst < tri.c
JOIN o bd ON bd.src = tri.b AND bd.dst = ad.dst
JOIN o cd ON cd.src = tri.c AND cd.dst = ad.dst"""

    four_cycles = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL})
SELECT CAST(count(*) AS BIGINT) AS four_cycles
FROM sym ab JOIN sym bc ON bc.src = ab.dst
JOIN sym cd ON cd.src = bc.dst
JOIN sym da ON da.src = cd.dst AND da.dst = ab.src
WHERE ab.src < ab.dst AND ab.src < bc.dst AND ab.src < cd.dst AND ab.dst < cd.dst"""
    o["four_cycle_count"] = _tagged_sql(compiler=four_cycles, closed_form=four_cycles)

    o["motif3_vertex_induced"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}),
t AS (SELECT count(*) AS c FROM e e1
      JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
      JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
w AS (SELECT count(*) AS c FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst)
SELECT CAST(2 AS BIGINT) AS pattern_edges, CAST(w.c - 3 * t.c AS BIGINT) AS cnt FROM w, t
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(t.c AS BIGINT) FROM t"""

    o["motif5_vertex_induced"] = _motif_oracle_sql(5, MOTIF5_FILTER)
    o["motif4_edge_induced"] = _motif_edge_oracle_sql(4, MOTIF5_FILTER)
    o["fsm_size4"] = _fsm_mni_oracle_sql(MOTIF5_FILTER, FSM4_SUPPORT, FSM4_MOD)
    o["kcore3_edges"] = _kcore_oracle_sql(3, KCORE_ROUNDS)
    o["ktruss4_edges"] = _ktruss_oracle_sql(4, KTRUSS_ROUNDS)

    o["fsm_size3"] = _fsm3_oracle_sql(MOTIF5_FILTER, FSM3_SUPPORT)

    o["induced_wedge_count"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}),
t AS (SELECT count(*) AS c FROM e e1
      JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
      JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
w AS (SELECT count(*) AS c FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst)
SELECT CAST(w.c - 3 * t.c AS BIGINT) AS induced_wedges FROM w, t"""

    o["isolated_edge_count"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL})
SELECT CAST(count(*) AS BIGINT) AS non_triangle_edges
FROM e WHERE NOT EXISTS (
  SELECT 1 FROM sym s1 JOIN sym s2 ON s1.dst = s2.dst
  WHERE s1.src = e.src AND s2.src = e.dst)"""

    o["five_clique_existence"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}), {ORIENT_SQL},
tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM o e1 JOIN o e2 ON e2.src = e1.src AND e2.dst < e1.dst
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
four AS MATERIALIZED (
  SELECT tri.a, tri.b, tri.c, ad.dst AS d FROM tri
  JOIN o ad ON ad.src = tri.a AND ad.dst < tri.c
  JOIN o bd ON bd.src = tri.b AND bd.dst = ad.dst
  JOIN o cd ON cd.src = tri.c AND cd.dst = ad.dst)
SELECT count(*) > 0 AS found FROM four
JOIN o ae ON ae.src = four.a AND ae.dst < four.d
JOIN o be ON be.src = four.b AND be.dst = ae.dst
JOIN o ce ON ce.src = four.c AND ce.dst = ae.dst
JOIN o de ON de.src = four.d AND de.dst = ae.dst"""

    o["mni_support_wedge"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}),
m AS MATERIALIZED (
  SELECT e1.src AS c, e1.dst AS a, e2.dst AS b
  FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst)
SELECT CAST(least(
  (SELECT count(DISTINCT c) FROM m),
  (SELECT count(*) FROM (SELECT a AS x FROM m UNION SELECT b AS x FROM m))
) AS BIGINT) AS support"""

    o["support_threshold_wedge"] = f"""WITH e AS MATERIALIZED ({e}), sym AS ({SYM_SQL}),
m AS MATERIALIZED (
  SELECT e1.src AS c, e1.dst AS a, e2.dst AS b
  FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst),
s AS (SELECT least(
  (SELECT count(DISTINCT c) FROM m),
  (SELECT count(*) FROM (SELECT a AS x FROM m UNION SELECT b AS x FROM m))
) AS support)
SELECT CAST(t.threshold AS BIGINT) AS threshold, s.support >= t.threshold AS reached
FROM (VALUES (1500), (5000000)) AS t(threshold), s"""

    o["seven_star_count"] = f"""WITH e AS ({e}), sym AS ({SYM_SQL}),
deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY 1)
SELECT CAST(sum(CASE WHEN d >= 6
  THEN (d*(d-1)*(d-2)*(d-3)*(d-4)*(d-5)) // 720 ELSE 0 END) AS BIGINT) AS seven_stars
FROM deg"""

    o["p1_diamond_count"] = _pattern_oracle_sql(P1_DIAMOND, "diamonds")

    o["seven_cycle_count"] = _pattern_oracle_sql(
        PatternGenerator.cycle(7), "seven_cycles", MOTIF5_FILTER
    )

    # triangles listed on ORIGINAL vertex ids, sorted within the row —
    # exactly what either sink format emits after the ids-dictionary remap
    listed = f"""WITH e AS MATERIALIZED ({e})
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM e e1
JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst"""
    o["output_triangles"] = _tagged_sql(parquet=listed, bin=listed)

    o["fsm_labelled_edges"] = f"""WITH e AS MATERIALIZED ({e}),
el AS (SELECT src, dst, src % 5 AS ls, dst % 5 AS ld FROM e),
canon AS (
  SELECT least(ls, ld) AS la, greatest(ls, ld) AS lb,
         CASE WHEN ls <= ld THEN src ELSE dst END AS va,
         CASE WHEN ls <= ld THEN dst ELSE src END AS vb
  FROM el),
a AS (SELECT la, lb, count(DISTINCT va) AS ca, count(DISTINCT vb) AS cb
      FROM canon GROUP BY 1, 2),
u AS (SELECT la, lb, count(DISTINCT x) AS cu
      FROM (SELECT la, lb, unnest([va, vb]) AS x FROM canon) GROUP BY 1, 2)
SELECT a.la, a.lb,
       CAST(CASE WHEN a.la = a.lb THEN u.cu ELSE least(a.ca, a.cb) END AS BIGINT) AS support
FROM a JOIN u ON a.la = u.la AND a.lb = u.lb
WHERE CASE WHEN a.la = a.lb THEN u.cu ELSE least(a.ca, a.cb) END >= 100"""

    o["degree_histogram"] = f"""WITH e AS ({e}), sym AS ({SYM_SQL}),
deg AS (SELECT src AS v, count(*) AS degree FROM sym GROUP BY 1)
SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices FROM deg GROUP BY 1"""

    o["top_degree_vertices"] = f"""WITH e AS ({e}), sym AS ({SYM_SQL}),
deg AS (SELECT src AS v, count(*) AS degree FROM sym GROUP BY 1),
rnk AS (SELECT v, degree, row_number() OVER (ORDER BY degree DESC, v) AS r FROM deg)
SELECT CAST(r AS BIGINT) AS rank, v AS part, CAST(degree AS BIGINT) AS degree
FROM rnk WHERE r <= 20"""

    o["local_clustering"] = f"""WITH e AS ({e}), sym AS ({SYM_SQL}),
deg AS (SELECT src AS v, count(*) AS degree FROM sym GROUP BY 1),
t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tv AS (SELECT a AS v FROM t UNION ALL SELECT b AS v FROM t UNION ALL SELECT c AS v FROM t),
tc AS (SELECT v, count(*) AS triangles FROM tv GROUP BY 1)
SELECT CAST(d.v AS BIGINT) AS part,
       CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
       CAST(d.degree AS BIGINT) AS degree,
       round(CASE WHEN d.degree >= 2
             THEN 2.0 * coalesce(tc.triangles, 0) / (d.degree * (d.degree - 1.0))
             ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN tc ON tc.v = d.v"""

    # hop distances from the highest-degree vertex: recursive frontier walk,
    # UNION-deduped on (v, dist); min over dists = BFS distance. The 99-hop
    # bound only trims cycle re-visits — the Spark side raises if the true
    # eccentricity ever exceeded it (it converges in ~15 hops at this SF)
    o["bfs_hops"] = f"""WITH RECURSIVE e AS ({e}), sym AS ({SYM_SQL}),
deg AS (SELECT src AS v, count(*) AS degree FROM sym GROUP BY 1),
root AS (SELECT v FROM deg ORDER BY degree DESC, v LIMIT 1),
walk(v, dist) AS (
    SELECT v, 0 FROM root
  UNION
    SELECT sym.dst, walk.dist + 1 FROM walk JOIN sym ON sym.src = walk.v
    WHERE walk.dist < 99
)
SELECT CAST(v AS BIGINT) AS part, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY v"""

    o["pagerank3"] = _pagerank_sql(3)
    o["personalized_pagerank3"] = _ppr_sql(3)

    o["connected_components"] = f"""WITH RECURSIVE e AS ({ef}), sym AS ({SYM_SQL}),
reach(v, r) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT reach.v, sym.dst FROM reach JOIN sym ON reach.r = sym.src)
SELECT v, least(v, min(r)) AS comp FROM reach GROUP BY v"""

    o["connected_components_contraction"] = o["connected_components"]

    o["label_propagation2"] = _labelprop_sql(2, CC_FILTER)

    o["exact_dedup"] = """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)"""

    o["fingerprint_dedup"] = r"""WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                 '\s+', ' ', 'g'))) AS fp
  FROM documents)
SELECT fp, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
FROM fp GROUP BY fp"""

    o["near_dup_jaccard"] = f"""WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
     for i in generate_series(1, greatest(len(t) - 2, 0))])) AS sh
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT a, b, round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5"""

    o["token_stats_by_lang"] = f"""WITH toks AS (
  SELECT lang, len({TOKS_SQL}) AS n FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
       round(avg(n), 4) AS avg_tokens
FROM toks GROUP BY lang"""

    o["quality_scores"] = f"""WITH x AS (
  SELECT doc_id, text, {TOKS_SQL} AS t FROM documents),
y AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(t, w -> list_contains({stop}, w))) AS BIGINT) AS n_stop,
    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
    CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
    CAST(greatest(len(t), 1) AS DOUBLE) AS denom
  FROM x)
SELECT doc_id, n_tokens,
  round(CAST(n_stop AS DOUBLE) / denom, 4) AS stopword_ratio,
  round(CAST(n_distinct AS DOUBLE) / denom, 4) AS distinct_ratio,
  round(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE), 4) AS alpha_ratio,
  round((least(CAST(n_tokens AS DOUBLE) / CAST(64 AS DOUBLE), CAST(1 AS DOUBLE))
         + CAST(n_stop AS DOUBLE) / denom
         + CAST(n_distinct AS DOUBLE) / denom
         + CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) / CAST(4 AS DOUBLE), 4) AS quality
FROM y"""

    lang_scores = ",\n    ".join(
        f"round(CAST(len(list_filter(t, w -> list_contains({_sql_list(ws)}, w))) AS DOUBLE)"
        f" / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS s_{lang}"
        for lang, ws in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)  # de, en, es, fr, zh
    case = "CASE "
    for i, lang in enumerate(langs[:-1]):
        geq = " AND ".join(f"s_{lang} >= s_{l2}" for l2 in langs[i + 1 :])
        case += f"WHEN {geq} THEN '{lang}' "
    case += f"ELSE '{langs[-1]}' END"
    o["lang_id"] = f"""WITH x AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents),
y AS (
  SELECT doc_id,
    {lang_scores}
  FROM x)
SELECT doc_id, {case} AS pred_lang,
       greatest(s_de, s_en, s_es, s_fr, s_zh) AS score
FROM y"""

    dot = (
        "list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
        "for i in generate_series(1, len(q.embedding))])"
    )
    qn = (
        "sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
        "for i in generate_series(1, len(q.embedding))]))"
    )
    cn = (
        "sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
        "for i in generate_series(1, len(c.embedding))]))"
    )
    o["embedding_topk"] = f"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 24),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot} / ({qn} * {cn}) AS sim
  FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM p)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
FROM r WHERE rank <= 5"""

    o["embedding_near_dup"] = """SELECT a.vec_id AS a, b.vec_id AS b,
  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4"""

    # -- sketch-operator value oracles ---------------------------------------
    # MinHash-LSH at r=1 (bands = num_hashes): a jaccard>=0.5 pair is missed
    # only if all 64 independent per-hash minima differ — P <= 0.5^64 — and
    # the exact-Jaccard verify step makes precision exact, so the output
    # EQUALS jaccard_pairs (pinned in tests/test_text_pipeline.py); the
    # oracle is therefore the exact-counterpart SQL. Scale-path banding
    # (r=4 S-curve) stays the library default, recall-checked in pytest.
    o["near_dup_minhash_lsh"] = o["near_dup_jaccard"]

    # SimHash (md5_32): DuckDB recomputes the SAME 32-bit signatures — the
    # per-token hash is the first 8 hex chars of md5, expressible in both
    # engines — then filters all pairs by hamming <= 3. The Spark side's
    # banded candidate generation is pigeonhole-exact for hamming <=
    # bands-1 and its 10k bucket cap cannot trigger on 8-bit band values at
    # test scale, so all-pairs IS the banded result.
    sim_bits = "\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b},"
        for b in range(32)
    ).rstrip(",")
    sim_acc = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(32)
    )
    o["near_dup_simhash"] = f"""WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS t FROM documents),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h FROM toks),
bits AS (
  SELECT doc_id,
    {sim_bits}
  FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, ({sim_acc}) AS sh FROM bits)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh, y.sh)) <= 3"""

    # LSH / IVF ANN oracles: the sketches are fully deterministic
    # (hash-derived hyperplanes; stride-seeded + 1-Lloyd-step centroids), so
    # the oracle REPLICATES the approximate algorithm in ANSI SQL at its
    # real operating point — plane/centroid maths, bucket/cell candidate
    # generation, exact re-rank — instead of pinning a degenerate
    # probe-everything config. Plane literals come from the same
    # ``hyperplanes`` function the Spark side uses.
    from peregrine_spark.similarity.ann import hyperplanes

    DIM = 64  # testdata embedding dimensionality (pinned in the entries too)

    def _arr(vals):
        return "([" + ", ".join(repr(float(x)) for x in vals) + "]::DOUBLE[])"

    def _dotc(a, b):
        return f"list_sum([{a}[i] * {b}[i] for i in generate_series(1, {DIM})])"

    def _nrm(a):
        return f"sqrt({_dotc(a, a)})"

    def _sig_sql(planes):
        return " + ".join(
            f"(CASE WHEN {_dotc('v', _arr(p))} > 0.0"
            f" THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
            for i, p in enumerate(planes)
        )

    planes6 = hyperplanes(DIM, 6)
    probes6 = ", ".join(["sig"] + [f"xor(sig, {1 << p})" for p in range(6)])
    o["embedding_topk_lsh"] = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v, {_nrm('v')} AS nrm, {_sig_sql(planes6)} AS sig FROM e),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         unnest([{probes6}]) AS bucket
  FROM sig WHERE vec_id < 24),
cand AS (
  SELECT DISTINCT query_id, c.vec_id AS neighbor_id,
         {_dotc('qv', 'c.v')} / (qn * c.nrm) AS sim
  FROM probes p JOIN sig c ON c.sig = p.bucket AND c.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
FROM r WHERE rank <= 5"""

    planes16 = hyperplanes(DIM, 16)
    o["embedding_near_dup_lsh"] = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v, {_nrm('v')} AS nrm, {_sig_sql(planes16)} AS sig FROM e),
banded AS (
  SELECT vec_id, v, nrm, band, (sig >> (band * 4)) & 15 AS val
  FROM sig, generate_series(0, 3) t(band)),
keep AS (
  SELECT band, val FROM banded GROUP BY band, val HAVING count(*) <= 10000),
bk AS (SELECT banded.* FROM banded JOIN keep USING (band, val)),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
         {_dotc('x.v', 'y.v')} / (x.nrm * y.nrm) AS sim
  FROM bk x JOIN bk y
    ON x.band = y.band AND x.val = y.val AND x.vec_id < y.vec_id)
SELECT a, b, round(sim, 6) AS sim FROM cand WHERE round(sim, 6) >= 0.4"""

    # IVF: retrain the deterministic quantizer in SQL — stride-seeded on
    # vec_id rank (ivf_centroids, ann.py), one Lloyd step (argmax-cosine
    # assignment, per-component mean, empty cells keep their seed) — then
    # nprobe=6 cell probing and exact re-rank, mirroring cosine_topk_ivf.
    o["embedding_topk_ivf"] = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
ranked AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk FROM e),
seeds AS (
  SELECT CAST((rk - 1) // stride AS INTEGER) AS cell, v
  FROM ranked, p WHERE (rk - 1) % stride = 0 AND rk <= stride * 16),
a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_dotc('e.v', 's.v')} / ({_nrm('s.v')} * {_nrm('e.v')}) DESC,
                      s.cell) AS rn
    FROM e, seeds s) WHERE rn = 1),
comp AS (
  SELECT cell, i, avg(v[i]) AS m
  FROM a1, generate_series(1, {DIM}) t(i) GROUP BY cell, i),
mean_c AS (SELECT cell, list(m ORDER BY i) AS v FROM comp GROUP BY cell),
cents AS (
  SELECT s.cell, coalesce(m.v, s.v) AS v, {_nrm('coalesce(m.v, s.v)')} AS nrm
  FROM seeds s LEFT JOIN mean_c m USING (cell)),
cc AS (
  SELECT vec_id, v, nrm, cell FROM (
    SELECT e.vec_id, e.v, {_nrm('e.v')} AS nrm, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_dotc('e.v', 'c.v')} / (c.nrm * {_nrm('e.v')}) DESC,
                      c.cell) AS rn
    FROM e, cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, {_nrm('e.v')} AS qn, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_dotc('e.v', 'c.v')} / (c.nrm * {_nrm('e.v')}) DESC,
                      c.cell) AS rn
    FROM e, cents c WHERE e.vec_id < 24) WHERE rn <= 6),
cand AS (
  SELECT DISTINCT query_id, cc.vec_id AS neighbor_id,
         {_dotc('qv', 'cc.v')} / (qn * cc.nrm) AS sim
  FROM probes JOIN cc USING (cell) WHERE cc.vec_id <> query_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
FROM r WHERE rank <= 5"""

    o["binary_features"] = """SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents"""

    o["frame_sample_plan"] = """WITH a AS (
  SELECT doc_id AS asset_id, CAST(octet_length(encode(text)) // 64 AS BIGINT) + 1 AS total
  FROM documents)
SELECT asset_id, unnest(generate_series(0, total - 1, 2)[1:8]) AS frame_index FROM a"""

    o["events_tumbling_hourly"] = _tagged_sql(
        tumbling="""SELECT
  epoch_us(date_trunc('hour', ts)) AS window_start_us,
  event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2""",
        sliding="""WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b30 FROM events),
w AS (
  SELECT unnest([epoch_us(b30), epoch_us(b30 - INTERVAL '30 minutes')]) AS window_start_us
  FROM b)
SELECT window_start_us, CAST(count(*) AS BIGINT) AS n_events FROM w GROUP BY 1""",
    )

    o["events_first_seen"] = """SELECT user_id, event_type,
       event_id AS first_event_id, epoch_us(ts) AS first_ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1"""

    o["events_sessions"] = """WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us, CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id"""

    # -- citeseer reference-truth oracles: literal VALUES built from the
    # reference's OWN committed truth files (core/integrationtests/truth/,
    # cf. Matching_test.hh) — the oracle IS the reference's answer, not a
    # DuckDB recomputation. Pattern keys go through the same
    # canonical_relabel as the Spark side, so strings match iff isomorphic.
    from peregrine_spark.graph.binfmt import read_truth_file
    from peregrine_spark.patterns.canonical import canonical_form, canonical_relabel
    from peregrine_spark.patterns.small_graph import SmallGraph

    truth_dir = REFERENCE / "core" / "integrationtests" / "truth"
    if not truth_dir.is_dir():
        return o

    def _lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def _strip(p):
        return SmallGraph(edges=p.true_edges())

    ei_truth = read_truth_file(f"{truth_dir}/4m-edge.txt")
    vi_by_canon = {
        canonical_form(_strip(p)): int(c)
        for p, c in read_truth_file(f"{truth_dir}/4m.txt")
    }
    m4_rows = sorted(
        (
            canonical_relabel(_strip(p)).to_string(),
            int(c),
            vi_by_canon[canonical_form(_strip(p))],
        )
        for p, c in ei_truth
    )
    vals = ",\n  ".join(
        f"({_lit(s)}, CAST({ei} AS BIGINT), CAST({vi} AS BIGINT))"
        for s, ei, vi in m4_rows
    )
    o["citeseer_4motifs"] = (
        "SELECT * FROM (VALUES\n  " + vals
        + "\n) AS t(pattern, edge_induced, vertex_induced)"
    )

    fsm_rows = sorted(
        (canonical_relabel(p).to_string(), int(s))
        for p, s in read_truth_file(f"{truth_dir}/cs-supports.txt")
        if s >= 300 and 2 <= p.num_true_edges <= 3
    )
    vals = ",\n  ".join(
        f"({_lit(s)}, CAST({sup} AS BIGINT))" for s, sup in fsm_rows
    )
    o["citeseer_fsm3"] = (
        "SELECT * FROM (VALUES\n  " + vals + "\n) AS t(pattern, support)"
    )

    return o
