"""Ingest invariants — parity with core/DataConverter.cc semantics."""

import re
from collections import Counter

from pyspark.sql import functions as F

from peregrine_spark.graph import build_graph, canonical_edges, symmetrized
from peregrine_spark.tables import source_repo_table, with_sha256

from tests.conftest import edges_df

N_FILES = 300


def _graph(spark):
    src = source_repo_table(spark, n_files=N_FILES)
    return src, build_graph(src)


def test_canonicalization(spark):
    e = canonical_edges(edges_df(spark, [(2, 1), (1, 2), (3, 3), (1, 3)]))
    rows = {tuple(r) for r in e.collect()}
    assert rows == {(1, 2), (1, 3)}  # deduped, loop dropped, src<dst
    assert {tuple(r) for r in symmetrized(e).collect()} == {
        (1, 2), (2, 1), (1, 3), (3, 1)
    }


def test_vertex_ids_degree_descending(spark):
    _, g = _graph(spark)
    vs = g.vertices.orderBy("v").collect()
    # 1-based contiguous
    assert [r["v"] for r in vs] == list(range(1, len(vs) + 1))
    # degree non-increasing
    degs = [r["degree"] for r in vs]
    assert degs == sorted(degs, reverse=True)
    # no degree-0 vertices
    assert degs[-1] >= 1


def test_edges_reference_vertices_and_are_canonical(spark):
    _, g = _graph(spark)
    n = g.vertices.count()
    bad = g.edges.where(
        (F.col("src") >= F.col("dst"))
        | (F.col("src") < 1)
        | (F.col("dst") > n)
    ).count()
    assert bad == 0
    assert g.edges.count() == g.edges.dropDuplicates(["src", "dst"]).count()
    # degree consistency: groupBy over symmetrized edges == stored degree
    deg = symmetrized(g.edges).groupBy(F.col("src").alias("v")).count()
    mismatched = (
        g.vertices.join(deg, "v", "left")
        .where(F.col("degree") != F.col("count"))
        .count()
    )
    assert mismatched == 0


def test_build_deterministic(spark):
    src1, g1 = _graph(spark)
    src2, g2 = _graph(spark)
    assert g1.vertices.exceptAll(g2.vertices).count() == 0
    assert g1.edges.exceptAll(g2.edges).count() == 0


def _ingest_oracle(rows):
    """Pure-Python build_graph over (repo, path, commit, lang, content) rows:
    regex imports, a sorted chain per commit, loops and duplicates dropped,
    ids by (degree desc, key asc), labels by sorted language (0: none).
    Returns (edges, vertices, labels) as sets of tuples."""
    pairs, commits, lang = set(), {}, {}
    for repo, path, commit, lg, content in rows:
        key = f"{repo}:{path}"
        pairs |= {(key, b) for b in re.findall(r"import ([^\n]+)", content)}
        commits.setdefault(commit, set()).add(key)
        if lg is not None:
            lang[key] = min(lang.get(key, lg), lg)
    for keys in commits.values():
        keys = sorted(keys)
        pairs |= set(zip(keys, keys[1:]))
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    degree = Counter(k for e in edges for k in e)
    ids = {k: i for i, k in enumerate(sorted(degree, key=lambda k: (-degree[k], k)), 1)}
    langs = sorted({lg for *_, lg, _ in rows if lg is not None})
    label = {lg: i for i, lg in enumerate(langs, 1)}
    return (
        {(min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in edges},
        {(v, k, label.get(lang.get(k), 0), degree[k]) for k, v in ids.items()},
        set(enumerate(langs, 1)),
    )


def _assert_matches_oracle(src):
    g = build_graph(src)
    rows = [tuple(r) for r in src.select("repo", "path", "commit", "lang", "content").collect()]
    edges, vertices, labels = _ingest_oracle(rows)
    assert {tuple(r) for r in g.edges.collect()} == edges
    assert g.edges.count() == len(edges)
    assert {tuple(r) for r in g.vertices.collect()} == vertices
    assert {tuple(r) for r in g.labels.collect()} == labels
    g.unpersist()


def test_build_graph_matches_python_oracle(spark):
    """Edges, vertex rows and the label dictionary equal the pure-Python
    ingest exactly on the generated table."""
    _assert_matches_oracle(source_repo_table(spark, n_files=N_FILES))


def test_build_graph_oracle_on_duplicates_and_loops(spark):
    """The cases the single dedup must cover: a file listed twice in one
    commit, a self-import, a mutual import pair, an import of a key with no
    source row (label 0) and a file with no edges (dropped, but its
    language is still in the dictionary)."""
    rows = [
        ("r", "a.py", "c1", "py", "import r:b.py\nimport r:a.py\n"),
        ("r", "b.py", "c1", "py", "import r:a.py\n"),
        ("r", "b.py", "c1", "py", "import r:a.py\n"),
        ("r", "c.go", "c1", "go", ""),
        ("r", "d.rs", "c2", "rs", "import r:c.go\nimport x:ghost.py\n"),
        ("r", "c.go", "c2", "go", ""),
        ("r", "e.js", "c3", "js", ""),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    _assert_matches_oracle(src)
    edges, vertices, labels = _ingest_oracle(rows)
    # r:a.py-r:b.py once, r:b.py-r:c.go, r:c.go-r:d.rs, r:d.rs-x:ghost.py
    assert len(edges) == 4 and len(vertices) == 5
    assert (5, "x:ghost.py", 0, 1) in vertices
    assert labels == {(1, "go"), (2, "js"), (3, "py"), (4, "rs")}


def test_sha256_invariant_preserved(spark):
    """input_hint per-row invariant: content sha256 survives the engine's
    projections/joins untouched."""
    src = with_sha256(source_repo_table(spark, n_files=100))
    before = src.select("repo", "path", "commit", "content_sha256")
    # a representative engine-side reshuffle: repartition + join back
    after = (
        src.repartition(8, "repo")
        .withColumn("sha2_again", F.sha2(F.col("content"), 256))
    )
    assert after.where(F.col("sha2_again") != F.col("content_sha256")).count() == 0
    assert before.count() == after.count()


def test_import_edges_have_real_targets(spark):
    src, g = _graph(spark)
    # every vertex key exists as a generated (repo:path)
    keys = src.select(F.concat_ws(":", "repo", "path").alias("key")).distinct()
    orphans = g.vertices.join(keys, "key", "left_anti").count()
    assert orphans == 0


def test_labels_dictionary(spark):
    _, g = _graph(spark)
    labs = {r["lang"] for r in g.labels.collect()}
    assert labs <= {"py", "cpp", "js", "go", "rs", "java"}
    assert g.vertices.where(F.col("label").isNull()).count() == 0


def test_powerlaw_edges_deterministic_hub(spark):
    from peregrine_spark.tables import powerlaw_edges
    from pyspark.sql import functions as F

    e1 = powerlaw_edges(spark, 20_000, 500)
    e2 = powerlaw_edges(spark, 20_000, 500)
    # deterministic (pure column expressions, no RNG state)
    assert {tuple(r) for r in e1.collect()} == {tuple(r) for r in e2.collect()}
    from peregrine_spark.graph.from_tables import degrees

    d = degrees(e1)
    top = d.orderBy(F.col("degree").desc()).limit(2).collect()
    # relabelled: vertex 1 is the hub, and it dwarfs the median vertex
    assert top[0]["v"] == 1
    assert top[0]["degree"] > 50


def test_kcore_matches_brute_peel(spark):
    from peregrine_spark.graph.build import kcore
    from tests.oracle import er_graph
    from tests.conftest import edges_df

    pairs = er_graph(40, 0.12, seed=7)

    def brute(pairs, k):
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in adj.items() if len(ns) < k]:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
        return {
            (min(a, b), max(a, b)) for a, ns in adj.items() for b in ns
        }

    e = edges_df(spark, pairs)
    for k in (2, 3, 4, 10):
        got = {(r["src"], r["dst"]) for r in kcore(e, k).collect()}
        assert got == brute({(min(a, b), max(a, b)) for a, b in pairs if a != b}, k), k


def test_convert_edge_list_text_ingest(spark, tmp_path):
    """One-call text edge-list ingest (the reference convert_data's input
    format, core/DataConverter.cc:205-464): loops/dups dropped, comments
    skipped, degree-descending 1-based renumber with an id dictionary."""
    from peregrine_spark.graph.build import convert_edge_list

    f = tmp_path / "toy.edges"
    f.write_text(
        "# comment line\n"
        "10 20\n20 10\n"       # duplicate (reversed)
        "10 10\n"              # self loop
        "10 30\n10 40\n20 30\n50 60\n"
    )
    edges, mapping = convert_edge_list(spark, str(f))
    m = {r["old"]: (r["v"], r["degree"]) for r in mapping.collect()}
    # degrees: 10 -> 3, 20 -> 2, 30 -> 2, 40 -> 1, 50 -> 1, 60 -> 1
    assert m[10] == (1, 3)
    assert {m[20][0], m[30][0]} == {2, 3}          # ties broken by old id
    assert m[20][0] == 2 and m[30][0] == 3
    assert edges.count() == 5
    # every edge is canonical and uses the new contiguous ids
    for r in edges.collect():
        assert 1 <= r["src"] < r["dst"] <= 6


def test_convert_edge_list_strict_parsing(spark, tmp_path):
    """Strict mode surfaces malformed lines (the reference converter parses
    strictly — a silently smaller graph is worse than a failed ingest);
    indented comments are comments, blank lines are ignored."""
    from peregrine_spark.graph.build import convert_edge_list

    ok = tmp_path / "ok.edges"
    ok.write_text("  # indented comment\n\n1 2\n2 3\n")
    edges, _ = convert_edge_list(spark, str(ok))
    assert edges.count() == 2

    bad = tmp_path / "bad.edges"
    bad.write_text("1 2\nnot an edge\n2 3\n")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="malformed"):
        convert_edge_list(spark, str(bad))
    # opt-out keeps the old drop-garbage behavior
    edges, _ = convert_edge_list(spark, str(bad), strict=False)
    assert edges.count() == 2


def test_ingest_releases_ranking_cache(spark):
    """GraphTables.unpersist() releases BOTH the persisted key-edge table and
    the degree-ranking checkpoint blocks (contiguous_rank) — a long session
    ingesting many graphs must not accumulate executor storage."""
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.tables import source_repo_table

    def persistent_ids():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    before = persistent_ids()
    g = build_graph(source_repo_table(spark, n_files=60))
    g.edges.count(), g.vertices.count()
    g.unpersist()
    after = persistent_ids()
    assert after <= before


def test_peel_releases_each_round(spark):
    """kcore and ktruss run one peel loop that keeps only the latest round's
    checkpoint alive: after a many-round peel at most the returned result
    is still persisted."""
    from peregrine_spark.graph.build import kcore
    from peregrine_spark.operators.triangles import ktruss

    def persistent_ids():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    runs = {
        # a 20-vertex path loses its two end edges per round: ten rounds
        "kcore": (lambda e: kcore(e, 2), [(i, i + 1) for i in range(1, 20)], set()),
        # K4 plus a fan whose support collapses over two rounds
        "ktruss": (
            lambda e: ktruss(e, 4),
            k4 + [(1, 5), (2, 5), (1, 6), (5, 6)],
            set(k4),
        ),
    }
    for name, (run, pairs, want) in runs.items():
        e = edges_df(spark, pairs)
        before = persistent_ids()
        got = {(r["src"], r["dst"]) for r in run(e).collect()}
        assert got == want, name
        assert len(persistent_ids() - before) <= 1, name


def test_release_checkpoint_logs_failures(caplog):
    """A failed release does not raise, but is logged naming the exception
    and counted."""
    from peregrine_spark import session

    class PlanLookupFails:
        def unpersist(self):
            pass

        @property
        def _jdf(self):
            raise RuntimeError("plan lookup failed")

    before = session.release_failures
    with caplog.at_level("WARNING", logger="peregrine_spark.session"):
        session.release_checkpoint(PlanLookupFails())
    assert session.release_failures == before + 1
    assert any(
        "RuntimeError" in r.getMessage() and "plan lookup failed" in r.getMessage()
        for r in caplog.records
    )
