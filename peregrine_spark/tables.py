"""Deterministic synthetic source-code-repository table.

This is the engine's authoritative upstream input shape (BASELINE.json
``input_hint``): ``(repo: string, path: string, commit: string,
lang: string, content: string)``. At production scale this would be an
Iceberg table of 10^12 files; here we *generate* it deterministically with
pure Spark column expressions — ``spark.range`` + ``xxhash64`` — so the same
code scales from 1k rows (unit tests) to arbitrarily large row counts
without any driver-side data. No Python RNG, no UDFs: every column is a
closed-form JVM-side expression of the row id, so generation is
embarrassingly parallel and reproducible across any number of executors.

``content`` embeds ``import <repo:path>`` lines whose targets are
closed-form functions of the file id — these define the import edges of the
link graph (FIXTURES.md §1). Commits are drawn from a shared pool so that
multiple paths share a commit (the co-commit edge source).

Reference parity note: the reference ingests a plain edge list
(core/DataConverter.cc:205-464); our richer upstream table is mandated by
the north rule, and `graph.build` reduces it to the same canonical edge
table the reference would load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

# Tunables: sized so that SF=0.001 → ~1k files, matching FIXTURES.md scale knobs.
FILES_PER_SF = 1_000_000  # n_files = SF * FILES_PER_SF
IMPORTS_PER_FILE = 3
LANGS = ["py", "cpp", "js", "go", "rs", "java"]


def _h(col, salt: str):
    """Deterministic 64-bit hash of (col, salt, SEED) — xxhash64 is stable
    across Spark versions/platforms, unlike F.hash (Murmur3 is also stable,
    but xxhash64 gives us 64 bits)."""
    return F.xxhash64(col, F.lit(salt), F.lit(SEED))


def _pm(col, salt: str, n: int):
    """Hash col into [0, n)."""
    return F.pmod(_h(col, salt), F.lit(n))


def n_files_for_sf(sf: float) -> int:
    return max(64, int(sf * FILES_PER_SF))


def _key_expr(fid, n_repos: int, n_dirs: int):
    """Closed-form (repo, path) for a file id. Pure column expressions so
    import targets can be computed without a join."""
    repo = F.concat(
        F.lit("org"),
        _pm(fid, "org", max(2, n_repos // 8)).cast("string"),
        F.lit("/proj"),
        _pm(fid, "proj", 8).cast("string"),
    )
    lang = F.element_at(
        F.array(*[F.lit(l) for l in LANGS]), (_pm(fid, "lang", len(LANGS)) + 1).cast("int")
    )
    path = F.concat(
        F.lit("src/pkg"),
        _pm(fid, "pkg", n_dirs).cast("string"),
        F.lit("/mod"),
        fid.cast("string"),
        F.lit("."),
        lang,
    )
    return repo, path, lang


def source_repo_table(
    spark: SparkSession,
    n_files: int = 1_000,
    sf: float | None = None,
) -> DataFrame:
    """Generate the deterministic source-repo table.

    One output row per (file, commit) — a path appears under 1..3 commits
    drawn from a pool of ``n_files // 4`` (at least 4), and imports
    ``IMPORTS_PER_FILE`` files (FIXTURES.md §1). ``content`` is identical across a file's commits (the
    import graph is a property of the file, not the commit) apart from a
    commit-stamp line, and carries enough pseudo-source body for the
    sha256-per-row invariant to be meaningful.
    """
    if sf is not None:
        n_files = n_files_for_sf(sf)
    commit_pool = max(4, n_files // 4)
    n_repos = max(2, n_files // 64)
    n_dirs = max(2, n_files // 32)

    files = spark.range(n_files).withColumnRenamed("id", "fid")
    fid = F.col("fid")
    repo, path, lang = _key_expr(fid, n_repos, n_dirs)

    # Import targets: closed-form pseudo-random other file ids. Self-imports
    # and duplicates are permitted here; graph ingest drops them (mirrors the
    # reference dropping self-loops/dup edges, core/DataConverter.cc:112-119).
    import_lines = []
    for j in range(IMPORTS_PER_FILE):
        tid = _pm(fid, f"imp{j}", n_files)
        t_repo, t_path, _ = _key_expr(tid, n_repos, n_dirs)
        import_lines.append(F.concat(F.lit("import "), t_repo, F.lit(":"), t_path, F.lit("\n")))

    body = F.concat(
        F.lit("def f_"),
        fid.cast("string"),
        F.lit("():\n    return "),
        _h(fid, "body").cast("string"),
        F.lit("\n"),
    )

    # 1..3 commits per file, drawn from a shared pool so paths co-occur.
    files = files.withColumn("n_commits", (_pm(fid, "ncom", 3) + 1).cast("int"))
    rows = files.select(
        "fid", F.explode(F.sequence(F.lit(0), F.col("n_commits") - 1)).alias("cix")
    )
    commit_slot = F.pmod(_h(F.col("fid") * 7 + F.col("cix"), "cslot"), F.lit(commit_pool))
    commit = F.lower(F.hex(F.abs(_h(commit_slot, "commit"))))

    content = F.concat(
        F.lit("# file "), repo, F.lit(":"), path, F.lit("\n"), *import_lines, body
    )

    return rows.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def with_sha256(df: DataFrame) -> DataFrame:
    """Append the per-row invariant column (input_hint: content sha256)."""
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def powerlaw_edges(
    spark: SparkSession,
    n_samples: int,
    n_vertices: int,
) -> DataFrame:
    """Deterministic skewed edge table with a guaranteed mega-hub — the
    adversarial input for the skew machinery (degree orientation, map-side
    partial aggregation).

    Each endpoint is ``floor(n_vertices ** u)`` with u hash-uniform in
    [0, 1): P(vertex = v) ∝ 1/v (log-uniform), so vertex 1 collects
    ≈ n_samples / ln(n_vertices) of all endpoints — at the BENCH settings
    (2M samples, 1e5 vertices) a hub of ~1e5 distinct neighbours, i.e. it
    is adjacent to essentially the whole graph. Pure column expressions
    (no RNG state; hashed under ``SEED`` as read at call time),
    canonicalized (loops/dups dropped) and relabelled by
    descending degree — the ingest invariant the oriented triangle plan
    relies on."""
    from peregrine_spark.graph.build import edges_from_pairs
    from peregrine_spark.graph.from_tables import relabel_by_degree

    rows = spark.range(n_samples)
    den = float(1 << 53)

    def u(salt: str):
        return (F.abs(_h("id", salt)) % F.lit(1 << 53)) / F.lit(den)

    src = F.floor(F.pow(F.lit(float(n_vertices)), u("pl_a"))).cast("long")
    dst = F.floor(F.pow(F.lit(float(n_vertices)), u("pl_b"))).cast("long")
    pairs = rows.select(src.alias("a"), dst.alias("b"))
    return relabel_by_degree(edges_from_pairs(pairs))[0]
