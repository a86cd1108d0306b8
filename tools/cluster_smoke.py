"""Multi-executor spark-submit smoke — the north rule's deployment shape.

Builds the --py-files zip, then spark-submits this file to a
``local-cluster[2,2,2048]`` master: two REAL executor JVMs (separate
processes, separate heaps — unlike local[N]'s threads), the package
shipped only via --py-files (cwd is moved so the repo checkout is NOT on
any path). Runs ingest → PageRank → triangle count → connected components,
and checks PageRank against a driver-side NumPy iteration of the same
formula.

Orchestrate:  python tools/cluster_smoke.py
Worker mode:  (spark-submit invokes this same file with --run)
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_job() -> None:
    """Executed inside spark-submit; peregrine_spark importable ONLY from
    the --py-files zip."""
    import numpy as np

    import peregrine_spark as ps
    from peregrine_spark.graph.build import build_graph
    from peregrine_spark.operators.triangles import triangle_count
    from peregrine_spark.patterns.small_graph import PatternGenerator
    from peregrine_spark.supersteps.components import connected_components
    from peregrine_spark.supersteps.pagerank import pagerank
    from peregrine_spark.tables import source_repo_table, with_sha256

    spark = ps.get_spark(app_name="cluster_smoke", shuffle_partitions=8)
    assert "local-cluster" in spark.sparkContext.master, spark.sparkContext.master

    src = with_sha256(source_repo_table(spark, sf=0.02)).persist()
    g = build_graph(src)
    edges = g.edges.persist()
    n_edges = edges.count()
    assert n_edges > 1000, n_edges

    pr = pagerank(edges, max_iters=5, tol=-1.0, check_every=5)
    got = {r["v"]: r["rank"] for r in pr.state.collect()}
    # the pagerank module docstring's iteration over the collected edges:
    # rank_0 = 1/n, rank_{i+1}(v) = (1-d)/n + d * sum_{u in N(v)} rank_i(u)/deg(u)
    ends = np.array(edges.select("src", "dst").collect(), dtype=np.int64)
    ids, idx = np.unique(ends, return_inverse=True)
    idx = idx.reshape(ends.shape)
    tails = np.concatenate([idx[:, 0], idx[:, 1]])
    heads = np.concatenate([idx[:, 1], idx[:, 0]])
    n = len(ids)
    deg = np.bincount(tails, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(5):
        inflow = np.bincount(heads, weights=rank[tails] / deg[tails], minlength=n)
        rank = (1 - 0.85) / n + 0.85 * inflow
    assert set(got) == set(ids.tolist()), (len(got), n)
    assert all(abs(got[v] - r) < 1e-9 for v, r in zip(ids.tolist(), rank))

    tri = triangle_count(edges).collect()[0]["triangles"]
    cc = connected_components(edges, max_iters=64, check_every=2)
    assert cc.converged
    n_comp = cc.state.select("comp").distinct().count()

    # package-data path: g6 pattern bundles must import from the zip
    assert len(PatternGenerator.all(7)) == 853

    print(
        f"CLUSTER_SMOKE_OK edges={n_edges} triangles={tri} "
        f"components={n_comp} executors=2x2cores"
    )
    spark.stop()


def main() -> None:
    if "--run" in sys.argv:
        run_job()
        return

    sys.path.insert(0, str(ROOT))
    from peregrine_spark.session import CODEGEN_CACHE_ENTRIES

    zip_path = ROOT / "dist" / "peregrine_spark.zip"
    subprocess.run(
        [sys.executable, str(ROOT / "tools" / "make_pyfiles.py"), str(zip_path)],
        check=True,
    )
    spark_submit = shutil.which("spark-submit") or str(
        Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "bin" / "spark-submit"
    )
    with tempfile.TemporaryDirectory() as cwd:
        script = Path(cwd) / "smoke_job.py"
        shutil.copy(__file__, script)
        proc = subprocess.run(
            [
                spark_submit,
                "--master", "local-cluster[2,2,2048]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", f"spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES}",
                "--py-files", str(zip_path),
                str(script), "--run",
            ],
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=900,
        )
    ok = "CLUSTER_SMOKE_OK" in proc.stdout
    for line in proc.stdout.splitlines():
        if "CLUSTER_SMOKE_OK" in line:
            print(line)
    if not ok:
        print(proc.stdout[-3000:])
        print(proc.stderr[-3000:])
        sys.exit(1)


if __name__ == "__main__":
    main()
