"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force exact top-k: query set × corpus join with
  the dot product as a JVM higher-order-function fold (``F.zip_with`` +
  ``F.aggregate`` in double precision — no Python). The exact baseline and
  the oracle-checkable path. O(|Q|·|C|) — fine for |Q| small or as the
  per-bucket inner loop.
* ``cosine_topk_lsh`` — random-hyperplane LSH: sign-bit signatures from a
  deterministic (seeded, driver-generated) plane matrix, multi-probe bucket
  join (exact bucket + all 1-bit flips), exact cosine re-rank inside the
  bucket. The scale path: candidate generation is a bucket equi-join, so
  cost is linear in corpus size times bucket occupancy — recall measured in
  tests, precision exact (final ranking is true cosine).

At 100 TB the corpus side is bucketed/partitioned by signature so each
probe touches one partition — the same partition-pruning story as an IVF
index (buckets = cells), without a training step.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from peregrine_spark.session import release_checkpoint
from peregrine_spark.text.dedup import band_bits, band_pairs, long_bit


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _side(df: DataFrame, name: str, p: str, *extra: Column) -> DataFrame:
    """One side of a cosine join: (name, <p>v, <p>n, *extra) — the
    ``vec_id``, the ``embedding`` and its norm, computed once per row
    rather than once per pair (and before ``extra`` explodes a probe
    side)."""
    return df.withColumn("_norm", _norm(F.col("embedding"))).select(
        F.col("vec_id").alias(name),
        F.col("embedding").alias(f"{p}v"),
        F.col("_norm").alias(f"{p}n"),
        *extra,
    )


def _cos(p: str, r: str) -> Column:
    """Exact cosine between the vectors of the ``p`` and ``r`` sides."""
    return _dot(F.col(f"{p}v"), F.col(f"{r}v")) / (
        F.col(f"{p}n") * F.col(f"{r}n")
    )


def _top_k(
    corpus: DataFrame, probes: DataFrame, k: int, on: str | None, broadcast: bool
) -> DataFrame:
    """Exact cosine re-rank of candidate (query, neighbour) pairs: the
    ``corpus`` side is (neighbor_id, cv, cn[, on]), the ``probes`` side
    (query_id, qv, qn[, on]); ``on=None`` pairs every query with the whole
    corpus. A neighbour reached through several probes is scored once.
    Returns (query_id, rank, neighbor_id, sim): rank 1..k by (sim desc,
    neighbor_id asc), self excluded, sim rounded to 6dp."""
    q = F.broadcast(probes) if broadcast else probes
    pairs = corpus.crossJoin(q) if on is None else corpus.join(q, on)
    scored = pairs.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", _cos("q", "c").alias("sim")
    )
    if on is not None:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim"))
    )


def _pairs_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(a, b, sim) of the (a, av, an, b, bv, bn) pairs whose exact cosine,
    rounded to 6dp, is >= threshold."""
    return pairs.select(
        "a", "b", F.round(_cos("a", "b"), 6).alias("sim")
    ).where(F.col("sim") >= threshold)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbours per query: (query_id, rank, neighbor_id,
    sim) — rank 1..k by (sim desc, neighbor_id asc), self excluded, sim
    rounded to 6dp.

    This is the brute-force O(|Q|·|C|) oracle baseline (the scale path is
    ``cosine_topk_lsh``). ``broadcast_queries=True`` (default) force-hints a
    broadcast of the query side — correct ONLY for small query sets (the
    common case: a probe batch against a large corpus). Pass False for large
    |Q| so Catalyst picks a shuffle join instead of OOMing executors."""
    return _top_k(
        _side(corpus, "neighbor_id", "c"),
        _side(queries, "query_id", "q"),
        k, None, broadcast_queries,
    )


def _check_planes(n_planes: int) -> None:
    """A sign-bit signature is one long: 1..64 planes."""
    if not 1 <= n_planes <= 64:
        raise ValueError(f"n_planes must be in 1..64 (one signature long), got {n_planes}")


def hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (driver-side, tiny:
    n_planes × dim floats). Hash-derived (seed 13) — no RNG state,
    reproducible."""

    def h(i: int, j: int) -> float:
        # splitmix64-style integer scramble → uniform in [-1, 1)
        x = (i * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 13) & (2**64 - 1)
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
        x ^= x >> 31
        return (x / 2**63) - 1.0

    return [[h(p, d) for d in range(dim)] for p in range(n_planes)]


def signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature of ``vec`` as a long (bit p = dot with plane p
    > 0; at most 64 planes). Pure column fold — evaluated in codegen,
    vectorized."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(w) for w in plane])
        d = _dot(vec, arr)
        sig = sig + F.when(d > 0, F.lit(long_bit(p)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    dim: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: LSH bucket join + exact cosine re-rank.

    Corpus rows land in their signature bucket; each query probes its own
    bucket plus every 1-bit-flip neighbour bucket (multi-probe) — 1+n_planes
    probes, which repairs most boundary misses of sign LSH. Output schema
    matches ``cosine_topk`` (rank may differ where recall < 1).

    ``dim``: embedding dimensionality. Pass it when known (schema metadata)
    to keep the operator action-free; the fallback probes one corpus row on
    the driver.

    ``broadcast_queries=True`` (default) force-hints a broadcast of the
    EXPLODED query side — |Q| × (1 + n_planes) probe rows. Correct only for
    small probe batches; pass False for a large query set so Catalyst picks
    a shuffle join on the bucket key instead of OOMing executors (same
    escape hatch as ``cosine_topk``)."""
    _check_planes(n_planes)
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    planes = hyperplanes(dim, n_planes)
    q = queries.withColumn("_sig", signature(F.col("embedding"), planes))
    probes = F.array(
        F.col("_sig"),
        *[F.col("_sig").bitwiseXOR(F.lit(long_bit(p))) for p in range(n_planes)],
    )
    return _top_k(
        _side(corpus, "neighbor_id", "c",
              signature(F.col("embedding"), planes).alias("bucket")),
        _side(q, "query_id", "q", F.explode(probes).alias("bucket")),
        k, "bucket", broadcast_queries,
    )


def cosine_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact: (a, b, sim) for every
    id pair a < b with cosine >= threshold, sim rounded to 6dp.

    All-pairs O(n^2) by construction — the oracle baseline for the dedup
    tier (same role ``jaccard_pairs`` plays for text); the scale path is
    :func:`cosine_pairs_lsh`."""
    a = _side(emb, "a", "a")
    b = _side(emb, "b", "b")
    return _pairs_at_least(a.join(b, F.col("a") < F.col("b")), threshold)


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed (the scale path).

    Random-hyperplane signature split into ``bands`` bands; a pair is a
    candidate iff it collides in at least one band (sign-LSH collision
    probability per bit is 1 - angle/pi, so near-identical vectors collide
    in some band with high probability). Candidates come from a per-band
    self-join on the band value — linear in corpus size times bucket
    occupancy, never all-pairs — then exact cosine verification filters to
    >= threshold, so precision is exact and only recall is approximate
    (measured in tests).

    ``max_bucket``: the bucket cap of the band join
    (:func:`~peregrine_spark.text.dedup.band_pairs`): a zero-vector cluster
    would otherwise re-create the quadratic blowup."""
    _check_planes(n_planes)
    if not 1 <= bands <= n_planes:
        raise ValueError("bands must be in 1..n_planes: each band needs a bit")
    if dim is None:
        dim = len(emb.select("embedding").first()[0])
    planes = hyperplanes(dim, n_planes)
    bits_per = n_planes // bands
    sig = signature(F.col("embedding"), planes).alias("_sig")
    cand = band_pairs(
        _side(emb, "id", "", sig),
        [band_bits("_sig", bi, bits_per) for bi in range(bands)],
        max_bucket,
        "v",
        "n",
    )
    return _pairs_at_least(cand, threshold)


def ivf_centroids(emb: DataFrame, n_cells: int = 16) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seed centroids are an evenly-
    strided id sample (reproducible, no RNG), refined by one Lloyd
    iteration computed as Spark aggregations (assignment via the JVM-side
    argmin below; means via groupBy(cell).avg over the unrolled
    components). Returns a driver-side list (tiny: n_cells × dim).

    The stride rank comes from ``contiguous_rank`` (range repartition +
    per-partition offsets — graph/build.py), NOT a global unpartitioned
    Window: training must never funnel the whole corpus through one task.
    """
    from peregrine_spark.graph.build import contiguous_rank

    n = emb.count()
    stride = max(1, n // n_cells)
    # rank ids ONLY (the checkpointed ranking must not carry the vectors —
    # O(corpus·dim) executor storage); join the vectors back for just the
    # n_cells selected seed rows, then release the ranking blocks
    ranked = contiguous_rank(emb.select("vec_id"), [F.col("vec_id").asc()], "_rk")
    seeds = (
        ranked.where(
            ((F.col("_rk") - 1) % stride == 0) & (F.col("_rk") <= stride * n_cells)
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("_rk", "embedding")
        .collect()
    )
    release_checkpoint(ranked)
    seeds.sort(key=lambda r: r["_rk"])  # collect order is partition order
    cents = [list(map(float, r[1])) for r in seeds]
    assigned = emb.select(
        _nearest_cell(F.col("embedding"), cents).alias("cell"),
        F.col("embedding").alias("_v"),
    )
    dim = len(cents[0])
    means = assigned.groupBy("cell").agg(
        *[F.avg(F.col("_v")[i]).alias(f"c{i}") for i in range(dim)],
        F.count(F.lit(1)).alias("_n"),
    ).collect()
    by_cell = {r["cell"]: [r[f"c{i}"] for i in range(dim)] for r in means}
    return [by_cell.get(i, c) for i, c in enumerate(cents)]


def _nearest_cell(vec: Column, cents: list[list[float]]) -> Column:
    """Argmax cosine over the centroid list as a pure column expression.
    Built as sort_array over (−sim, id) structs so each dot product appears
    exactly once in the expression tree — a chained when/otherwise argmax
    would nest its accumulator twice per step and blow up exponentially."""
    return _cell_ranking(vec, cents, 1)[0]


def _cell_ranking(vec: Column, cents: list[list[float]], nprobe: int) -> Column:
    """Array of the nprobe nearest centroid ids (by cosine), as a sorted
    slice of (sim, id) structs — JVM-side, no Python."""
    entries = []
    for i, c in enumerate(cents):
        arr = F.array(*[F.lit(float(w)) for w in c])
        s = _dot(vec, arr) / (F.lit(_py_norm(c)) * _norm(vec))
        entries.append(F.struct((-s).alias("d"), F.lit(i).alias("cell")))
    ranked = F.sort_array(F.array(*entries))
    return F.slice(ranked, 1, nprobe).getField("cell")


def _py_norm(v: list[float]) -> float:
    return math.sqrt(sum(x * x for x in v)) or 1.0


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: corpus vectors are
    assigned to their nearest centroid cell once; each query probes its
    ``nprobe`` nearest cells (explode → cell equi-join) and exact cosine
    re-ranks inside them. Output schema matches ``cosine_topk``.

    The trained-quantizer counterpart of ``cosine_topk_lsh``: cells adapt
    to the data distribution (balanced occupancy on clustered corpora,
    where fixed hyperplane buckets skew). At scale the corpus is
    partitioned/bucketed by cell, so a probe touches nprobe partitions —
    classic IVF partition pruning. Pass ``centroids`` to reuse a trained
    quantizer (recommended: train once, persist with the table).

    ``broadcast_queries``: as in ``cosine_topk_lsh`` — the exploded probe
    side is |Q| × nprobe rows; pass False for large query sets."""
    cents = centroids or ivf_centroids(corpus, n_cells)
    return _top_k(
        _side(corpus, "neighbor_id", "c",
              _nearest_cell(F.col("embedding"), cents).alias("cell")),
        _side(queries, "query_id", "q",
              F.explode(_cell_ranking(F.col("embedding"), cents, nprobe)).alias("cell")),
        k, "cell", broadcast_queries,
    )
