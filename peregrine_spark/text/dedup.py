"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The training-data-pipeline tier of the engine (no reference analogue — the
reference is a pure graph engine). Everything is DataFrame-native: shingle
inverted indexes are self-joins, MinHash signatures are one groupBy with
per-hash ``min`` aggregates, SimHash is one groupBy with per-bit signed
sums. No Python UDFs anywhere — every hash is ``xxhash64`` (JVM,
whole-stage codegen).

Scale notes (the part that matters at 100 TB):
* the exhaustive Jaccard pair-join is quadratic in the worst case — it is
  the *oracle-checkable baseline*; ``max_df`` caps the fan-out of frequent
  shingles (a shingle occurring in f docs contributes O(f^2) candidate
  rows, so dropping the ultra-frequent head is the standard guard);
* MinHash+LSH is the scale path: candidate generation is a groupBy on
  (band, band_hash) — linear shuffle, no quadratic blow-up outside a
  bucket; bucket skew is bounded because a bucket of b rows only produces
  pairs after an explicit per-bucket cap;
* both near-dup paths *verify* candidates with exact Jaccard before
  reporting, so precision is exact and only recall depends on the sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peregrine_spark.text.analysis import tokens


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct text —
    (keep_id = min id, n_copies). Hash-groupBy: the map-side partial agg
    means each executor ships one row per distinct text, not per doc."""
    return (
        docs.select("doc_id", F.md5("text").alias("_h"))
        .groupBy("_h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def shingle_table(docs: DataFrame, k: int = 3) -> DataFrame:
    """(id, sh) — distinct k-token shingles per document, via posexplode of
    the token array (pure column expressions)."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # guard: F.sequence(1, stop) DESCENDS when stop < 1 — short docs must
    # yield an empty shingle list, not a bogus [1, 0] index sequence
    sh = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col("doc_id").alias("id"), F.explode(sh).alias("sh"))
        .dropDuplicates(["id", "sh"])
    )


def _jaccard_at_least(
    sh: DataFrame, threshold: float, cand: DataFrame | None = None
) -> DataFrame:
    """(a, b, jaccard) with a < b whose exact Jaccard over the (id, sh)
    shingle table, rounded to 6dp, is >= threshold: over every pair sharing
    a shingle (``cand=None``) or over the (a, b) candidate pairs ``cand``.
    Set sizes, then the intersection count per pair, then the ratio."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("a"), "sh")
    b = sh.select(F.col("id").alias("b"), "sh")
    if cand is None:
        shared = a.join(b, "sh").where(F.col("a") < F.col("b"))
    else:
        shared = cand.join(a, "a").join(b, ["b", "sh"])
    inter = shared.groupBy("a", "b").agg(F.count(F.lit(1)).alias("i"))
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .where(jac >= F.lit(threshold))
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


def band_pairs(
    rows: DataFrame, bands: list[Column], max_bucket: int, *keep: str
) -> DataFrame:
    """Banded-LSH candidates: distinct (a, b), a < b, of the ``id``s of
    ``rows`` that agree on at least one band value. ``bands`` holds one
    value expression per band over ``rows``. Each column c of ``keep``
    rides along as a<c> and b<c>, so a verifier needs no join back.

    One (band, val) row per id and band, then a self-join on (band, val):
    linear in the rows times bucket occupancy, never all-pairs. A bucket of
    more than ``max_bucket`` rows is dropped (skew guard: a degenerate band
    value must not produce O(b^2) pairs); its pairs still come out of any
    other band they collide in."""
    banded = rows.select(
        "id", *keep, F.posexplode(F.array(*bands)).alias("band", "val")
    )
    sizes = banded.groupBy("band", "val").agg(F.count(F.lit(1)).alias("_n"))
    banded = banded.join(
        sizes.where(F.col("_n") <= max_bucket).select("band", "val"), ["band", "val"]
    )
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "val"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            *[F.col(f"x.{c}").alias(f"a{c}") for c in keep],
            *[F.col(f"y.{c}").alias(f"b{c}") for c in keep],
        )
        .dropDuplicates(["a", "b"])
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup pairs: (a, b, jaccard) with
    a < b and jaccard >= threshold, jaccard rounded to 6dp.

    Candidate generation is the shingle inverted index self-joined on the
    shingle — every pair sharing >= 1 shingle is scored, so recall is exact
    (any pair with jaccard > 0 shares a shingle). ``max_df`` drops shingles
    occurring in more than max_df docs before the join (recall then exact
    only for pairs sharing at least one rare shingle — the standard
    frequent-shingle guard at scale)."""
    sh = shingle_table(docs, k)
    if max_df is not None:
        rare = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(rare.where(F.col("_df") <= max_df).select("sh"), "sh")
    return _jaccard_at_least(sh, threshold)


def minhash_signatures(sh: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, mh_0..mh_{H-1}) — MinHash signature per doc: one groupBy with H
    ``min(xxhash64(sh, 7, i))`` aggregates (single pass, map-side
    combined)."""
    aggs = [
        F.min(F.xxhash64("sh", F.lit(7), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 10_000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    shingle → minhash (H hashes, ``bands`` bands of H/bands rows) → band
    bucket join → exact Jaccard on the candidates → (a, b, jaccard >=
    threshold). With H=64, bands=16 (r=4), a pair at jaccard 0.5 collides
    with prob 1-(1-0.5^4)^16 ≈ 0.64 per the S-curve; at 0.8 ≈ 0.9996.
    Buckets larger than ``max_bucket`` docs are dropped (:func:`band_pairs`)."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sh = shingle_table(docs, k).persist()
    sig = minhash_signatures(sh, num_hashes)
    cand = band_pairs(
        sig,
        [
            F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)])
            for b in range(bands)
        ],
        max_bucket,
    )
    # exact-Jaccard verification of candidates only
    out = _jaccard_at_least(sh, threshold, cand)
    # Materialize the (small) verified-pair result, then release the shingle
    # cache — otherwise repeated calls in a long-lived session leak cached
    # blocks (the shingle table is the big intermediate here).
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


SIMHASH_BITS = {"xxhash64": 64, "md5_32": 32}


def long_bit(b: int) -> int:
    """The LongType literal with only bit ``b`` (0..63) set. Bit 63 of a
    signed long is the sign bit, so its literal is the negative
    two's-complement value: ``1 << 63`` is out of long range."""
    return (1 << b) if b < 63 else -(1 << 63)


def band_bits(col: str, b: int, width: int) -> Column:
    """Band ``b`` of a long signature: its bits [b·width, (b+1)·width) as
    an unsigned value, shifted to the top of the long and then down. No
    mask literal, which for a 64-bit band would overflow."""
    return F.shiftrightunsigned(F.shiftleft(col, 64 - (b + 1) * width), 64 - width)


def simhash(docs: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash) — SimHash of the token multiset: per bit, the signed
    sum of token-hash bits; bit set iff the sum is positive. One explode +
    one groupBy with one conditional-sum aggregate per bit.

    ``hash_fn``:
    * ``"xxhash64"`` (default) — 64-bit JVM hash (seed 11), whole-stage
      codegen; the scale path.
    * ``"md5_32"`` — 32-bit hash from the first 8 hex chars of md5(token).
      Both md5 and hex→int are expressible in ANSI SQL, so this variant is
      bit-for-bit reproducible in DuckDB — it backs the value-oracled entry
      query (md5 is unseeded in both engines).
    """
    n_bits = SIMHASH_BITS[hash_fn]
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.col("text"))).alias("t"),
    )
    if hash_fn == "md5_32":
        h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
    else:
        h = F.xxhash64("t", F.lit(11))
    tok = tok.withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(long_bit(b))) != 0, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    sums = tok.groupBy("id").agg(*bit_sums)
    acc = F.lit(0).cast("long")
    for b in range(n_bits):
        acc = acc + F.when(
            F.col(f"s_{b}") > 0, F.lit(long_bit(b)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("id", acc.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: (a, b, hamming <= max_hamming).

    Banding over the hash (width = n_bits/bands): any pair within hamming
    distance < bands must agree on >= 1 band (pigeonhole), so candidate
    generation is again a linear bucket groupBy; verification is
    ``bit_count(a XOR b)``. Exact for max_hamming <= bands - 1.
    ``hash_fn="md5_32"`` selects the ANSI-SQL-reproducible 32-bit simhash
    (see :func:`simhash`) — same pigeonhole exactness, oracle-checkable."""
    n_bits = SIMHASH_BITS[hash_fn]
    if not 1 <= bands <= n_bits:
        raise ValueError(f"bands must be in 1..{n_bits}: each band needs a bit")
    width = n_bits // bands
    sig = simhash(docs, hash_fn)
    cand = band_pairs(
        sig, [band_bits("simhash", b, width) for b in range(bands)], max_bucket, "simhash"
    )
    ham = F.bit_count(F.col("asimhash").bitwiseXOR(F.col("bsimhash")))
    return cand.select("a", "b", ham.cast("int").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
