"""Tests for the training-data-pipeline tier: dedup, text analysis,
similarity search, multimodal plumbing.

Oracle idiom mirrors the repo's pattern tests: exact expected values
computed by small pure-Python implementations on deterministic fixtures.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from peregrine_spark.multimodal.assets import (
    attach_payload,
    extract_features,
    frame_sample_plan,
)
from peregrine_spark.similarity.ann import cosine_topk, cosine_topk_lsh
from peregrine_spark.text.analysis import (
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
    token_stats_by,
)
from peregrine_spark.text.dedup import (
    band_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_table,
    simhash,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog again and again until done"
DOCS = [
    (0, BASE, "en"),
    (1, BASE, "en"),                                    # exact dup of 0
    (2, BASE.replace("dog", "cat"), "en"),              # near dup of 0
    (3, "der hund und die katze sind gute freunde im haus", "de"),
    (4, "completely different words about spark joins and shuffles here", "en"),
    (5, "tiny", "en"),                                  # shorter than a shingle
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def _py_shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _py_jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = _py_shingles(a, k), _py_shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_dedup(docs):
    rows = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert rows[0] == 2          # docs 0 and 1 collapse
    assert 1 not in rows         # doc 1 is not a keeper
    assert rows[2] == 1


def test_shingle_table_matches_python(docs):
    got = {
        (r["id"], r["sh"]) for r in shingle_table(docs).collect()
    }
    expect = {
        (i, sh) for i, text, _ in DOCS for sh in _py_shingles(text)
    }
    assert got == expect  # doc 5 contributes nothing (short-doc guard)


def test_jaccard_pairs_exact(docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_pairs(docs, 0.5).collect()}
    expect = {
        (a, b): round(_py_jaccard(ta, tb), 6)
        for (a, ta, _), (b, tb, _) in [
            ((x[0], x[1], x[2]), (y[0], y[1], y[2]))
            for x in DOCS
            for y in DOCS
            if x[0] < y[0]
        ]
        if _py_jaccard(ta, tb) >= 0.5
    }
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], abs=1e-6)
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got


def test_minhash_lsh_finds_planted_dups(docs):
    got = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # exact dups always collide in every band; jaccard values are exact
    assert (0, 1) in got
    exact = {(r["a"], r["b"]) for r in jaccard_pairs(docs, 0.5).collect()}
    assert got <= exact  # precision is exact (verified candidates)


def test_minhash_r1_equals_exact_jaccard(docs):
    # the regime backing the near_dup_minhash_lsh value oracle: bands ==
    # num_hashes (r=1) makes a jaccard>=t pair's miss probability (1-t)^64
    # and the exact-Jaccard verify makes precision exact, so the LSH output
    # EQUALS jaccard_pairs — which has a DuckDB oracle
    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, threshold=0.5, num_hashes=64, bands=64
        ).collect()
    }
    exact = {
        (r["a"], r["b"], r["jaccard"]) for r in jaccard_pairs(docs, 0.5).collect()
    }
    assert got == exact


def _py_simhash32(text: str) -> int:
    sums = [0] * 32
    for t in text.split():
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for b in range(32):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(32) if sums[b] > 0)


def test_simhash_md5_32_matches_python(docs):
    # the regime backing the near_dup_simhash value oracle: the md5_32
    # variant's per-token hash is reproducible outside Spark, so signatures
    # (and therefore the pigeonhole-exact banded pairs) are independently
    # recomputable — here against a pure-Python oracle, in __spark_entry__
    # against DuckDB
    sigs = {
        r["id"]: r["simhash"]
        for r in simhash(docs, hash_fn="md5_32").collect()
    }
    assert sigs == {i: _py_simhash32(t) for i, t, _ in DOCS}
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_pairs(docs, 3, hash_fn="md5_32").collect()
    }
    expect = {}
    for i, ti, _ in DOCS:
        for j, tj, _ in DOCS:
            if i < j:
                ham = bin(_py_simhash32(ti) ^ _py_simhash32(tj)).count("1")
                if ham <= 3:
                    expect[(i, j)] = ham
    assert got == expect


def test_simhash_near_dup(docs, spark):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs, 10).collect()}
    assert pairs[(0, 1)] == 0
    ham02 = bin((sigs[0] ^ sigs[2]) & (2**64 - 1)).count("1")
    if ham02 <= 10:
        assert pairs[(0, 2)] == ham02


def test_simhash_pairs_rejects_zero_width_bands(docs):
    # no bands, or more bands than hash bits, leaves a band 0 bits wide
    for bands, hash_fn in ((0, "xxhash64"), (65, "xxhash64"), (33, "md5_32")):
        with pytest.raises(ValueError):
            simhash_pairs(docs, 3, bands=bands, hash_fn=hash_fn)
    # the widest band is the whole 64-bit hash: exact dups still pair up
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs, 3, bands=1).collect()}
    assert got[(0, 1)] == 0


def test_band_pairs_bucket_cap_and_dedup(spark):
    """The LSH band join shared by the MinHash, SimHash and cosine pair
    operators: an oversized bucket yields no pairs, a pair in it still comes
    out of another band it collides in, and a pair colliding in several
    bands comes out once, with a < b."""
    rows = spark.createDataFrame(
        [(4, 0, 30, 300), (3, 0, 20, 300), (2, 0, 10, 100), (1, 0, 10, 100)],
        "id long, b0 long, b1 long, b2 long",
    )
    bands = [F.col("b0"), F.col("b1"), F.col("b2")]
    # band 0 puts all four rows in one bucket, over the cap of 3: (1, 3)
    # and the other band-0-only pairs vanish; (3, 4) also shares band 2;
    # (1, 2) collides in bands 1 and 2
    got = [tuple(r) for r in band_pairs(rows, bands, max_bucket=3).collect()]
    assert sorted(got) == [(1, 2), (3, 4)]
    # with the cap lifted, band 0 pairs everything, each pair once
    got = [tuple(r) for r in band_pairs(rows, bands, max_bucket=4).collect()]
    assert sorted(got) == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_token_stats(docs):
    r = {x["doc_id"]: x for x in token_stats(docs).collect()}
    toks = BASE.split()
    assert r[0]["n_tokens"] == len(toks)
    assert r[0]["n_distinct_tokens"] == len(set(toks))
    assert r[5]["n_tokens"] == 1
    by = {x["lang"]: x for x in token_stats_by(docs, "lang").collect()}
    assert by["de"]["n_docs"] == 1
    assert by["en"]["total_tokens"] == sum(len(t.split()) for i, t, l in DOCS if l == "en")


def test_quality_and_lang(docs):
    q = {x["doc_id"]: x for x in quality_score(docs).collect()}
    toks = BASE.split()
    stop_ratio = len([t for t in toks if t in {"the", "a", "of", "and", "to", "der",
                                               "die", "das", "und", "ist", "le", "la",
                                               "les", "et", "est", "el", "los", "y",
                                               "es", "de", "shi", "he", "zai"}]) / len(toks)
    assert q[0]["stopword_ratio"] == pytest.approx(stop_ratio, abs=1e-4)
    assert 0.0 <= q[0]["quality"] <= 1.0
    lang = {x["doc_id"]: x["pred_lang"] for x in lang_id(docs).collect()}
    assert lang[3] == "de"
    assert lang[0] == "en"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df).collect()}
    assert fps[0] == fps[1] != fps[2]


# -- similarity ------------------------------------------------------------


def _vecs(n=40, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    v = rng.randn(n, dim).astype(np.float32)
    v[1] = v[0] + 0.01 * rng.randn(dim).astype(np.float32)  # near-neighbor pair
    return v


@pytest.fixture(scope="module")
def emb(spark):
    v = _vecs()
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_matches_numpy(emb):
    v = _vecs().astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    got = cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
    for qid in range(5):
        order = sorted(
            ((sims[qid, j], -j) for j in range(len(v)) if j != qid), reverse=True
        )[:3]
        expect = [(-nj, s) for s, nj in order]
        rows = sorted(by_q[qid])
        assert [r[1] for r in rows] == [e[0] for e in expect]
        for r, e in zip(rows, expect):
            assert r[2] == pytest.approx(e[1], abs=1e-5)


def test_cosine_topk_lsh_recall(emb):
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              cosine_topk_lsh(emb, emb.where(F.col("vec_id") < 5), k=3, n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # deterministic: 0.533 with these planes/fixture
    # the planted near-identical neighbor always lands in the same/adjacent bucket
    assert (0, 1) in approx


# -- multimodal ------------------------------------------------------------


def test_binary_feature_plumbing(docs):
    feats = extract_features(attach_payload(docs)).collect()
    by_id = {r["asset_id"]: r for r in feats}
    for i, text, _ in DOCS:
        raw = text.encode()
        assert by_id[i]["n_bytes"] == len(raw)
        assert by_id[i]["sha256"] == hashlib.sha256(raw).hexdigest()
        assert len(by_id[i]["feature"]) == 8
        assert by_id[i]["width"] >= 16 and by_id[i]["height"] >= 16


def test_registered_decoder_reaches_workers(docs, monkeypatch):
    """A decoder registered on the driver decodes in the Python workers,
    which never ran the registration: width, height and feature are its
    output, not the fake's."""
    from peregrine_spark.multimodal import assets

    monkeypatch.setattr(assets, "_DECODER", None)  # restored after the test

    def decode(payload: bytes, kind: str):
        return len(payload), 7, np.array([float(len(payload)), 0.5])

    assets.register_decoder(decode)
    by_id = {r["asset_id"]: r for r in extract_features(attach_payload(docs)).collect()}
    assert set(by_id) == {i for i, _, _ in DOCS}
    for i, text, _ in DOCS:
        n = len(text.encode())
        assert (by_id[i]["width"], by_id[i]["height"]) == (n, 7)
        assert by_id[i]["feature"] == [float(n), 0.5]


def test_frame_sample_plan(docs):
    rows = frame_sample_plan(attach_payload(docs)).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["asset_id"], []).append(r["frame_index"])
    for i, text, _ in DOCS:
        total = len(text.encode()) // 64 + 1
        expect = list(range(0, total, 2))[:8]
        assert sorted(by_id[i]) == expect


def _dup_vecs(n=30, dim=16, seed=11, dups=8):
    """Base vectors plus `dups` slightly-perturbed copies (true near-dups)."""
    rng = np.random.RandomState(seed)
    v = rng.randn(n, dim).astype(np.float32)
    out = [v]
    for k in range(dups):
        out.append(v[k] + 0.02 * rng.randn(dim).astype(np.float32))
    return np.vstack(out)


@pytest.fixture(scope="module")
def emb_dups(spark):
    v = _dup_vecs()
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_pairs_matches_numpy(emb_dups):
    from peregrine_spark.similarity.ann import cosine_pairs

    v = np.array([r["embedding"] for r in emb_dups.orderBy("vec_id").collect()],
                 dtype=np.float64)
    nrm = np.linalg.norm(v, axis=1)
    sims = (v @ v.T) / (nrm[:, None] * nrm[None, :])
    tau = 0.95
    exp = {(a, b) for a in range(len(v)) for b in range(a + 1, len(v))
           if round(sims[a, b], 6) >= tau}
    got = {(r["a"], r["b"]) for r in cosine_pairs(emb_dups, tau).collect()}
    assert got == exp
    assert len(exp) >= 8  # every perturbed copy pairs with its base


def test_cosine_pairs_lsh_recall_and_exact_precision(emb_dups):
    from peregrine_spark.similarity.ann import cosine_pairs, cosine_pairs_lsh

    tau = 0.95
    exact = {(r["a"], r["b"]): r["sim"] for r in cosine_pairs(emb_dups, tau).collect()}
    approx = {(r["a"], r["b"]): r["sim"] for r in
              cosine_pairs_lsh(emb_dups, tau, n_planes=16, bands=4).collect()}
    # precision is exact: every returned pair is a true >=tau pair with the
    # true similarity (candidates are verified with the exact cosine)
    for pair, sim in approx.items():
        assert pair in exact and abs(sim - exact[pair]) < 1e-9
    # recall: high-sim pairs collide in some band with high probability
    assert len(approx) >= 0.9 * len(exact)


def test_cosine_pairs_lsh_rejects_zero_width_bands(emb_dups):
    from peregrine_spark.similarity.ann import cosine_pairs_lsh

    # more bands than planes leaves each band 0 bits: one bucket per band
    for bands in (0, 17):
        with pytest.raises(ValueError):
            cosine_pairs_lsh(emb_dups, 0.95, n_planes=16, bands=bands)


def test_cosine_topk_ivf_recall(emb_dups):
    from peregrine_spark.similarity.ann import cosine_topk, cosine_topk_ivf

    queries = emb_dups.where(F.col("vec_id") < 6)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(emb_dups, queries, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              cosine_topk_ivf(emb_dups, queries, k=3, n_cells=8, nprobe=4).collect()}
    # probing half the cells recovers most exact neighbours; returned sims
    # are true cosines (exact re-rank), so errors are only missed cells
    assert len(exact & approx) >= 0.7 * len(exact)


def test_ivf_centroids_deterministic(emb_dups):
    from peregrine_spark.similarity.ann import ivf_centroids

    c1 = ivf_centroids(emb_dups, n_cells=8)
    c2 = ivf_centroids(emb_dups, n_cells=8)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0]) == 16


def test_lsh_ivf_broadcast_escape_hatch(emb_dups, spark):
    """broadcast_queries=False leaves the probe-side join strategy to
    Catalyst (no forced broadcast) — the escape hatch for large query sets;
    results are identical either way (only the physical plan changes)."""
    from peregrine_spark.similarity.ann import (
        cosine_topk_ivf,
        cosine_topk_lsh,
        ivf_centroids,
    )

    queries = emb_dups.where(F.col("vec_id") < 3)
    cents = ivf_centroids(emb_dups, n_cells=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, kw in (
            (cosine_topk_lsh, dict(n_planes=4)),
            (cosine_topk_ivf, dict(n_cells=4, centroids=cents)),
        ):
            forced = fn(emb_dups, queries, k=2, broadcast_queries=True, **kw)
            free = fn(emb_dups, queries, k=2, broadcast_queries=False, **kw)
            assert "Broadcast" in forced._jdf.queryExecution().sparkPlan().toString()
            assert "Broadcast" not in free._jdf.queryExecution().sparkPlan().toString()
            assert sorted(map(tuple, forced.collect())) == sorted(
                map(tuple, free.collect())
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lsh_operators_take_64_planes(emb_dups):
    """64 planes fill the signature long: plane 63 is its sign bit, whose
    literal (and multiprobe flip) must be the negative long, and a single
    band of 64 bits needs no mask literal. Planes outside 1..64 are
    refused before any job runs."""
    from peregrine_spark.similarity.ann import cosine_pairs, cosine_pairs_lsh

    queries = emb_dups.where(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in cosine_topk(emb_dups, queries, k=2).collect()
    }
    approx = cosine_topk_lsh(emb_dups, queries, k=2, n_planes=64, dim=16).collect()
    assert approx
    for r in approx:  # exact re-rank: every returned sim is the true cosine
        if (r["query_id"], r["neighbor_id"]) in exact:
            assert r["sim"] == exact[(r["query_id"], r["neighbor_id"])]
    tau = 0.95
    truth = {(r["a"], r["b"]): r["sim"] for r in cosine_pairs(emb_dups, tau).collect()}
    for bands in (1, 4):
        got = {
            (r["a"], r["b"]): r["sim"]
            for r in cosine_pairs_lsh(emb_dups, tau, n_planes=64, bands=bands).collect()
        }
        assert got.items() <= truth.items(), bands
    for n_planes in (0, 65):
        with pytest.raises(ValueError):
            cosine_topk_lsh(emb_dups, queries, k=2, n_planes=n_planes)
        with pytest.raises(ValueError):
            cosine_pairs_lsh(emb_dups, tau, n_planes=n_planes, bands=1)
