"""Text analysis operators for large-scale training-data pipelines.

All operators are pure JVM-side column expressions (whole-stage codegen,
no Python in the hot path) over a documents table
``(doc_id: long, text: string, ...)``:

* ``tokenize`` / ``token_stats`` — whitespace tokenization + per-doc and
  per-group token counts (the "token counting" pipeline stage).
* ``quality_score`` — deterministic heuristic quality signal from length,
  punctuation/digit ratios, stopword ratio, and repetition
  (distinct-token ratio). Every term is a closed-form expression of the
  text, so the score is exactly reproducible by the SQL oracle.
* ``lang_id_scores`` — n-gram/stopword-overlap language scores; argmax
  with deterministic tie-break. A heuristic classifier, not a model — at
  100 TB this is the cheap pre-filter pass in front of an expensive
  model-based pass.
* ``fingerprint`` — normalized-content fingerprint (md5 of
  lower/punct-stripped/whitespace-collapsed text): the key for
  normalization-robust exact dedup.

These have no analogue in the reference (a pure graph engine); they are
the training-data-pipeline tier of this engine's north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets. Deterministic, embedded here AND
# mirrored literally in the SQL oracle; overlap with these sets is the
# language score. (Heuristic n-gram language ID in the Cavnar-Trenkle
# spirit, reduced to marker tokens so it stays a pure column expression.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
    "zh": ["de", "shi", "he", "zai", "le"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty-string safe)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: (doc_id, n_tokens, n_distinct_tokens,
    n_chars_text, avg_token_len)."""
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length(F.col("text")).cast("long").alias("n_chars_text"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def token_stats_by(docs: DataFrame, group_col: str) -> DataFrame:
    """Corpus token accounting per group (e.g. per lang): map-side partial
    aggregation absorbs the per-doc fan-in before the tiny group shuffle."""
    toks = tokens(F.col("text"))
    return (
        docs.select(F.col(group_col), F.size(toks).cast("long").alias("n"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.round(F.avg("n"), 4).alias("avg_tokens"),
        )
    )


def _count_matches(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, distinct_ratio, alpha_ratio,
    quality) — quality in [0,1], all ratios rounded to 4dp.

    quality = 0.25*len_score + 0.25*stopword + 0.25*distinct + 0.25*alpha
    where len_score saturates at 64 tokens. Deterministic closed form.
    """
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_alpha = _count_matches(F.col("text"), "[a-zA-Z]")
    n_chars = F.greatest(F.length(F.col("text")), F.lit(1)).cast("long")
    denom = F.greatest(n_tok, F.lit(1)).cast("double")

    len_score = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0))
    stop_ratio = n_stop.cast("double") / denom
    distinct_ratio = n_distinct.cast("double") / denom
    alpha_ratio = n_alpha.cast("double") / n_chars.cast("double")
    quality = (len_score + stop_ratio + distinct_ratio + alpha_ratio) / F.lit(4.0)

    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(quality, 4).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, score) — argmax marker-token overlap, ties broken
    by language code ascending (deterministic)."""
    toks = tokens(F.col("text"))
    denom = F.greatest(F.size(toks), F.lit(1)).cast("double")
    scores = F.array(
        *[
            F.struct(
                F.round(
                    F.size(F.filter(toks, lambda t: t.isin(ws))).cast("double") / denom,
                    6,
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(LANG_MARKERS.items())
        ]
    )
    # max over (score, then reversed-lang for min-lang tie-break): pick via
    # sort: order by score desc, lang asc == array_sort with comparator
    best = F.array_sort(
        scores,
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .when(a["lang"] < b["lang"], F.lit(-1))
        .when(a["lang"] > b["lang"], F.lit(1))
        .otherwise(F.lit(0)),
    )[0]
    return docs.select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        best["score"].alias("score"),
    )


def normalized(text: Column) -> Column:
    """Normalization for fingerprinting: lowercase, strip non-alnum/space,
    collapse whitespace, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 of the normalized text. Robust to case /
    punctuation / whitespace edits; join on fp for normalization-level
    exact dedup."""
    return docs.select("doc_id", F.md5(normalized(F.col("text"))).alias("fp"))
