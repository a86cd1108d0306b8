"""Multimodal asset plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a typed metadata
struct; decode / feature-extraction runs as Arrow-batched ``mapInPandas``
kernels (never per-row Python). No image/audio library is a dependency:
``register_decoder`` installs a real decoder on the driver, and
``extract_features`` ships it to the Python workers with its kernel.
Without one, a deterministic fake derives pseudo-features from the
payload bytes, so the full Spark pipeline — schema, partitioning, Arrow
batch shape, UDF signature — is real and testable end-to-end.

Asset schema:  (asset_id: long, kind: string, payload: binary,
                meta: struct<source: string, declared_bytes: long>)
Feature schema: (asset_id: long, kind: string, n_bytes: long,
                 sha256: string, width: int, height: int,
                 feature: array<float>)
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

# Pluggable real decoder: payload bytes -> (width, height, np.ndarray feature).
_DECODER: Callable[[bytes, str], tuple[int, int, np.ndarray]] | None = None


def register_decoder(fn: Callable[[bytes, str], tuple[int, int, np.ndarray]]) -> None:
    """Install a real decoder (e.g. PIL/torchvision based) for production:
    every later :func:`extract_features` call decodes with it."""
    global _DECODER
    _DECODER = fn


def _fake_decode_batch(payloads: pd.Series) -> tuple[np.ndarray, np.ndarray, list]:
    """Deterministic fake decode, vectorized per batch: pseudo width/height
    from the first payload bytes, feature = byte-histogram moments."""
    widths = np.empty(len(payloads), dtype=np.int32)
    heights = np.empty(len(payloads), dtype=np.int32)
    feats = []
    for i, b in enumerate(payloads):
        arr = np.frombuffer(b, dtype=np.uint8)
        widths[i] = 16 + int(arr[:4].sum()) % 1024 if len(arr) else 16
        heights[i] = 16 + int(arr[4:8].sum()) % 1024 if len(arr) else 16
        # byte-value histogram folded to FEATURE_DIM buckets, L1-normalized
        hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float32)
        s = hist.sum()
        feats.append(hist / s if s else hist)
    return widths, heights, feats


def attach_payload(docs: DataFrame) -> DataFrame:
    """Wrap a documents table ``(doc_id, text)`` as an asset table of
    ``image`` kind (payload = utf-8 bytes of the text). In production the
    payload column comes straight from the lakehouse; this adapter exists
    so the binary pipeline is exercised by real data."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("synthetic").alias("source"),
            F.octet_length(F.encode(F.col("text"), "utf-8"))
            .cast("long")
            .alias("declared_bytes"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Feature extraction over the binary payload column: with the decoder
    :func:`register_decoder` installed, read here on the driver and carried
    into the kernel's closure (a worker process never saw the
    registration), else the deterministic fake.

    ``n_bytes`` and ``sha256`` are JVM column expressions
    (``F.octet_length`` / ``F.sha2`` — codegen'd, never Python); the Arrow
    kernel does ONLY what a built-in genuinely can't: the decode. The
    pre-computed columns flow through the ``mapInPandas`` batch untouched,
    so no join is needed to reunite them. Output partitioning follows the
    input — repartition upstream by asset_id for even batch sizes at scale.
    """
    prepped = assets.select(
        "asset_id",
        "kind",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.sha2(F.col("payload"), 256)).alias("sha256"),
        "payload",
    )
    decoder = _DECODER

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf["payload"]
            if decoder is not None:
                decoded = [decoder(b, k) for b, k in zip(payloads, pdf["kind"])]
                widths = np.array([d[0] for d in decoded], dtype=np.int32)
                heights = np.array([d[1] for d in decoded], dtype=np.int32)
                feats = [d[2].astype(np.float32) for d in decoded]
            else:
                widths, heights, feats = _fake_decode_batch(payloads)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].to_numpy(),
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"].to_numpy(),
                    "sha256": pdf["sha256"],
                    "width": widths,
                    "height": heights,
                    "feature": feats,
                }
            )

    return prepped.mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: (asset_id, frame_index) rows produced
    JVM-side from declared metadata — the decode of each sampled frame is
    the kernel above. One frame per 64 bytes of payload, sampled every 2nd
    frame, capped at 8 rows per asset (the cap keeps a mega-video from
    exploding a task's fan-out)."""
    total = (F.col("meta.declared_bytes") / F.lit(64)).cast("long") + 1
    idx = F.slice(
        F.sequence(F.lit(0).cast("long"), total - 1, F.lit(2).cast("long")),
        1,
        8,
    )
    return assets.select("asset_id", F.explode(idx).alias("frame_index"))
