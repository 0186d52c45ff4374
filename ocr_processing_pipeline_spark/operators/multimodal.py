"""Multimodal (image/audio/video) column plumbing over binary payloads.

Treats media as opaque ``binary`` columns with typed metadata, exactly as
the pipeline treats PDF payloads. The Spark-side plumbing — schema,
Arrow batch shape, partitioning, UDF signatures — is real and tested; no
codec is implemented (decoding, resizing and frame sampling need image
or video libraries the package does not depend on):

- ``sniff_media``     real: magic-byte detection + size metadata (built-in
                      expressions where possible, Arrow UDF for the rest)
- ``extract_features`` deterministic fake: 16-bin byte histogram as the
                      "feature vector" (shape-correct stand-in for a CNN
                      embedding; swap the interior for a real model later)

At 100 TB: media rows are binary-heavy → the Arrow batch cap in session.py
matters here most; feature extraction is mapInPandas (narrow, no shuffle),
and downstream similarity joins reuse operators/similarity.py on the
feature column.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),           # (RIFF container; WAVE vs AVI below)
    (b"ID3", "audio/mp3"),
    (b"\x00\x00\x00\x18ftyp", "video/mp4"),
    (b"%SPDF1\n", "application/x-spdf"),
]


def sniff_media(df: DataFrame, bin_col: str) -> DataFrame:
    """Adds media_kind + payload_bytes columns (magic-byte sniff)."""
    col = F.col(bin_col)
    kind = F.lit("application/octet-stream")
    for magic, mime in reversed(_MAGIC):
        hexpfx = magic.hex()
        kind = F.when(
            F.hex(F.substring(col, 1, len(magic))) == hexpfx.upper(),
            F.lit(mime)).otherwise(kind)
    return (df.withColumn("media_kind", kind)
            .withColumn("payload_bytes", F.length(col).cast("long")))


FEATURE_BINS = 16

FEATURES_SCHEMA = "key string, media_kind string, features array<double>"


def extract_features(df: DataFrame, bin_col: str, key_col: str,
                     normalize: bool = True) -> DataFrame:
    """Deterministic per-payload feature vector (16-bin byte histogram,
    L1-normalized). Vectorized inside the Arrow batch via numpy.

    ``normalize=False`` returns the RAW bin counts (array<bigint>)
    instead — the exact-integer form the cross-engine oracle compares
    (float→string formatting of the normalized vector is not portable
    across engines at rounding ties; the normalization itself is one
    scalar divide, pinned by pytest on the default path)."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # one vectorized pass per Arrow batch: concatenate payloads,
            # histogram all nibbles at once via a (row*BINS + nibble)
            # flattened bincount — no per-payload Python loop
            payloads = [bytes(p) if p is not None else b""
                        for p in pdf[bin_col]]
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                               count=len(payloads))
            hist = np.zeros((len(payloads), FEATURE_BINS), dtype=np.int64)
            if lens.sum() > 0:
                buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                row_of = np.repeat(np.arange(len(payloads)), lens)
                flat = row_of * FEATURE_BINS + (buf >> 4)
                hist = np.bincount(
                    flat, minlength=len(payloads) * FEATURE_BINS
                ).reshape(len(payloads), FEATURE_BINS)
            feats = ((hist / np.maximum(lens, 1)[:, None]).tolist()
                     if normalize else hist.tolist())
            yield pd.DataFrame({
                "key": pdf[key_col].astype(str),
                "media_kind": pdf.get(
                    "media_kind", pd.Series(["?"] * len(pdf))),
                "features": feats,
            })

    schema = (FEATURES_SCHEMA if normalize else
              FEATURES_SCHEMA.replace("array<double>", "array<bigint>"))
    cols = [key_col, bin_col] + (
        ["media_kind"] if "media_kind" in df.columns else [])
    return df.select(*cols).mapInPandas(batches, schema=schema)


__all__ = ["sniff_media", "extract_features", "FEATURE_BINS"]
