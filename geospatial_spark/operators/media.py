"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata; feature
extraction runs as an Arrow-batched ``mapInPandas`` pipeline (the real shape
a 100 TB multimodal pipeline needs: binary columns stream through Arrow in
bounded batches, no driver collect, schema fixed up front).

There is no codec step: image/audio libs are not in this environment, so
a deterministic featureizer (byte length + md5-derived ints + frame-sampling
arithmetic) keeps the Spark-side plumbing real and oracle-checkable: the
DuckDB oracle recomputes the same features from the payload string
(sources.oracle_text.media_features_sql).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FRAME_STRIDE = 64  # fake video framing: 1 "frame" per 64 payload bytes

FEATURE_SCHEMA = (
    "media_id bigint, kind string, byte_len bigint, n_frames bigint, "
    "f0 bigint, f1 bigint, f2 bigint, f3 bigint"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic media table from documents:
    (media_id, kind, payload binary, width, height)."""
    from ..sources.pages import read_split

    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload_str = F.concat(F.lit("MEDIA:"), kind, F.lit(":"), F.col("text"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(payload_str, "utf-8").alias("payload"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
    )


def extract_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    Features: byte length, frame count (video framing arithmetic), and four
    32-bit ints from md5(payload) — the deterministic stand-in for a codec's
    feature head.  One mapInPandas pass, no shuffle."""

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            hexes = [hashlib.md5(bytes(b)).hexdigest() for b in payloads]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": [len(bytes(b)) for b in payloads],
                    "f0": [int(h[0:8], 16) for h in hexes],
                    "f1": [int(h[8:16], 16) for h in hexes],
                    "f2": [int(h[16:24], 16) for h in hexes],
                    "f3": [int(h[24:32], 16) for h in hexes],
                }
            )
            out["n_frames"] = out["byte_len"] // FRAME_STRIDE + 1
            yield out[
                ["media_id", "kind", "byte_len", "n_frames", "f0", "f1", "f2", "f3"]
            ]

    return media_df.select("media_id", "kind", "payload").mapInPandas(
        _featurize, FEATURE_SCHEMA
    )


def frame_features(features_df: DataFrame, every: int = 16) -> DataFrame:
    """Features + frame-sampling plan in one relation: video rows explode to
    one row per sampled frame index (0, every, 2·every, …) carrying the
    media's features; image/audio rows surface once with a NULL frame_idx.
    Pure JVM sequence/explode on top of the mapInPandas featureizer —
    the merged driver query for P1 + frame sampling."""
    idx = F.when(
        F.col("kind") == "video",
        F.sequence(F.lit(0).cast("bigint"), F.col("n_frames") - 1, F.lit(every).cast("bigint")),
    ).otherwise(F.array(F.lit(None).cast("bigint")))
    return features_df.select(
        "media_id", "kind", "byte_len", "n_frames", "f0", "f1", "f2", "f3",
        F.explode(idx).alias("frame_idx"),
    )
