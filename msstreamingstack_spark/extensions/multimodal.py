"""Multimodal column plumbing — image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The Spark-side machinery here is real and tested (schemas, batch
iteration, partition-preserving transforms, pandas-UDF signatures);
the actual media decoding is STUBBED — the container ships no
image/audio libraries — behind ``decode_fn`` injection points with a
deterministic fake used by tests. Swap ``fake_decode_image`` for a
PIL/ffmpeg-backed callable in a real deployment; nothing else changes.

Scale notes: media bytes stay columnar end-to-end (Arrow both sides of
the UDF); per-batch processing bounds memory to
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; feature
extraction emits fixed-width vectors.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def fake_decode_image(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: fixed-width feature
    from byte statistics. Replace with a real model/decoder in prod."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    n = len(payload)
    return [
        float(sum(payload[i::FEATURE_DIM]) % 997) / 997.0 if n else 0.0
        for i in range(FEATURE_DIM)
    ]


def real_decode_image(payload: bytes) -> list[float]:  # pragma: no cover
    """Real decode path — requires PIL/torchvision, absent here."""
    raise NotImplementedError(
        "media decoding libraries are not available in this environment; "
        "inject a decoder via extract_features(decode_fn=...)"
    )


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], list[float]] = fake_decode_image,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps the operation partition-local (no shuffle);
    each pandas batch maps payload → fixed-width float vector.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                    "feature": pdf["payload"].map(decode_fn),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per
    sampled timestamp (decode stubbed; timestamps are real). Uses a
    JVM-side sequence explode — no Python in the row-multiplication
    path, only in the (stubbed) per-frame decode that would follow."""
    vids = media.filter(F.col("kind") == "video")
    return (
        vids.withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "mime", "frame_ts_ms")
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Typed-metadata rollup per media kind (pure built-ins)."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length(F.col("payload"))).alias("total_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fixture generator for tests (no media libs)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes((i * 7 + j) % 256 for j in range(64 + (i % 5) * 16))
        rows.append(
            (
                i,
                kind,
                payload,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 + i % 8 if kind == "image" else None,
                48 + i % 8 if kind == "image" else None,
                (3000 + i * 10) if kind in ("audio", "video") else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
