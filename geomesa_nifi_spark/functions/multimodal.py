"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing here is real and tested — schemas, Arrow batch
shapes, ``mapInArrow`` partition flow, deterministic feature vectors — but
the actual media *decoding* is stubbed: there are no image/audio codecs, so
the extractor derives a deterministic pseudo-feature from the payload bytes
(stable across runs/partitionings, so tests and oracles hold).

At scale the pattern is the one that matters: binary column stays opaque to
Catalyst (never cast to string), work happens in Arrow-batched Python with
bounded batch memory (``maxRecordsPerBatch``), and the output schema is
declared up front so the optimizer can prune around the UDF.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _fake_features(payload: bytes) -> np.ndarray:
    """Deterministic pseudo-embedding: sha256 bytes -> FEATURE_DIM floats in
    [0, 1).  Stands in for decode->resize->embed until real codecs exist."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 2) // len(digest) + 1))[: FEATURE_DIM * 2], dtype=np.uint16)
    return (raw.astype(np.float32) / 65536.0)[:FEATURE_DIM]


def extract_media_features(df: DataFrame) -> DataFrame:
    """``mapInArrow`` feature extraction: one Arrow batch in, one out."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(FEATURES_SCHEMA)
        for batch in batches:
            payloads = batch.column("payload").to_pylist()
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": batch.column("media_id"),
                    "kind": batch.column("kind"),
                    "n_bytes": [0 if p is None else len(p) for p in payloads],
                    "content_sha": [
                        None if p is None else hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                    "features": [
                        None if p is None else _fake_features(p).tolist() for p in payloads
                    ],
                },
                schema=arrow_schema,
            )

    return df.mapInArrow(run, FEATURES_SCHEMA)


def synthetic_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic opaque-binary media table for tests (JVM-side).

    Payload and kind derive from md5/modulo (not xxhash64) so an external
    SQL oracle can regenerate the identical table: DuckDB has md5+sha256 but
    no xxhash64."""
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), 3) + 1).cast("int"),
    )
    payload = F.encode(
        F.concat(
            F.lit("MEDIA:"),
            F.col("id").cast("string"),
            F.lit(":"),
            F.md5(F.col("id").cast("string")),
        ),
        "UTF-8",
    )
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        kinds.alias("kind"),
        payload.alias("payload"),
        F.create_map(F.lit("src"), F.lit("synthetic")).alias("meta"),
    )
