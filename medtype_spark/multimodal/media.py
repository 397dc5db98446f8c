"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode / feature operators and a
metadata-only frame-sampling plan.

Design for 100 TB: media payloads stay OPAQUE BINARY end-to-end —
Spark shuffles/stores them without interpretation, metadata lives in a
typed struct column so predicates on (media_type, width, duration…)
push down to the parquet scan without touching payload bytes, and all
per-payload computation is ``mapInPandas`` over bounded Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps worker memory
regardless of partition size).

No codec (PIL / libav) is a dependency, so the decode kernel
``_fake_pixels`` is a deterministic fake, clearly marked: it produces
stable pseudo-content from the payload bytes so the Spark-side
plumbing (schemas, batch shapes, partitioning, joins over features) is
real and testable.  Swapping in a real codec changes only that
function's body.  There is no resize operator: no query or job
transforms payloads.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),  # image | audio | video
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

N_MEDIA_FEATURES = 64


def synth_media(spark, documents: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents table:
    payload = utf-8 text bytes (an opaque stand-in), typed metadata a
    pure function of doc_id.  Columnar, partition-invariant."""
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        F.element_at(
            F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("format"),
        (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 24).cast("int").alias("height"),
        F.when(F.col("doc_id") % 3 == 0, 3).otherwise(1).cast("int").alias("channels"),
        F.when(F.col("doc_id") % 3 == 1, 16000).otherwise(0).cast("int").alias("sample_rate"),
        F.when(F.col("doc_id") % 3 == 2, (F.col("doc_id") % 240 + 8))
        .otherwise(1).cast("int").alias("n_frames"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        mtype.alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        meta.alias("meta"),
    )


def _fake_pixels(payload: bytes, n: int = 256) -> np.ndarray:
    """Deterministic pseudo-decode: stable bytes → [0,1) floats.

    STUB standing in for a real image/audio decode (no codec libs in
    this container); same output for same payload on any partition.
    Sample i = md5(md5(payload) ':' i)[:8 hex] / 2^32 — a pure md5
    counter stream, so the DuckDB oracle for q57 reproduces the
    decoded signal (and its stats) exactly, unlike the previous
    np.RandomState stream which only Python could generate."""
    if not payload:
        return np.zeros(n)
    d = hashlib.md5(payload).hexdigest()
    return np.array([
        int(hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:8], 16) / 4294967296.0
        for i in range(n)
    ])


def extract_media_features(media: DataFrame) -> DataFrame:
    """Fixed-width ``features`` vector per payload (the embed step of a
    training-data pipeline).  Arrow-batched; payload bytes never leave
    the worker as anything but the feature vector."""
    schema = T.StructType(
        [f for f in media.schema.fields if f.name != "payload"]
        + [T.StructField("features", T.ArrayType(T.DoubleType()))]
    )

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            feats = [
                _fake_pixels(bytes(p) if p is not None else b"", N_MEDIA_FEATURES)
                .round(6).tolist()
                for p in pdf["payload"]
            ]
            out = pdf.drop(columns=["payload"]).copy()
            out["features"] = feats
            yield out

    return media.mapInPandas(run, schema=schema)


def decode_stats(media: DataFrame) -> DataFrame:
    """Per-payload decode statistics (mean/std/min/max over the decoded
    signal) — the validate/filter step before training ingestion."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("sig_mean", T.DoubleType()),
        T.StructField("sig_std", T.DoubleType()),
        T.StructField("n_bytes", T.IntegerType()),
    ])

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for mid, mt, p in zip(pdf["media_id"], pdf["media_type"], pdf["payload"]):
                raw = bytes(p) if p is not None else b""
                sig = _fake_pixels(raw)
                rows.append((mid, mt, round(float(sig.mean()), 6),
                             round(float(sig.std()), 6), len(raw)))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "sig_mean", "sig_std", "n_bytes"]
            )

    return media.mapInPandas(run, schema=schema)


def sample_frame_indices(media: DataFrame) -> DataFrame:
    """Uniform 4-frame sampling plan for video rows: pure JVM column
    arithmetic over metadata (idx_i = floor(i * n_frames / 4), deduped
    ascending) — the selection is decided WITHOUT touching payloads,
    so a downstream decode only reads chosen frames."""
    n = F.col("meta.n_frames")
    idx = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.floor(i * n / 4).cast("int"),
            )
        )
    )
    return media.where(F.col("media_type") == "video").select(
        "media_id", n.alias("n_frames"), idx.alias("frame_indices")
    )
