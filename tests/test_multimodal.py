"""Multimodal column plumbing: schemas, batch shapes, determinism,
metadata pushdown-ability; decode kernels are documented stubs."""

import pytest
from pyspark.sql import functions as F

from medtype_spark.multimodal.media import (
    N_MEDIA_FEATURES,
    decode_stats,
    extract_media_features,
    sample_frame_indices,
    synth_media,
)

DOCS = "doc_id:long, text:string"


def _docs(spark, n=30):
    return spark.createDataFrame(
        [(i, f"payload text {i} " * (i % 5 + 1)) for i in range(n)], DOCS
    )


def test_media_schema_and_types(spark):
    m = synth_media(spark, _docs(spark))
    assert [f.name for f in m.schema.fields] == ["media_id", "media_type", "payload", "meta"]
    assert m.schema["payload"].dataType.simpleString() == "binary"
    types = {r["media_type"] for r in m.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}
    # metadata predicates never touch payload: audio rows carry a rate
    audio = m.where(F.col("meta.sample_rate") > 0).select("media_type").distinct().collect()
    assert [r["media_type"] for r in audio] == ["audio"]


def test_features_deterministic_and_fixed_width(spark):
    m = synth_media(spark, _docs(spark))
    f1 = {r["media_id"]: r["features"] for r in extract_media_features(m).collect()}
    f2 = {r["media_id"]: r["features"]
          for r in extract_media_features(m.repartition(7)).collect()}
    assert f1 == f2  # partition-invariant stub decode
    assert all(len(v) == N_MEDIA_FEATURES for v in f1.values())


def test_decode_stats(spark):
    m = synth_media(spark, _docs(spark))
    rows = decode_stats(m).collect()
    assert len(rows) == 30
    for r in rows:
        assert 0.0 <= r["sig_mean"] <= 1.0
        assert r["n_bytes"] > 0


def test_frame_sampling_uniform(spark):
    m = synth_media(spark, _docs(spark, 40))
    rows = sample_frame_indices(m).collect()
    assert rows  # some videos exist
    for r in rows:
        n = r["n_frames"]
        assert r["frame_indices"] == sorted(set(i * n // 4 for i in range(4)))

