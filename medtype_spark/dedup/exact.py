"""Exact deduplication: hash-groupBy canonicalization.

The training-data-pipeline staple: at 100 TB the groupBy shuffles on
the content hash (uniform by construction — no skew), and map-side
partial aggregation collapses within-partition duplicates before the
shuffle.  Reference analogue: set-based dedup of candidate lists
(entity_linkers.py:88-98) writ large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame) -> DataFrame:
    """Map each ``(doc_id, text)`` row to its duplicate-group canonical
    id (min ``doc_id`` over rows with the same ``text``).

    Returns the input plus (content_hash, canonical_id, group_size,
    is_canonical) — keep ``is_canonical`` rows to dedup.
    """
    hashed = df.withColumn("content_hash", F.md5(F.col("text")))
    groups = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return hashed.join(groups, "content_hash").withColumn(
        "is_canonical", F.col("doc_id") == F.col("canonical_id")
    )
