"""End-to-end near-duplicate clustering: the composed scale pipeline.

``near_dup_clusters`` chains the individually-tested stages into the
shape a 100 TB training-data dedup actually runs:

  shingles → minhash signatures → LSH banding (equi-join candidates,
  never all-pairs) → exact Jaccard verification over full shingle sets
  → transitive closure (connected components) → one canonical id per
  near-dup group.

Every stage is a declarative DataFrame plan; the only quadratic is
per-LSH-bucket, and verification touches candidate pairs only.  The
canonical id is the group's minimum document id (deterministic,
partition-invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from medtype_spark.dedup.minhash import (
    doc_shingles,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_local,
)
from medtype_spark.operators.cc import connected_components


def near_dup_clusters(docs: DataFrame) -> DataFrame:
    """(doc_id, neardup_group, group_size): every (doc_id, text)
    document labeled with its near-duplicate group's canonical
    (minimum) id, over word 3-gram shingles and 16 MinHashes in 4
    bands; a candidate pair links at shingle Jaccard ≥ 0.8."""
    sh = doc_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    # (r6) signatures row-locally (array_min over the doc's shingle
    # array — no explode/groupBy/exchange; bit-identical to the
    # exploded form, pytest-asserted).  ``sh`` stays persisted for the
    # Jaccard verification, its other consumer.
    sig = minhash_signatures_local(docs)
    cands = lsh_candidate_pairs(sig)
    verified = jaccard_pairs(sh, cands, min_jaccard=0.8)

    comp = connected_components(
        verified.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        vertices=docs.select(F.col("doc_id").alias("node")),
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    out = comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("neardup_group"),
        "group_size",
    )
    sh.unpersist()
    return out
