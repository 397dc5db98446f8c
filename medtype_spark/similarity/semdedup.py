"""SemDedup: semantic (embedding-level) deduplication.

Web-scale motivation: SemDedup (Abbas et al. 2023, arXiv:2303.09540)
showed that pruning SEMANTIC near-duplicates — pairs whose embeddings
are nearly parallel even when their surface text differs — shrinks
web-scale training corpora with no quality loss.  The published
recipe is exactly a composition this engine already ships: k-means
cluster the embeddings, compare pairs ONLY within a cluster, keep one
representative per near-duplicate group.

Spark-first plan (no all-pairs join anywhere):

* coarse assignment: one Arrow-batched argmax against the broadcast
  centroid matrix (`similarity/knn.py:ivf_assign`) — the same coarse
  quantizer the IVF/IVF-PQ ANN index uses, so the cluster model is
  shared infrastructure, not a second training job;
* within-cell pairs through `operators/blocking.py:block_pairs`
  keyed on the IVF cell, with the embedding carried as an extra
  column: quadratic work is bounded per CELL (≈ corpus / n_centroids
  on average; a cell over 10000 rows is salted onto a grid of ≤ 2000²
  tiles and joined on (cell, tile row, tile column)), never per
  corpus;
* JVM-side cosine (`operators/pairs.py:cosine_sim` — zip_with +
  aggregate, no Python) filters edges at ``threshold``;
* connected components (`operators/cc.py`) close the near-dup
  relation transitively; canonical id = min id per component — the
  same keep-rule as exact dedup, so downstream code treats both
  dedups uniformly.

Cross-cell misses are inherent to SemDedup (the paper accepts them:
a near-dup pair split across cluster boundaries is not compared).
Recall against brute-force cosine is therefore a measured property of
the centroid model, not of this operator — see the pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.operators.blocking import block_pairs
from medtype_spark.operators.cc import connected_components
from medtype_spark.operators.pairs import cosine_sim, dot
from medtype_spark.similarity.knn import ivf_assign


def semantic_dedup(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.95,
    metric: str = "cosine",
) -> DataFrame:
    """Returns DataFrame(vec_id, cell, canonical_id, group_size,
    is_canonical) over a (vec_id, embedding) corpus: every input row
    labeled with its semantic-duplicate group.  Rows with
    ``is_canonical`` form the deduplicated corpus.
    """
    assigned = ivf_assign(corpus, centroids, out_col="sd_cell", metric=metric)

    pairs = block_pairs(
        assigned.select(F.col("sd_cell"), F.col("vec_id"), F.col("embedding")),
        key_col="sd_cell",
        id_col="vec_id",
        extra_cols=["embedding"],
    )
    score = (
        cosine_sim(F.col("a_embedding"), F.col("b_embedding"))
        if metric == "cosine"
        else dot(F.col("a_embedding"), F.col("b_embedding"))
    )
    edges = pairs.where(score >= F.lit(threshold)).select(
        F.col("a_vec_id").alias("src"), F.col("b_vec_id").alias("dst")
    )

    labels = connected_components(
        edges,
        vertices=assigned.select(F.col("vec_id").alias("node")),
        small_graph_threshold=100_000,
    )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        assigned.select(F.col("vec_id"), F.col("sd_cell").alias("cell"))
        .join(labels.withColumnRenamed("node", "vec_id"), "vec_id")
        .join(sizes, "component")
        .select(
            "vec_id",
            "cell",
            F.col("component").alias("canonical_id"),
            "group_size",
            (F.col("component") == F.col("vec_id")).alias("is_canonical"),
        )
    )
