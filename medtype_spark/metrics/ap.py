"""A10: average precision (AUPRC) — sort-based, DataFrame-native.

The reference computes sklearn ``average_precision_score`` over
flattened multi-label logits (medtype-trainer/medtype.py:236-252, call
at :251).  Restated as one global ranking: rank by score descending
(deterministic tie-break), AP = Σ_k precision@k · rel_k / n_pos — the
same step-interpolation sklearn uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def average_precision(
    scored: DataFrame,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One-row AP over the whole frame, ranked by ``score``.

    ``label`` is 0/1.  Ties broken by ``tiebreak_col`` for
    engine-reproducible ranking.  The global ranking needs no
    single-task Window.orderBy: range repartition + partition offsets
    (operators/ranks.py).
    """
    from medtype_spark.operators.ranks import with_global_rank

    order = [F.desc("score")]
    if tiebreak_col:
        order.append(F.asc(tiebreak_col))

    base = scored.withColumn("_rel", F.col("label").cast("double"))
    ranked = with_global_rank(
        base, order, rank_col="_k", cum_cols={"_rel": "_tp_at_k"}
    ).select("_rel", "_k", "_tp_at_k")
    contrib = (F.col("_tp_at_k") / F.col("_k")) * F.col("_rel")
    return ranked.agg(
        (F.coalesce(F.sum(contrib) / F.sum("_rel"), F.lit(0.0))).alias("average_precision"),
        F.sum("_rel").cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n"),
    )
