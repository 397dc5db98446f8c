"""Significance testing (R1-R3): paired permutation / bootstrap, CIs.

Reimplements neleval's significance machinery
(medtype-trainer/neleval/neleval/significance.py) as deterministic
DataFrame plans:

- paired permutation test (:52-70): per trial, swap each document's
  (system1, system2) contingency pair with probability 0.5 and compare
  the score difference against the base difference; 2500 trials (:27).
- paired bootstrap (:73-90): per trial, resample documents with
  replacement; count sign agreements.
- percentile bootstrap CI (:251-281): percentiles of the trial
  distribution at 90/95/99, as exact order statistics.

The reference uses a joblib-parallel RNG; here every random choice is
a pure function of (seed, trial, doc) via md5, so results are
identical across partitionings and cluster sizes — rand(seed) in Spark
is partition-order-dependent and therefore NOT used — and the DuckDB
oracle replays every trial (q68).

Input frame: one row per document with the two systems' contingency
counts: (docid, tp1, fp1, fn1, tp2, fp2, fn2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.metrics.matrix import prf

N_TRIALS = 2500  # significance.py:27
SEED = 42  # q68's oracle replays every trial's md5 draws from it


def _md5_int(*cols):
    """First 8 hex chars of md5(colon-joined cols) as a BIGINT — the
    same md5 recipe as functions.scoring.md5_bucket, portable to DuckDB
    (which has no xxhash64), so the driver oracle replays every trial's
    randomness exactly."""
    s = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _u01(*cols):
    """Deterministic uniform [0,1) from hashed columns."""
    return F.pmod(_md5_int(*cols), F.lit(1_000_000)) / F.lit(1_000_000.0)


def _prf_diff(df: DataFrame, group: list[str]) -> DataFrame:
    """Micro-averaged fscore difference (system1 - system2) per group."""
    agg = df.groupBy(*group).agg(
        F.sum("tp1").alias("tp1"), F.sum("fp1").alias("fp1"), F.sum("fn1").alias("fn1"),
        F.sum("tp2").alias("tp2"), F.sum("fp2").alias("fp2"), F.sum("fn2").alias("fn2"),
    )

    def fscore(tp, fp, fn):
        return prf(tp, tp + fp, tp, tp + fn)[2]

    return agg.select(
        *group,
        (fscore(F.col("tp1"), F.col("fp1"), F.col("fn1"))
         - fscore(F.col("tp2"), F.col("fp2"), F.col("fn2"))).alias("diff"),
    )


def permutation_test(per_doc: DataFrame, n_trials: int = N_TRIALS) -> DataFrame:
    """R1: two-sided paired permutation p-value (significance.py:52-70).

    Returns a 1-row DataFrame (base_diff, p_value, n_trials).  p is the
    fraction of trials whose |swapped diff| >= |base diff|, with the
    reference's add-one smoothing ((r+1)/(n+1), significance.py:69-70).
    """
    base = _prf_diff(per_doc.withColumn("_g", F.lit(1)), ["_g"]).select(
        F.col("diff").alias("base_diff")
    )

    trials = per_doc.crossJoin(
        per_doc.sparkSession.range(n_trials).select(F.col("id").alias("trial"))
    )
    swap = _u01(F.lit(SEED), F.col("trial"), F.col("docid")) < 0.5
    swapped = trials.select(
        "trial",
        F.when(swap, F.col("tp2")).otherwise(F.col("tp1")).alias("tp1"),
        F.when(swap, F.col("fp2")).otherwise(F.col("fp1")).alias("fp1"),
        F.when(swap, F.col("fn2")).otherwise(F.col("fn1")).alias("fn1"),
        F.when(swap, F.col("tp1")).otherwise(F.col("tp2")).alias("tp2"),
        F.when(swap, F.col("fp1")).otherwise(F.col("fp2")).alias("fp2"),
        F.when(swap, F.col("fn1")).otherwise(F.col("fn2")).alias("fn2"),
    )
    diffs = _prf_diff(swapped, ["trial"])
    return (
        diffs.crossJoin(base)
        .agg(
            F.first("base_diff").alias("base_diff"),
            ((F.sum((F.abs("diff") >= F.abs("base_diff")).cast("long")) + 1)
             / F.lit(n_trials + 1)).alias("p_value"),
            F.lit(n_trials).alias("n_trials"),
        )
    )


def bootstrap_diffs(per_doc: DataFrame, n_trials: int = N_TRIALS) -> DataFrame:
    """R2: per-trial score differences under document resampling with
    replacement (significance.py:73-90).  Returns (trial, diff)."""
    from medtype_spark.operators.ranks import with_global_rank

    spark = per_doc.sparkSession
    # dense 0-based doc index via partition-parallel global rank — a
    # bare Window.orderBy would sort every doc through one task
    docs = with_global_rank(per_doc, [F.asc("docid")], rank_col="_k").withColumn(
        "_idx", F.col("_k") - 1
    ).drop("_k")
    n_docs = docs.count()
    slots = spark.range(n_trials).select(F.col("id").alias("trial")).crossJoin(
        spark.range(n_docs).select(F.col("id").alias("slot"))
    )
    picks = slots.select(
        "trial",
        F.pmod(
            _md5_int(F.lit(SEED), F.col("trial"), F.col("slot")), F.lit(n_docs)
        ).alias("_idx"),
    )
    resampled = picks.join(docs, "_idx")
    return _prf_diff(resampled, ["trial"])


def percentile_ci_exact(diffs: DataFrame, n_trials: int) -> DataFrame:
    """R3: 90/95/99% CIs as exact ORDER STATISTICS of the trial distribution
    (diff at ranks ceil(α·n) / ceil((1-α)·n), 1-based, ties broken by
    trial id) — pure selection, no interpolation, so the picked doubles
    are bit-identical in any engine that sorts the same values.  The
    rank comes from the partition-parallel global ranker — no
    single-task global window."""
    import math

    from medtype_spark.operators.ranks import with_global_rank

    ranked = with_global_rank(diffs, [F.asc("diff"), F.asc("trial")], rank_col="_r")
    rows = []
    for lv in (90, 95, 99):
        alpha = (100 - lv) / 200.0
        lo_r = max(1, math.ceil(alpha * n_trials))
        hi_r = max(1, math.ceil((1 - alpha) * n_trials))
        rows.append(
            ranked.where(F.col("_r").isin(lo_r, hi_r)).agg(
                F.lit(lv).alias("level"),
                F.min(F.when(F.col("_r") == lo_r, F.col("diff"))).alias("lo"),
                F.min(F.when(F.col("_r") == hi_r, F.col("diff"))).alias("hi"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
