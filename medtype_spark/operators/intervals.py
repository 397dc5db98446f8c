"""Interval (overlap) join — J6/J7 of the reference.

The neleval sweep (medtype-trainer/neleval/neleval/annotation.py:418-460)
matches gold/system spans per document when NOT (s.start > g.end OR
s.end < g.start).  Spark-first restatement: equi-join on the band key
(docid) FIRST — Catalyst plans a shuffled hash join — with the overlap
range predicate as a post-join filter.  This keeps the theta part
m×n *per document* exactly like the reference's per-doc sweep, never a
global nested loop.  AQE handles per-doc skew.

``overlap_score`` reproduces J7 (annotation.py:462-505): per reference
span, 'max' mode = best single overlap fraction; 'sum' mode =
union-coalesced covered chars / ref length (islands via a window-based
running-max sweep — no UDAF needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    band_key: str = "docid",
) -> DataFrame:
    """Inner join of the rows with the same band key whose [start,end]
    intervals overlap (inclusive bounds, reference compare_spans
    annotation.py:65-73).  Every right column but the band key gets
    the suffix ``_r``."""
    r = right
    for c in right.columns:
        if c != band_key:
            r = r.withColumnRenamed(c, f"{c}_r")
    cond = (F.col("start_r") <= F.col("end")) & (F.col("end_r") >= F.col("start"))
    return left.join(r, on=band_key).where(cond)


def overlap_fraction(start, end, start_r, end_r):
    """Covered fraction of the left span by one right span (char grain,
    end-exclusive arithmetic on inclusive-bound spans)."""
    covered = (
        F.least(F.col(end), F.col(end_r)) - F.greatest(F.col(start), F.col(start_r)) + 1
    )
    length = F.col(end) - F.col(start) + 1
    return F.greatest(covered, F.lit(0)) / length


def overlap_score_max(matched: DataFrame, ref_keys: list[str]) -> DataFrame:
    """J7 'max' mode: best single overlap fraction per reference span
    of an ``interval_join`` output."""
    frac = overlap_fraction("start", "end", "start_r", "end_r")
    return matched.groupBy(*ref_keys).agg(F.max(frac).alias("overlap"))


def overlap_score_sum(matched: DataFrame, ref_keys: list[str]) -> DataFrame:
    """J7 'sum' mode: union-coalesced covered length / ref length, per
    reference span of an ``interval_join`` output.

    Island detection with a running max over intervals sorted by start
    (window within the ref span) — the declarative equivalent of the
    reference's open/close offset sweep (annotation.py:484-505).
    """
    clipped = matched.select(
        *ref_keys,
        F.col("start"),
        F.col("end"),
        F.greatest(F.col("start_r"), F.col("start")).alias("cs"),
        F.least(F.col("end_r"), F.col("end")).alias("ce"),
    ).where(F.col("ce") >= F.col("cs"))

    w = (
        Window.partitionBy(*ref_keys)
        .orderBy("cs", "ce")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_prev = clipped.withColumn("prev_max_end", F.max("ce").over(w))
    # contribution of each clipped interval = its chars not already
    # covered by any earlier-starting interval
    contrib = F.greatest(
        F.col("ce")
        - F.greatest(F.col("cs") - 1, F.coalesce(F.col("prev_max_end"), F.col("cs") - 1)),
        F.lit(0),
    )
    return (
        with_prev.withColumn("contrib", contrib)
        .groupBy(*ref_keys)
        .agg(
            (F.sum("contrib") / (F.first(F.col("end")) - F.first(F.col("start")) + 1)).alias(
                "overlap"
            )
        )
    )
