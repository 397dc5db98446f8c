"""Set-matching contingency metrics + micro/macro grouped evaluation.

Reimplements neleval's ``Matrix`` algebra and grouped evaluation:

- contingency: tp/fp/fn from gold vs system key sets
  (medtype-trainer/neleval/neleval/annotation.py:345-379 ``count_matches``),
  with the multi-valued gold OR-join semantics of ``intersect``
  (annotation.py:326-342): a gold row matches if ANY of its |-split ids
  equals a system key, counted once.
- P/R/F derivation with zero-denominator → 0.0
  (neleval/evaluate.py:272-279).
- micro = sum of counts across groups; macro = unweighted mean of the
  per-group derived P/R/F (neleval/evaluate.py:118-134, 288-296).

Everything decomposes into join + two-level groupBy — map-side partial
aggregation applies, so the contingency counts never centralize rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prf(p_num, p_den, r_num, r_den):
    """(precision, recall, fscore) Columns from numerator/denominator
    Columns; a zero denominator, or P + R = 0, gives 0.0
    (evaluate.py:272-279).  The one P/R/F expression of the package."""
    p = F.when(p_den == 0, F.lit(0.0)).otherwise(p_num / p_den)
    r = F.when(r_den == 0, F.lit(0.0)).otherwise(r_num / r_den)
    f = F.when((p + r) == 0, F.lit(0.0)).otherwise(2 * p * r / (p + r))
    return p, r, f


def prf_cols():
    """precision/recall/fscore Columns over (tp, fp, fn)."""
    tp = F.col("tp")
    p, r, f = prf(tp, tp + F.col("fp"), tp, tp + F.col("fn"))
    return p.alias("precision"), r.alias("recall"), f.alias("fscore")


def contingency_prf(
    gold: DataFrame,
    system: DataFrame,
    keys: list[str],
    gold_multi_col: str | None = None,
) -> DataFrame:
    """One row of tp/fp/fn (+P/R/F) between gold and system over exact
    key match.

    ``keys`` are the match columns (e.g. docid,start,end,eid).  If
    ``gold_multi_col`` names a |-delimited multi-id column it is
    exploded with existential (match-any, count-once) semantics per
    annotation.py:326-342.
    """
    g = gold.withColumn("_gid", F.monotonically_increasing_id())
    if gold_multi_col is not None:
        g = g.withColumn(gold_multi_col, F.explode(F.split(F.col(gold_multi_col), r"\|")))

    s = system.dropDuplicates(keys)

    hit = g.join(s.select(*keys), keys, "left_semi")
    # count each gold row once even if several of its split ids matched
    tp = hit.select("_gid").dropDuplicates(["_gid"])

    gold_n = gold.agg(F.count(F.lit(1)).alias("n_gold"))
    sys_n = s.agg(F.count(F.lit(1)).alias("n_sys"))
    tp_n = tp.agg(F.count(F.lit(1)).alias("tp"))

    counts = gold_n.crossJoin(sys_n).crossJoin(tp_n).select(
        F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        (F.coalesce(F.col("n_sys"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fp"),
        (F.coalesce(F.col("n_gold"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fn"),
    )
    return counts.select("*", *prf_cols())


def micro_macro(per_group: DataFrame) -> DataFrame:
    """Collapse a per-group contingency table into micro + macro rows.

    micro: sum tp/fp/fn then derive P/R/F (evaluate.py:131-134).
    macro: unweighted mean of per-group P/R/F (evaluate.py:288-296).
    Returns (agg_mode, tp, fp, fn, precision, recall, fscore).

    (r6) Both rows come out of ONE aggregation: the old
    union-of-two-aggs duplicated the whole upstream plan (every scan,
    join and exchange feeding ``per_group`` ran twice).  The single agg
    computes the count sums and the macro averages together, then
    explodes a 2-element struct array into the micro/macro rows —
    identical values, half the work.
    """
    both = per_group.agg(
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.avg("precision").alias("_ma_p"),
        F.avg("recall").alias("_ma_r"),
        F.avg("fscore").alias("_ma_f"),
    )
    micro_p, micro_r, micro_f = prf_cols()
    rows = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("micro").alias("agg_mode"),
                    F.col("tp"), F.col("fp"), F.col("fn"),
                    micro_p, micro_r, micro_f,
                ),
                F.struct(
                    F.lit("macro").alias("agg_mode"),
                    F.col("tp"), F.col("fp"), F.col("fn"),
                    F.col("_ma_p").alias("precision"),
                    F.col("_ma_r").alias("recall"),
                    F.col("_ma_f").alias("fscore"),
                ),
            )
        ).alias("_row")
    )
    return rows.select("_row.*")
