"""Small join operators: weighted match (J5), first-on-category oracle
selection (J9), and fallback key lookup (J10).

- J5: equi-join on non-weighted fields, multiply per-(gold,sys) weight
  from a broadcast table, defaulting to exact-match 0/1
  (neleval/annotation.py:359-379; TypeWeighting
  neleval/configs.py:276-289: weight defaults to int(gold==sys)).
- J9: first candidate (rank order) whose type set intersects the
  target category set; NO fallback — unmatched rows yield null
  (medtype-trainer/eval_models.py:3-13 returns None, idx=-1).
- J10: dictionary lookup with a 3-way id-normalization back-off
  (eval_models.py:15-19): exact id, then prefixed id, then suffix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def weighted_match_score(
    gold: DataFrame,
    system: DataFrame,
    keys: list[str],
    weights: DataFrame | None = None,
) -> DataFrame:
    """J5: per matched key, weight w(gold type, system type) over both
    sides' ``type``; returns the joined rows with a ``weight`` column
    (sum gives weighted tp)."""
    g = gold.select(*keys, F.col("type").alias("_gt"))
    s = system.select(*keys, F.col("type").alias("_st"))
    j = g.join(s, keys)
    if weights is not None:
        w = weights.select(
            F.col("gold_type").alias("_gt"),
            F.col("sys_type").alias("_st"),
            F.col("weight").alias("_w"),
        )
        j = j.join(F.broadcast(w), ["_gt", "_st"], "left")
        weight = F.coalesce(F.col("_w"), (F.col("_gt") == F.col("_st")).cast("double"))
    else:
        weight = (F.col("_gt") == F.col("_st")).cast("double")
    return j.select(*keys, F.col("_gt").alias("gold_type"),
                    F.col("_st").alias("sys_type"), weight.alias("weight"))


def first_on_category(mentions: DataFrame, entity_types: DataFrame) -> DataFrame:
    """J9: first of ``candidates`` whose entity types intersect
    ``act_cat``, as (selected_eid, selected_idx).

    Unmatched → (null, -1) exactly like filter_on_cat's
    ``return None, -1, None`` (eval_models.py:3-13).
    """
    base = mentions.withColumn("_rid", F.monotonically_increasing_id())
    exploded = base.select(
        "_rid", F.col("act_cat").alias("_cat"),
        F.posexplode("candidates").alias("_pos", "_cand"),
    )
    dim = entity_types.select(F.col("eid").alias("_eid"), F.col("types").alias("_etypes"))
    hit = (
        exploded.join(F.broadcast(dim), exploded["_cand"]["eid"] == dim["_eid"], "left")
        .where(
            F.size(F.array_intersect(
                F.coalesce(F.col("_etypes"), F.array().cast("array<string>")),
                F.col("_cat"),
            )) > 0
        )
        .groupBy("_rid")
        .agg(F.min(F.struct("_pos", "_cand")).alias("_sel"))
    )
    out = base.join(hit, "_rid", "left").select(
        *mentions.columns,
        F.col("_sel")["_cand"]["eid"].alias("selected_eid"),
        F.coalesce(F.col("_sel")["_pos"], F.lit(-1)).alias("selected_idx"),
    )
    return out


def lookup_with_fallback(
    df: DataFrame,
    dim: DataFrame,
    key_variants: list[Column],
    out_col: str = "looked_up",
) -> DataFrame:
    """J10: try each key variant in priority order against ``dim``'s
    (key, value); first hit wins (eval_models.py:15-19's get_pred
    back-off chain)."""
    out = df
    hits = []
    for i, kv in enumerate(key_variants):
        d = dim.select(
            F.col("key").alias(f"_k{i}"), F.col("value").alias(f"_v{i}")
        )
        out = out.join(F.broadcast(d), kv == F.col(f"_k{i}"), "left").drop(f"_k{i}")
        hits.append(F.col(f"_v{i}"))
    out = out.withColumn(out_col, F.coalesce(*hits))
    for i in range(len(key_variants)):
        out = out.drop(f"_v{i}")
    return out
