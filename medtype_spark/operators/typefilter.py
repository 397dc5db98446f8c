"""The MedType candidate filter (J8): type-semijoin with fallbacks.

Exact semantics from
medtype-as-service/server/medtype_serving/server/__init__.py:524-544:

1. empty predicted-type set  → keep the original candidate list;
2. else keep candidates whose entity types intersect the predicted set
   (missing entity in the type map ⇒ empty set ⇒ dropped);
3. if the filtered list is empty → fall back to the original list.

Order of surviving candidates is preserved (candidate lists are
best-first; top-candidate selection downstream relies on it).

Implementation: posexplode → **broadcast** join against the entity→types
dimension, passed as a DataFrame (analogue of ``umls2type``; 57k
entities in the reference ⇒ a few MB, always broadcastable, and never
inlined into the plan as a literal) → re-assemble with ``array_sort``
on the carried position.  No Python; entirely whole-stage-codegen-able
except the shuffles back to mention grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_candidates(mentions: DataFrame, entity_types: DataFrame) -> DataFrame:
    """Append ``filtered_candidates`` (same element type as
    ``candidates``).

    ``mentions``: any schema containing ``candidates``
    (array<struct<eid,...>>) and ``pred_type`` (array<string>).
    ``entity_types``: dimension (eid, types:array<string>).
    """
    base = mentions.withColumn("_rid", F.monotonically_increasing_id())

    exploded = base.select(
        "_rid",
        F.col("pred_type").alias("_pred"),
        F.posexplode("candidates").alias("_pos", "_cand"),
    )
    dim = entity_types.select(
        F.col("eid").alias("_eid"), F.col("types").alias("_etypes")
    )
    joined = exploded.join(
        F.broadcast(dim), exploded["_cand"]["eid"] == dim["_eid"], "left"
    )
    kept = (
        joined.where(
            F.size(
                F.array_intersect(
                    F.coalesce(F.col("_etypes"), F.array().cast("array<string>")),
                    F.col("_pred"),
                )
            )
            > 0
        )
        .groupBy("_rid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_cand"))),
                lambda x: x["_cand"],
            ).alias("_kept")
        )
    )

    result = base.join(kept, "_rid", "left").withColumn(
        "filtered_candidates",
        F.when(F.size(F.coalesce(F.col("pred_type"), F.array().cast("array<string>"))) == 0, F.col("candidates"))
        .when(F.size(F.coalesce(F.col("_kept"), F.expr("array()"))) == 0, F.col("candidates"))
        .otherwise(F.col("_kept")),
    )
    return result.drop("_rid", "_kept")
