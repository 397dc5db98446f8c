"""J12: SelectAlternatives — resolve gold KB-ambiguity against system.

Back-off strategy per neleval/prepare.py:8-104 (comment :11-20, loops
:44-88), for each gold annotation with >1 candidates:

1. if the system's top candidate at the SAME span equals one of the
   gold candidates → select the FIRST such gold candidate;
2. else the first gold candidate whose id is any system top candidate
   in the SAME DOCUMENT;
3. else the first gold candidate appearing anywhere in the COLLECTION
   of system top candidates;
4. else gold candidate 0.

Spark-first: three left joins against successively coarser distinct
system-key projections, combined with a priority coalesce — no
iteration, no driver state.  All three dimension sides are
top-candidate projections and typically broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def select_alternatives(gold: DataFrame, system: DataFrame) -> DataFrame:
    """Return gold with multi-candidate rows reduced to one candidate,
    matching candidates on ``eid``.

    Inputs use the annotation frame schema
    (docid, start, end, candidates:array<struct<eid,score,type>>).
    """
    span_keys = system.select(
        "docid", "start", "end",
        F.col("candidates")[0]["eid"].alias("_skey"),
    ).where(F.col("_skey").isNotNull()).dropDuplicates(["docid", "start", "end"])

    doc_keys = system.select(
        "docid", F.col("candidates")[0]["eid"].alias("_dkey")
    ).where(F.col("_dkey").isNotNull()).dropDuplicates()

    coll_keys = doc_keys.select(F.col("_dkey").alias("_ckey")).dropDuplicates()

    base = gold.withColumn("_rid", F.monotonically_increasing_id())
    multi = base.where(F.size("candidates") > 1)
    single = base.where(F.size("candidates") <= 1)

    exploded = multi.select(
        "_rid", "docid", "start", "end",
        F.posexplode("candidates").alias("_pos", "_cand"),
    ).withColumn("_key", F.col("_cand")["eid"])

    # 1. span-level: first gold candidate equal to the system top at
    #    this exact span
    span_hit = (
        exploded.join(F.broadcast(span_keys), ["docid", "start", "end"])
        .where(F.col("_key") == F.col("_skey"))
        .groupBy("_rid").agg(F.min("_pos").alias("_span_pos"))
    )
    # 2. doc-level
    doc_hit = (
        exploded.join(F.broadcast(doc_keys),
                      (exploded["docid"] == doc_keys["docid"])
                      & (exploded["_key"] == doc_keys["_dkey"]))
        .groupBy("_rid").agg(F.min("_pos").alias("_doc_pos"))
    )
    # 3. collection-level
    coll_hit = (
        exploded.join(F.broadcast(coll_keys), exploded["_key"] == coll_keys["_ckey"])
        .groupBy("_rid").agg(F.min("_pos").alias("_coll_pos"))
    )

    resolved = (
        multi.join(span_hit, "_rid", "left")
        .join(doc_hit, "_rid", "left")
        .join(coll_hit, "_rid", "left")
        .withColumn(
            "_sel",
            F.coalesce("_span_pos", "_doc_pos", "_coll_pos", F.lit(0)).cast("int"),
        )
        .withColumn("candidates", F.array(F.element_at("candidates", F.col("_sel") + 1)))
        .drop("_span_pos", "_doc_pos", "_coll_pos", "_sel")
    )
    return single.unionByName(resolved).drop("_rid")
