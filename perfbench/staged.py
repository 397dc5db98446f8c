"""The flagship linkage, stage by stage, for the traced run.

Calls each layer's public function in the order ``run_linkage`` does
(form-grain pairs, fused scan, type-agreement prune), materializes
every stage boundary under its own Spark job group, and times each
stage from outside the program.  The two ``pipeline`` stages (form
grouping and mention projection) have no public function, so their
few DataFrame lines are restated here; the traced run proves the
restatement computes the same clusters by matching the cluster
fingerprint of ``run_linkage`` on the same input.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from medtype_spark.operators.blocking import block_pairs
from medtype_spark.operators.cc import connected_components
from medtype_spark.operators.mentions import fused_mention_scan
from medtype_spark.operators.pairs import jaro_winkler_udf
from medtype_spark.pipeline import evaluate_linkage

# (job group, wall-time metric) per stage, in pipeline order
STAGES = [
    ("mentions", "mentions.scan_s"),
    ("pipeline.units", "pipeline.units_s"),
    ("blocking", "blocking.pairs_s"),
    ("pairs", "pairs.jw_s"),
    ("cc", "cc.s"),
    ("pipeline.project", "pipeline.project_s"),
    ("clustering", "clustering.eval_s"),
]
LINKAGE_GROUPS = [group for group, _ in STAGES]


def alias_types(lexicon: pd.DataFrame) -> dict[str, list[str]]:
    """The alias → sorted type list map ``run_linkage`` hands the fused
    scan when ``type_scorer="dict"``."""
    a2t: dict[str, set] = {}
    for alias, etype in zip(lexicon["alias"], lexicon["type"]):
        key = "".join(ch for ch in alias.lower() if ch.isalnum() or ch == " ")
        a2t.setdefault(" ".join(key.split()), set()).add(etype)
    return {k: sorted(v) for k, v in a2t.items()}


def staged_linkage(
    pages: DataFrame,
    gold: DataFrame,
    lexicon: pd.DataFrame,
    *,
    type_scorer: str = "dict",
    matcher: str = "trie",
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    cc_small_graph_threshold: int | None = 1_000_000,
    score_threshold: float = 0.92,
) -> tuple[dict, DataFrame]:
    """Run the pipeline stage by stage; return (per-layer numbers,
    clusters).  Stage wall times are keyed by the metric names in
    STAGES; ``wall.clusters`` is the elapsed time from the start to the
    cluster table, glue included."""
    sc = pages.sparkSession.sparkContext
    out: dict = {}
    held: list[DataFrame] = []

    def stage(group: str, metric: str, build, action):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = build()
        result = action(df)
        out[metric] = time.perf_counter() - t0
        return df, result

    def persisted(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df

    t_start = time.perf_counter()
    a2t = alias_types(lexicon) if type_scorer == "dict" else None
    mentions, out["mentions.rows"] = stage(
        "mentions", "mentions.scan_s",
        lambda: persisted(fused_mention_scan(pages, lexicon, a2t, matcher=matcher)),
        DataFrame.count,
    )
    units, out["pipeline.forms"] = stage(
        "pipeline.units", "pipeline.units_s",
        lambda: persisted(
            mentions.select(
                "block_key", "norm_form", F.explode_outer("pred_type").alias("_ty")
            )
            .groupBy("block_key", "norm_form")
            .agg(F.array_sort(F.collect_set("_ty")).alias("pred_type"))
        ),
        DataFrame.count,
    )
    pairs, out["blocking.pairs"] = stage(
        "blocking", "blocking.pairs_s",
        lambda: persisted(block_pairs(
            units, key_col="block_key", id_col="norm_form",
            hot_threshold=hot_threshold, target_cell=target_cell,
            extra_cols=["pred_type"], persist_registry=held,
        )),
        DataFrame.count,
    )

    def scored_edges():
        scored = pairs.withColumn(
            "score",
            F.round(jaro_winkler_udf(F.col("a_norm_form"), F.col("b_norm_form")), 3),
        )
        agree = (
            (F.size("a_pred_type") == 0)
            | (F.size("b_pred_type") == 0)
            | (F.size(F.array_intersect("a_pred_type", "b_pred_type")) > 0)
        )
        return persisted(
            scored.where((F.col("score") >= F.lit(score_threshold)) & agree)
            .select(F.col("a_norm_form").alias("src"), F.col("b_norm_form").alias("dst"))
        )

    edges, out["pairs.edges_kept"] = stage("pairs", "pairs.jw_s", scored_edges, DataFrame.count)
    out["pairs.edge_yield"] = out["pairs.edges_kept"] / max(out["blocking.pairs"], 1)

    cc_stats: dict = {}
    components, _ = stage(
        "cc", "cc.s",
        lambda: persisted(connected_components(
            edges, vertices=units.select(F.col("norm_form").alias("node")),
            small_graph_threshold=cc_small_graph_threshold, stats=cc_stats,
        )),
        DataFrame.count,
    )
    out["cc.distributed"] = int(cc_stats.get("path") == "distributed")
    out["cc.rounds"] = int(cc_stats.get("rounds", 0))
    out["cc.edges"] = out["pairs.edges_kept"]

    clusters, _ = stage(
        "pipeline.project", "pipeline.project_s",
        lambda: mentions.select("mention_key", "norm_form")
        .join(components.withColumnRenamed("node", "norm_form"), "norm_form")
        .select("mention_key", F.col("component").alias("entity_cluster"))
        .localCheckpoint(),
        DataFrame.count,
    )
    out["wall.clusters"] = time.perf_counter() - t_start
    _, row = stage(
        "clustering", "clustering.eval_s",
        lambda: evaluate_linkage(clusters, gold),
        lambda df: df.collect()[0],
    )
    out["clustering.f1"] = float(row["fscore"])

    sc.setJobGroup("check", "block statistics")
    sizes = units.groupBy("block_key").count().agg(
        F.max("count").alias("max_units"),
        F.sum((F.col("count") > hot_threshold).cast("long")).alias("salted"),
    ).collect()[0]
    out["blocking.max_block_units"] = int(sizes["max_units"] or 0)
    out["blocking.salted_blocks"] = int(sizes["salted"] or 0)
    for df in held:
        df.unpersist()
    return out, clusters
