"""The flagship record-linkage pipeline, end-to-end.

Three stage functions, composed in order by ``run_linkage`` and by
the resumable ``plans.checkpoints.run_linkage_checkpointed``:

1. ``scan_mentions``: ``pages(url, warc_ts, html, text, lang)`` →
   one row per detected mention with its candidates, normalized
   surface form, blocking key (the form's head token) and predicted
   semantic types, from ONE fused Python hop
   (``operators.mentions.fused_mention_scan``) that only finds spans;
   every alias-only field, dict/stub types included, comes from an
   alias table built once per run on the driver.  The batched scorer
   overlays ``batched_type_predictions`` over the extracted text
   (``extract_pages``) onto the scan's mentions.
2. ``form_edges``: distinct surface forms per block (the form *units*)
   → skew-aware salted within-block pairs → Jaro-Winkler → edges at
   or above ``SCORE_THRESHOLD`` whose predicted type sets agree (the
   MedType filter, .../server/__init__.py:524-544).
3. ``form_clusters``: alternating-star connected components over the
   form graph, projected back onto mentions as (mention_key,
   entity_cluster); the pairwise-F1 eval vs gold (``evaluate_linkage``)
   is the acceptance metric.

This restates the reference's serving dataflow (SURVEY.md §3.1) as one
declarative Spark plan per stage; every process boundary of the
ZMQ ventilator/worker/sink design collapses into a shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.storagelevel import StorageLevel

from medtype_spark.metrics.clustering import pairwise
from medtype_spark.operators.blocking import block_pairs
from medtype_spark.operators.cc import connected_components
from medtype_spark.operators.mentions import fused_mention_scan, normalize_form_py
from medtype_spark.operators.pairs import jaro_winkler_udf
from medtype_spark.operators.typefilter import filter_candidates
from medtype_spark.session import live_pandas_udf

# Jaro-Winkler score (rounded to 3 dp) at or above which two forms link
SCORE_THRESHOLD = 0.92


@live_pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Extract body text from page html, byte-identical per url.

    The per-row invariant of the north rule (analogue of the
    length-preserving clean_text asserted at
    medtype-trainer/dump_linkers_output.py:147,195).
    """
    from medtype_spark.operators.mentions import EXTRACT_RE

    decoded = html.str.decode("utf-8", errors="replace").fillna("")
    return decoded.str.extract(EXTRACT_RE, expand=False).fillna("")


def extract_pages(pages: DataFrame) -> DataFrame:
    return pages.withColumn("extracted_text", extract_text_udf(F.col("html")))


# --- stage 1: mention scan ---------------------------------------------

def scan_mentions(
    pages: DataFrame,
    lexicon: pd.DataFrame,
    type_scorer: str = "dict",
    matcher: str = "trie",
) -> DataFrame:
    """Mentions with (mention_key, norm_form, block_key, pred_type).

    Every scorer reads the same single-hop fused scan
    (``operators.mentions.fused_mention_scan``), so spans, candidates
    and the normalized form and blocking key come from one normalizer.
    ``type_scorer``: "dict" (alias → type lookup, the default) and
    "stub" (deterministic md5 linear head) type the scan's alias table;
    "batched" is the MedType-style batched transformer, overlaid on
    the scan's mentions: token-window assembly (P4) over the extracted
    page text, length-sorted padded batches (W5), a REAL learned
    2-layer checkpoint loaded once per worker (S12,
    tools/train_type_model.py), sigmoid threshold + type decode
    (P8/P9).

    ``matcher``: "trie" (regex automaton, the general path) or "set"
    (broadcast hash-set gazetteer, token-boundary contract — the shape
    for 10^5+-alias lexicons where the automaton compile per fresh
    worker dominates; see operators/mentions.py:iter_set_matches).
    """
    if type_scorer == "dict":
        # keyed by the scan's own normalizer, so each detected alias's
        # norm_form finds its types
        a2t: dict[str, set] = {}
        for alias, etype in zip(lexicon["alias"], lexicon["type"]):
            a2t.setdefault(normalize_form_py(alias), set()).add(etype)
        alias2types = {k: sorted(v) for k, v in a2t.items()}
    elif type_scorer == "stub":
        alias2types = None
    elif type_scorer == "batched":
        alias2types = {}
    else:
        raise ValueError(type_scorer)
    mentions = fused_mention_scan(pages, lexicon, alias2types, matcher=matcher)
    if type_scorer != "batched":
        return mentions
    from medtype_spark.operators.batching import batched_type_predictions

    preds = batched_type_predictions(mentions, extract_pages(pages))
    return mentions.drop("pred_type").join(preds, "mention_key", "left").withColumn(
        "pred_type",
        F.coalesce(F.col("pred_type"), F.array().cast("array<string>")),
    )


# --- stage 2: form edges -----------------------------------------------

def form_units(mentions: DataFrame) -> DataFrame:
    """One row per (block_key, norm_form) with the union of its
    mentions' predicted types.

    The union is deterministic (unlike first()), and for contextual
    scorers it only widens type agreement — a pair is pruned only when
    NO instance contexts of the two forms share a type.  explode +
    collect_set, NOT collect_list-of-arrays: collect_set partially
    aggregates map-side (≤24 types per form per map partition cross
    the shuffle), where collect_list would move every mention's array
    into the form's single reducer — a hot surface form (15% of a
    corpus) becomes a straggler task.  explode_outer keeps all-empty
    forms alive (collect_set skips the null → empty set).
    """
    return (
        mentions.select(
            "block_key", "norm_form", F.explode_outer("pred_type").alias("_ty")
        )
        .groupBy("block_key", "norm_form")
        .agg(F.array_sort(F.collect_set("_ty")).alias("pred_type"))
    )


def form_edges(
    mentions: DataFrame,
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    persisted: list | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(units, edges): the form units and the form graph's (src, dst)
    edges.

    Pairs are scored over DISTINCT normalized surface forms per block,
    not mention instances: the score is a pure function of the form and
    same-form mentions are trivially linked, so the within-block
    quadratic runs over the form *vocabulary* (Zipf — sublinear in
    corpus size).  The score is Jaro-Winkler rounded to 3 dp, as the
    reference rounds candidate scores (entity_linkers.py:44).  An edge
    needs score ≥ ``SCORE_THRESHOLD`` and type agreement: pairs whose
    predicted type sets are both non-empty and disjoint are pruned
    (MedType's filter semantics: an empty prediction never prunes,
    __init__.py:530-536).  ``persisted`` collects the frames
    ``block_pairs`` caches, for the caller to release; ``stats`` passes
    through to ``block_pairs`` (salted blocks and their largest cell
    count).
    """
    units = form_units(mentions)
    pairs = block_pairs(
        units,
        key_col="block_key",
        id_col="norm_form",
        hot_threshold=hot_threshold,
        target_cell=target_cell,
        extra_cols=["pred_type"],
        persist_registry=persisted,
        stats=stats,
    )
    score = F.round(jaro_winkler_udf(F.col("a_norm_form"), F.col("b_norm_form")), 3)
    scored = pairs.withColumn("score", score)
    agree = (
        (F.size("a_pred_type") == 0)
        | (F.size("b_pred_type") == 0)
        | (F.size(F.array_intersect("a_pred_type", "b_pred_type")) > 0)
    )
    edges = scored.where((F.col("score") >= F.lit(SCORE_THRESHOLD)) & agree).select(
        F.col("a_norm_form").alias("src"), F.col("b_norm_form").alias("dst")
    )
    return units, edges


# --- stage 3: clusters -------------------------------------------------

def form_clusters(
    mentions: DataFrame,
    units: DataFrame,
    edges: DataFrame,
    small_graph_threshold: int = 1_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """(mention_key, entity_cluster): connected components of the form
    graph (every unit a vertex; label = min norm_form), projected back
    onto mentions.  ``small_graph_threshold`` / ``stats`` pass through
    to connected_components (stats records which CC path executed)."""
    components = connected_components(
        edges,
        vertices=units.select(F.col("norm_form").alias("node")),
        small_graph_threshold=small_graph_threshold,
        stats=stats,
    )
    return (
        mentions.select("mention_key", "norm_form")
        .join(components.withColumnRenamed("node", "norm_form"), "norm_form")
        .select("mention_key", F.col("component").alias("entity_cluster"))
    )


# --- the full pipeline -------------------------------------------------

def run_linkage(
    pages: DataFrame,
    lexicon: pd.DataFrame,
    entity_types: DataFrame,
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    cleanup: bool = False,
    type_scorer: str = "dict",
    with_candidate_filter: bool = False,
    cc_small_graph_threshold: int = 1_000_000,
    matcher: str = "trie",
) -> dict:
    """Run the flagship: ``scan_mentions`` → ``form_edges`` →
    ``form_clusters``.

    Returns ``mentions`` (persisted), ``edges`` (the form graph,
    persisted), ``clusters`` (mention_key, entity_cluster),
    ``persisted_frames`` and ``report``, what the run did as data:
    ``report["blocking"]`` is block_pairs' stats (``salted_blocks``,
    ``max_cells``) and ``report["cc"]`` connected_components' (which CC
    path ran, with its edge count or rounds).  ``type_scorer``/``matcher`` go to
    ``scan_mentions``; ``hot_threshold`` and ``target_cell`` to
    ``form_edges``; ``cc_small_graph_threshold`` to ``form_clusters``.

    ``with_candidate_filter`` adds the MedType candidate filter (J8):
    per-mention ``filtered_candidates`` against ``entity_types``, for
    downstream consumers (serving output, error analysis).  The
    clustering itself consumes pred_type through the type-agreement
    prune, so J8 is opt-in: running it unconditionally added two
    mention-grain shuffles whose output nothing on the hot path read.

    ``cleanup=True`` materializes the cluster table and releases every
    cached intermediate.  With ``cleanup=False`` the caller owns the
    caches listed in ``persisted_frames``: consume the result (e.g.
    evaluate + checkpoint a downstream row), then unpersist them —
    folding eval into the final job saves a whole materialization of
    the mention-grain cluster table when only an aggregate is needed.
    """
    mentions = scan_mentions(pages, lexicon, type_scorer, matcher)
    if with_candidate_filter:
        mentions = filter_candidates(mentions, entity_types)
    # mentions feed pair generation, CC vertices, the projection and
    # the returned stage output — persist so the page-scan lineage
    # executes exactly once
    mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
    persisted: list[DataFrame] = [mentions]
    blocking_stats: dict = {}
    units, edges = form_edges(
        mentions, hot_threshold, target_cell, persisted, blocking_stats,
    )
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(edges)
    cc_stats: dict = {}
    clusters = form_clusters(mentions, units, edges, cc_small_graph_threshold, cc_stats)

    if cleanup:
        # materialize the product, then release every cached
        # intermediate so repeated runs (bench loops) don't accumulate
        # block-manager state and GC pressure
        clusters = clusters.localCheckpoint()
        for df in persisted:
            df.unpersist()

    return {
        "mentions": mentions,
        "edges": edges,
        "clusters": clusters,
        "persisted_frames": [] if cleanup else persisted,
        "report": {"blocking": blocking_stats, "cc": cc_stats},
    }


def evaluate_linkage(clusters: DataFrame, gold: DataFrame) -> DataFrame:
    """Pairwise linkage P/R/F vs gold planted clusters (the acceptance
    metric, coref_metrics.py:605-611)."""
    gold_clusters = gold.select(
        F.concat_ws("#", F.col("url"), F.col("start_offset").cast("string")).alias("mention"),
        F.col("entity_id").alias("cluster"),
    )
    pred_clusters = clusters.select(
        F.col("mention_key").alias("mention"), F.col("entity_cluster").alias("cluster")
    )
    return pairwise(gold_clusters, pred_clusters)

