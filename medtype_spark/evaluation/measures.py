"""The measure-spec mini-language — neleval's only "query language".

A measure is ``agg:filter:key+key`` (annotation.py:269-276
``Measure.from_string``) or a registered name (configs.py:12-41
``MEASURES``).  ``get_measure`` resolves either form; ``evaluate_measure``
runs it over gold/system annotation DataFrames and returns the one-row
contingency frame (p_num, p_den, r_num, r_den, precision, recall,
fscore) that ``Evaluate`` derives (evaluate.py:272-279).

Semantics reproduced from the reference ``Measure``:

- key fields resolve against the annotation + its TOP candidate
  (annotation.py:85-93 ``__getattr__`` delegation): ``span`` expands to
  (docid, start, end); ``eid`` is the top candidate id; ``kbid`` is the
  top id when linked else null; ``is_nil``/``is_linked`` per
  annotation.py:178-188.
- filter is an attribute name (``is_linked`` / ``is_nil`` / None).
- agg ``sets`` → ``count_matches`` (annotation.py:345-379): tp is the
  size of the deduplicated-key intersection, with multi-valued gold
  kbid ("A|B") matching any split id once (``intersect``,
  annotation.py:326-342).
- agg ``overlap-XY`` (X = gold mode, Y = sys mode ∈ {sum, max}) →
  ``count_overlap`` (annotation.py:418-516): per-annotation best/union
  overlap fraction against same-key annotations of the other system.
- clustering aggs (pairwise, muc, b_cubed, mention_ceaf, entity_ceaf)
  → ``build_clusters`` on the key tuples clustered by eid
  (annotation.py:309-323) into the coref metrics.

The trainer invokes exactly three of these per evaluation run
(eval_models.py:83): ``overlap-maxmax::span+kbid``,
``strong_all_match``, ``sets::kbid`` — all golden-tested against the
reference's own sample/{gold,pred}.txt.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.metrics.clustering import prf_row


class MeasureSpec(NamedTuple):
    key: tuple
    filter: str | None = None
    agg: str = "sets"

    def __str__(self):
        return f"{self.agg}:{self.filter}:{'+'.join(self.key)}"


# configs.py:12-41 (the commented-out Cai & Strube entries excluded
# there too)
MEASURES: dict[str, MeasureSpec] = {
    "strong_mention_match": MeasureSpec(("span",)),
    "strong_typed_mention_match": MeasureSpec(("span", "type")),
    "strong_linked_mention_match": MeasureSpec(("span",), "is_linked"),
    "strong_link_match": MeasureSpec(("span", "kbid"), "is_linked"),
    "strong_nil_match": MeasureSpec(("span",), "is_nil"),
    "strong_all_match": MeasureSpec(("span", "kbid")),
    "strong_typed_link_match": MeasureSpec(("span", "type", "kbid"), "is_linked"),
    "strong_typed_nil_match": MeasureSpec(("span", "type"), "is_nil"),
    "strong_typed_all_match": MeasureSpec(("span", "type", "kbid")),
    "entity_match": MeasureSpec(("docid", "kbid"), "is_linked"),
    "muc": MeasureSpec(("span",), agg="muc"),
    "b_cubed": MeasureSpec(("span",), agg="b_cubed"),
    "b_cubed_plus": MeasureSpec(("span", "kbid"), agg="b_cubed"),
    "entity_ceaf": MeasureSpec(("span",), agg="entity_ceaf"),
    "mention_ceaf": MeasureSpec(("span",), agg="mention_ceaf"),
    "mention_ceaf_plus": MeasureSpec(("span", "kbid"), agg="mention_ceaf"),
    "typed_mention_ceaf": MeasureSpec(("span", "type"), agg="mention_ceaf"),
    "typed_mention_ceaf_plus": MeasureSpec(("span", "type", "kbid"), agg="mention_ceaf"),
    "pairwise": MeasureSpec(("span",), agg="pairwise"),
}

NON_CLUSTERING_AGG = ("sets",) + tuple(
    f"overlap-{p1}{p2}" for p1 in ("sum", "max") for p2 in ("sum", "max")
)


def get_measure(name: str | MeasureSpec) -> MeasureSpec:
    """configs.py:191-198: a 2-colon spec parses positionally, anything
    else must be a registered name."""
    if isinstance(name, MeasureSpec):
        return name
    if name.count(":") == 2:
        agg, filt, key = name.split(":")
        if filt in ("", "None"):
            filt = None
        return MeasureSpec(tuple(key.split("+")), filt, agg)
    return MEASURES[name]


# --- annotation field resolution ---------------------------------------

def with_fields(ann: DataFrame) -> DataFrame:
    """Materialize the top-candidate-delegated fields used by keys and
    filters (annotation.py:85-93, 169-188)."""
    # get: an empty candidate list yields null fields (ANSI element_at
    # throws on the empty array); try_element_at's generated code fails
    # to compile here and falls back to interpreted evaluation
    top = F.get("candidates", 0)
    eid = top["eid"]
    is_nil = eid.isNull() | eid.startswith("NIL")
    return (
        ann.withColumn("eid", eid)
        .withColumn("is_nil", is_nil)
        .withColumn("is_linked", ~is_nil)
        .withColumn("kbid", F.when(~is_nil, eid))
        .withColumn("type", top["type"])
        .withColumn("score", top["score"])
    )


def _key_cols(key: tuple) -> list[str]:
    cols: list[str] = []
    for k in key:
        cols.extend(["docid", "start", "end"] if k == "span" else [k])
    return cols


def _apply_filter(ann: DataFrame, filt: str | None) -> DataFrame:
    return ann.where(F.col(filt)) if filt else ann


# --- agg: sets ----------------------------------------------------------

def _eval_sets(gold: DataFrame, system: DataFrame, spec: MeasureSpec) -> DataFrame:
    cols = _key_cols(spec.key)
    # build_index semantics: annotations DEDUPLICATE by key tuple
    g = _apply_filter(gold, spec.filter).dropDuplicates(cols)
    s = _apply_filter(system, spec.filter).dropDuplicates(cols)

    if "kbid" in spec.key:
        # multi-valued gold OR-join (annotation.py:326-342): tag each
        # deduplicated gold key, explode its |-split ids, count a gold
        # key once if ANY split id matches a system key
        hits = (
            g.withColumn("_gid", F.monotonically_increasing_id())
            .withColumn("kbid", F.explode(F.split("kbid", r"\|")))
            .join(s.select(*cols), cols, "left_semi")
            .select("_gid")
            .dropDuplicates()
        )
    else:
        hits = g.join(s.select(*cols), cols, "left_semi")

    tp = hits.agg(F.count(F.lit(1)).cast("double").alias("p_num"))
    p_den = s.agg(F.count(F.lit(1)).cast("double").alias("p_den"))
    r_num = tp.select(F.col("p_num").alias("r_num"))
    r_den = g.agg(F.count(F.lit(1)).cast("double").alias("r_den"))
    return prf_row(tp.crossJoin(p_den).crossJoin(r_num).crossJoin(r_den))


# --- agg: overlap-XY ----------------------------------------------------

def _coverage(matched: DataFrame, ref_keys: list[str], mode: str) -> DataFrame:
    from medtype_spark.operators.intervals import overlap_score_max, overlap_score_sum

    if mode == "max":
        return overlap_score_max(matched, ref_keys)
    if mode == "sum":
        return overlap_score_sum(matched, ref_keys)
    raise ValueError(f"Unexpected overlap mode: {mode!r}")


def _eval_overlap(gold: DataFrame, system: DataFrame, spec: MeasureSpec) -> DataFrame:
    """count_overlap (annotation.py:418-516): ptp = Σ per-sys coverage,
    fp = |sys| − ptp; rtp = Σ per-gold coverage, fn = |gold| − rtp.

    Documented divergence: the reference pairs spans with a merge sweep
    (annotation.py:448-460) that assumes each side is internally
    NON-overlapping (its Document validation flags nested/crossing
    spans as data errors) and can skip pairs when that assumption is
    violated; this implementation joins ALL overlapping cross pairs, so
    on such invalid inputs it gives (more) credit where the sweep gives
    none.  Identical on validated inputs — the golden tests cover the
    trainer's actual specs."""
    params = spec.agg[len("overlap-"):]
    gold_mode, sys_mode = params[:3], params[3:]

    # span is replaced by docid in the equi-key (annotation.py:425-427)
    join_key = [k for k in _key_cols(spec.key) if k not in ("start", "end")]
    if "docid" not in join_key:
        join_key = ["docid"] + join_key

    g = _apply_filter(gold, spec.filter).withColumn(
        "_gid", F.monotonically_increasing_id()
    )
    s = _apply_filter(system, spec.filter).withColumn(
        "_sid", F.monotonically_increasing_id()
    )
    if "kbid" in spec.key:
        # gold_map: a multi-valued gold kbid participates once per split
        # id (annotation.py:436-441)
        g_join = g.withColumn("kbid", F.explode(F.split("kbid", r"\|")))
    else:
        g_join = g

    pairs = s.select(*join_key, "_sid", "start", "end").join(
        g_join.select(
            *[F.col(c).alias(f"_g_{c}") if c in ("start", "end") else F.col(c) for c in join_key + ["start", "end"]],
            "_gid",
        ),
        join_key,
    ).where(
        (F.col("_g_start") <= F.col("end")) & (F.col("_g_end") >= F.col("start"))
    )
    # pairs carries both span pairs; dedupe per (sid, gid) in case a
    # multi-id gold matched through several split ids
    pairs = pairs.dropDuplicates(["_sid", "_gid"])

    sys_cov = _coverage(
        pairs.select("_sid", "start", "end",
                     F.col("_g_start").alias("start_r"), F.col("_g_end").alias("end_r")),
        ["_sid"], sys_mode,
    )
    gold_cov = _coverage(
        pairs.select("_gid", F.col("_g_start").alias("start"), F.col("_g_end").alias("end"),
                     F.col("start").alias("start_r"), F.col("end").alias("end_r")),
        ["_gid"], gold_mode,
    )

    ptp = sys_cov.agg(F.coalesce(F.sum("overlap"), F.lit(0.0)).alias("p_num"))
    p_den = s.agg(F.count(F.lit(1)).cast("double").alias("p_den"))
    rtp = gold_cov.agg(F.coalesce(F.sum("overlap"), F.lit(0.0)).alias("r_num"))
    r_den = g.agg(F.count(F.lit(1)).cast("double").alias("r_den"))
    return prf_row(ptp.crossJoin(p_den).crossJoin(rtp).crossJoin(r_den))


# --- agg: clustering ----------------------------------------------------

def _clusters(ann: DataFrame, spec: MeasureSpec) -> DataFrame:
    """build_clusters (annotation.py:309-323): key tuples clustered by
    raw top-candidate eid (NILs keep their distinct ids); tuple sets —
    duplicates collapse."""
    cols = _key_cols(spec.key)
    return (
        _apply_filter(ann, spec.filter)
        .select(
            F.concat_ws("", *[F.col(c).cast("string") for c in cols]).alias("mention"),
            F.col("eid").alias("cluster"),
        )
        .dropDuplicates(["mention", "cluster"])
    )


def _eval_clustering(gold: DataFrame, system: DataFrame, spec: MeasureSpec) -> DataFrame:
    from medtype_spark.metrics import clustering
    from medtype_spark.metrics.ceaf import entity_ceaf, mention_ceaf

    fns = {
        "pairwise": clustering.pairwise,
        "muc": clustering.muc,
        "b_cubed": clustering.b_cubed,
        "pairwise_negative": clustering.pairwise_negative,
        "mention_ceaf": mention_ceaf,
        "entity_ceaf": entity_ceaf,
    }
    if spec.agg not in fns:
        raise ValueError(f"Invalid aggregation: {spec.agg!r}")
    true = _clusters(gold, spec)
    pred = _clusters(system, spec)
    return fns[spec.agg](true, pred).select(
        "p_num", "p_den", "r_num", "r_den", "precision", "recall", "fscore"
    )


def evaluate_measure(
    gold: DataFrame, system: DataFrame, measure: str | MeasureSpec
) -> DataFrame:
    """Run one measure over gold/system annotation frames
    (ANNOTATION_SCHEMA shape: docid, start, end, candidates)."""
    spec = get_measure(measure)
    g, s = with_fields(gold), with_fields(system)
    if spec.agg == "sets":
        return _eval_sets(g, s, spec)
    if spec.agg.startswith("overlap-"):
        return _eval_overlap(g, s, spec)
    return _eval_clustering(g, s, spec)
