"""Clustering (coreference / linkage) metrics, DataFrame-native.

Reimplements the neleval clustering measures used by the reference's
evaluation CLI — including **pairwise**, the acceptance metric
(pairwise linkage F1 ≥ 0.99) — as pure join+groupBy plans with
map-side partial aggregation.  Semantics locked to:

- pairwise:  medtype-trainer/neleval/neleval/coref_metrics.py:605-611
  (``pairwise_slow``): num = Σ_{t,p} C(|t∩p|,2); p_den = Σ_p C(|p|,2);
  r_den = Σ_t C(|t|,2).
- b_cubed:   coref_metrics.py:503-523: P = mean over pred mentions of
  |pred∩true|/|pred|, symmetric for R; mentions absent from the other
  side contribute 0 to the numerator but count in the denominator.
- muc:       coref_metrics.py:640-660 (``_vilain``): per cluster,
  num += |c| − unaligned − |distinct corresponding clusters|,
  den += |c| − 1.

Zero denominators yield 0.0 like the reference Matrix
(neleval/evaluate.py:272-279).

Inputs are *mapping-form* cluster tables ``(mention, cluster)`` — the
scalable representation (never a collected set-of-sets): at 10^12 docs
the contingency table (one row per overlapping true×pred cluster pair)
is the only materialized intermediate, and it shrinks with clustering
quality.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.metrics.matrix import prf


def _tri(c):
    """n choose 2 as a Column expression."""
    return (c * (c - F.lit(1))) / F.lit(2)


@lru_cache(maxsize=1)
def _prf_row_cols() -> tuple:
    """precision/recall/fscore Columns over fixed names, built once
    (r6): Column trees are immutable and reusable; rebuilding them per
    call cost py4j round-trips on every metric invocation."""
    p, r, f = prf(F.col("p_num"), F.col("p_den"), F.col("r_num"), F.col("r_den"))
    return (p.alias("precision"), r.alias("recall"), f.alias("fscore"))


def prf_row(df: DataFrame) -> DataFrame:
    """Append precision/recall/fscore to a (p_num,p_den,r_num,r_den) row."""
    return df.select("*", *_prf_row_cols())


def _normalize(df: DataFrame) -> DataFrame:
    """(mention, cluster) → distinct (m, c)."""
    return df.select(F.col("mention").alias("m"), F.col("cluster").alias("c")).dropDuplicates()


def _contingency(true: DataFrame, pred: DataFrame):
    """Shared counts: per-pair intersections and per-cluster sizes."""
    inter = (
        true.join(pred.withColumnRenamed("c", "pc"), "m")
        .groupBy("c", "pc")
        .agg(F.count(F.lit(1)).alias("n_tp"))
    )
    t_sizes = true.groupBy("c").agg(F.count(F.lit(1)).alias("n_t"))
    p_sizes = pred.groupBy("c").agg(F.count(F.lit(1)).alias("n_p"))
    return inter, t_sizes, p_sizes


def pairwise(true: DataFrame, pred: DataFrame) -> DataFrame:
    """Pairwise linkage P/R/F over co-clustered mention pairs.

    Returns a single-row DataFrame
    (p_num, p_den, r_num, r_den, precision, recall, fscore) — num is
    shared between P and R per coref_metrics.py:605-611.
    """
    t = _normalize(true)
    p = _normalize(pred)
    inter, t_sizes, p_sizes = _contingency(t, p)

    # (r6 note) A union-tagged single-aggregation assembly was tried
    # and measured SLOWER in the flagship eval (interleaved A/B: 3.19s
    # crossJoin form vs 3.69s union form) — the 1-row scalar aggs +
    # broadcast crossJoins are cheaper than forcing all three branches
    # through one union/agg stage.  Kept as-is.
    num = inter.agg(F.coalesce(F.sum(_tri(F.col("n_tp"))), F.lit(0.0)).alias("num"))
    p_den = p_sizes.agg(F.coalesce(F.sum(_tri(F.col("n_p"))), F.lit(0.0)).alias("p_den"))
    r_den = t_sizes.agg(F.coalesce(F.sum(_tri(F.col("n_t"))), F.lit(0.0)).alias("r_den"))

    row = (
        num.crossJoin(p_den)
        .crossJoin(r_den)
        .select(
            F.col("num").alias("p_num"),
            "p_den",
            F.col("num").alias("r_num"),
            "r_den",
        )
    )
    return prf_row(row)


def b_cubed(true: DataFrame, pred: DataFrame) -> DataFrame:
    """Bagga & Baldwin (1998) B³, per coref_metrics.py:503-523."""
    t = _normalize(true)
    p = _normalize(pred)
    inter, t_sizes, p_sizes = _contingency(t, p)

    p_num = (
        inter.join(p_sizes.withColumnRenamed("c", "pc"), "pc")
        .agg(F.coalesce(F.sum(F.col("n_tp") * F.col("n_tp") / F.col("n_p")), F.lit(0.0)).alias("p_num"))
    )
    r_num = (
        inter.join(t_sizes, "c")
        .agg(F.coalesce(F.sum(F.col("n_tp") * F.col("n_tp") / F.col("n_t")), F.lit(0.0)).alias("r_num"))
    )
    p_den = p.agg(F.count(F.lit(1)).cast("double").alias("p_den"))
    r_den = t.agg(F.count(F.lit(1)).cast("double").alias("r_den"))

    row = p_num.crossJoin(p_den).crossJoin(r_num).crossJoin(r_den).select(
        "p_num", "p_den", "r_num", "r_den"
    )
    return prf_row(row)


def muc(true: DataFrame, pred: DataFrame) -> DataFrame:
    """Vilain et al. (1995) MUC, per coref_metrics.py:640-660."""
    t = _normalize(true)
    p = _normalize(pred)

    def vilain(a: DataFrame, b: DataFrame):
        """num/den of _vilain(A, B_mapping) as 1-row DF (num, den)."""
        joined = a.join(b.withColumnRenamed("c", "bc"), "m", "left")
        per_cluster = joined.groupBy("c").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("bc")).alias("parts"),
            F.sum(F.col("bc").isNull().cast("long")).alias("unaligned"),
        )
        return per_cluster.agg(
            F.coalesce(
                F.sum(F.col("n") - F.col("unaligned") - F.col("parts")), F.lit(0)
            ).cast("double").alias("num"),
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("double").alias("den"),
        )

    prow = vilain(p, t).select(F.col("num").alias("p_num"), F.col("den").alias("p_den"))
    rrow = vilain(t, p).select(F.col("num").alias("r_num"), F.col("den").alias("r_den"))
    return prf_row(prow.crossJoin(rrow))


def cluster_metrics_bundle(true: DataFrame, pred: DataFrame) -> DataFrame:
    """All four clustering metrics — pairwise, B³, MUC, BLANC-negative —
    from ONE shared contingency table (r6 optimization).

    PRECONDITION: after (mention, cluster) normalization each side maps
    every mention to exactly ONE cluster (the mapping-form invariant of
    every caller in this repo; q21's inputs key on the unique vec_id).
    Under it a single full-outer join on the mention followed by
    ``groupBy(c, pc)`` yields a contingency table whose null-keyed
    margin rows carry the unaligned mentions, and every marginal the
    four metrics need is derivable from it.  The per-metric functions
    above re-derive the same joins and aggregates independently —
    4 metrics × (2 normalizations + join + sizes) came to 122 Exchanges
    and 56 scans in q21's physical plan; the bundle plans the join and
    contingency ONCE (localCheckpoint pins it) and assembles the four
    rows from three small aggregates.  Every output expression is
    copied from the individual metric functions (same coalesce/cast/
    division forms), so values are identical — parity-tested against
    them in tests/test_clustering_metrics.py.

    Returns 4 rows (metric, p_num, p_den, r_num, r_den, precision,
    recall, fscore); metric ∈ pairwise|bcubed|muc|blanc_neg.
    """
    t = _normalize(true)
    p = _normalize(pred).withColumnRenamed("c", "pc")
    full = t.join(p, "m", "full_outer")
    cnt = (
        full.groupBy("c", "pc")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )

    inner = cnt.where(F.col("c").isNotNull() & F.col("pc").isNotNull())

    def _marginals(key: str, other: str) -> DataFrame:
        """Per-cluster marginals of one side: total size n (incl.
        unaligned), matched size n_common, distinct matching clusters
        ``parts``, unaligned mention count."""
        return (
            cnt.where(F.col(key).isNotNull())
            .groupBy(key)
            .agg(*_marginal_aggs(other))
        )

    tC = _marginals("c", "pc")
    pC = _marginals("pc", "c")

    # B³ numerators need each inner cell next to both cluster totals
    szs = (
        inner.join(tC.select("c", F.col("n").alias("n_t")), "c")
        .join(pC.select("pc", F.col("n").alias("n_p")), "pc")
    )
    s_inner = szs.agg(*_inner_aggs())

    s_t = tC.agg(*_side_scalar_aggs("t"))
    s_p = pC.agg(*_side_scalar_aggs("p"))
    row = s_inner.crossJoin(s_t).crossJoin(s_p)
    rows = row.select(_bundle_explode_col()).select("_r.*")
    return prf_row(rows)


@lru_cache(maxsize=4)
def _marginal_aggs(other: str) -> tuple:
    """Aggregate Columns of cluster_metrics_bundle's marginals, built
    once per opposite-side name (r6, see _prf_row_cols)."""
    return (
        F.sum("k").alias("n"),
        F.sum(
            F.when(F.col(other).isNotNull(), F.col("k")).otherwise(F.lit(0))
        ).alias("n_common"),
        F.count(F.when(F.col(other).isNotNull(), F.lit(1))).alias("parts"),
        F.sum(
            F.when(F.col(other).isNull(), F.col("k")).otherwise(F.lit(0))
        ).alias("unaligned"),
    )


@lru_cache(maxsize=4)
def _side_scalar_aggs(tag: str) -> tuple:
    return (
        F.coalesce(F.sum(_tri(F.col("n"))), F.lit(0.0)).alias(f"{tag}_pairs"),
        F.coalesce(F.sum(_tri(F.col("n_common"))), F.lit(0.0)).alias(f"{tag}pc"),
        F.coalesce(
            F.sum(F.col("n") - F.col("unaligned") - F.col("parts")), F.lit(0)
        ).cast("double").alias(f"muc_{tag}num"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("double").alias(
            f"muc_{tag}den"
        ),
        F.coalesce(F.sum("n"), F.lit(0)).cast("double").alias(f"n{tag}"),
    )


@lru_cache(maxsize=1)
def _inner_aggs() -> tuple:
    return (
        F.coalesce(F.sum(_tri(F.col("k"))), F.lit(0.0)).alias("pos"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("double").alias("nc"),
        F.coalesce(
            F.sum(F.col("k") * F.col("k") / F.col("n_p")), F.lit(0.0)
        ).alias("b3_pnum"),
        F.coalesce(
            F.sum(F.col("k") * F.col("k") / F.col("n_t")), F.lit(0.0)
        ).alias("b3_rnum"),
    )


@lru_cache(maxsize=1)
def _bundle_explode_col():
    """The 4-metric struct-array explode Column (fixed input names)."""
    neg = _tri(F.col("nc")) - F.col("pos") - (
        F.col("tpc") + F.col("ppc") - 2 * F.col("pos")
    )

    def _metric_struct(name, p_num, p_den, r_num, r_den):
        return F.struct(
            F.lit(name).alias("metric"),
            p_num.alias("p_num"),
            p_den.alias("p_den"),
            r_num.alias("r_num"),
            r_den.alias("r_den"),
        )

    return F.explode(
        F.array(
            _metric_struct(
                "pairwise",
                F.col("pos"), F.col("p_pairs"), F.col("pos"), F.col("t_pairs"),
            ),
            _metric_struct(
                "bcubed",
                F.col("b3_pnum"), F.col("np"), F.col("b3_rnum"), F.col("nt"),
            ),
            _metric_struct(
                "muc",
                F.col("muc_pnum"), F.col("muc_pden"),
                F.col("muc_tnum"), F.col("muc_tden"),
            ),
            _metric_struct(
                "blanc_neg",
                neg, _tri(F.col("np")) - F.col("p_pairs"),
                neg, _tri(F.col("nt")) - F.col("t_pairs"),
            ),
        )
    ).alias("_r")


def pairwise_negative(true: DataFrame, pred: DataFrame) -> DataFrame:
    """BLANC negative-pair agreement (coref_metrics.py:574-598).

    Computed purely from marginals — no pair materialization:
    pos = Σ C(n_tp,2); disagreements = true_pairs_common +
    pred_pairs_common − 2·pos; neg = C(n_common,2) − pos −
    disagreements; p_den = C(|pred|,2) − pred_pairs; r_den symmetric.
    (Verified against the reference doctest in tests.)
    """
    t = _normalize(true)
    p = _normalize(pred)
    pm = p.withColumnRenamed("c", "pc")
    common = t.join(pm, "m")

    inter = common.groupBy("c", "pc").agg(F.count(F.lit(1)).alias("n_tp"))
    pos = inter.agg(F.coalesce(F.sum(_tri(F.col("n_tp"))), F.lit(0.0)).alias("v"))

    tpc = common.groupBy("c").agg(F.count(F.lit(1)).alias("n")).agg(
        F.coalesce(F.sum(_tri(F.col("n"))), F.lit(0.0)).alias("v"))
    ppc = common.groupBy("pc").agg(F.count(F.lit(1)).alias("n")).agg(
        F.coalesce(F.sum(_tri(F.col("n"))), F.lit(0.0)).alias("v"))
    n_common = common.agg(F.count(F.lit(1)).cast("double").alias("v"))

    t_pairs = t.groupBy("c").agg(F.count(F.lit(1)).alias("n")).agg(
        F.coalesce(F.sum(_tri(F.col("n"))), F.lit(0.0)).alias("v"))
    p_pairs = p.groupBy("c").agg(F.count(F.lit(1)).alias("n")).agg(
        F.coalesce(F.sum(_tri(F.col("n"))), F.lit(0.0)).alias("v"))
    n_t = t.agg(F.count(F.lit(1)).cast("double").alias("v"))
    n_p = p.agg(F.count(F.lit(1)).cast("double").alias("v"))

    row = (
        pos.select(F.col("v").alias("pos"))
        .crossJoin(tpc.select(F.col("v").alias("tpc")))
        .crossJoin(ppc.select(F.col("v").alias("ppc")))
        .crossJoin(n_common.select(F.col("v").alias("nc")))
        .crossJoin(t_pairs.select(F.col("v").alias("tp_all")))
        .crossJoin(p_pairs.select(F.col("v").alias("pp_all")))
        .crossJoin(n_t.select(F.col("v").alias("nt")))
        .crossJoin(n_p.select(F.col("v").alias("np")))
    )
    neg = (_tri(F.col("nc")) - F.col("pos")
           - (F.col("tpc") + F.col("ppc") - 2 * F.col("pos")))
    out = row.select(
        neg.alias("p_num"),
        (_tri(F.col("np")) - F.col("pp_all")).alias("p_den"),
        neg.alias("r_num"),
        (_tri(F.col("nt")) - F.col("tp_all")).alias("r_den"),
    )
    return prf_row(out)
