"""CEAF (A9): optimal 1:1 cluster alignment metrics.

Reimplements neleval's mention/entity CEAF
(medtype-trainer/neleval/neleval/coref_metrics.py:443-471; similarity
functions :343-382; decomposition :392-440) Spark-first:

- the true×pred similarity CONTINGENCY (only overlapping cluster
  pairs) is computed distributed (join + groupBy) — this is the part
  that scales with data;
- the assignment problem is decomposed by connected components of the
  cluster-overlap graph (exactly the reference's
  ``_disjoint_max_assignment`` trick, :407-440) and each component's
  (small, dense) subproblem is solved with a pure-numpy Hungarian
  algorithm on the driver — no scipy in this environment.

similarity='overlap' → mention_ceaf (num = |t∩p|, self-sim = |c|);
similarity='dice'    → entity_ceaf (num = 2|t∩p|/(|t|+|p|), self = 1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.metrics.clustering import _normalize, prf_row


def _hungarian_max(cost: np.ndarray) -> float:
    """Maximum-weight assignment total for a (possibly rectangular)
    dense matrix — O(n^3) Jonker-style augmenting-path algorithm."""
    if cost.size == 0:
        return 0.0
    # pad to square, maximize = minimize negated
    n = max(cost.shape)
    m = np.zeros((n, n), dtype=np.float64)
    m[: cost.shape[0], : cost.shape[1]] = -cost
    INF = 1e18
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    p = np.zeros(n + 1, dtype=np.int64)  # p[j] = row assigned to col j
    way = np.zeros(n + 1, dtype=np.int64)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, INF)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = 0
            for j in range(1, n + 1):
                if not used[j]:
                    cur = m[i0 - 1, j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    total = 0.0
    for j in range(1, n + 1):
        if p[j] != 0:
            total += m[p[j] - 1, j - 1]
    return -total


def _solve_component(pdf):
    """One overlap-component's assignment subproblem (runs on a worker
    via applyInPandas; whole-component rows are the only thing that
    ever localizes)."""
    import pandas as pd

    tcs = sorted(set(pdf["tc"]), key=str)
    pcs = sorted(set(pdf["pc"]), key=str)
    ti = {c: i for i, c in enumerate(tcs)}
    pi = {c: i for i, c in enumerate(pcs)}
    mat = np.zeros((len(tcs), len(pcs)))
    for tc, pc, sim in zip(pdf["tc"], pdf["pc"], pdf["sim"]):
        mat[ti[tc], pi[pc]] = sim
    return pd.DataFrame({"num": [_hungarian_max(mat)]})


def ceaf(
    true: DataFrame,
    pred: DataFrame,
    similarity: str = "overlap",
) -> DataFrame:
    """Returns 1-row (p_num,p_den,r_num,r_den,precision,recall,fscore)
    between two (mention, cluster) tables.

    per coref_metrics.py:443-449: num = max-assignment similarity;
    p_den = Σ_p sim(p,p); r_den = Σ_t sim(t,t).

    Scale shape: the similarity contingency, the component
    decomposition (connected components over the bipartite cluster-
    overlap graph — the reference's ``_disjoint_max_assignment`` trick,
    :407-440), the denominators, and the final sum are ALL distributed;
    only one overlap component at a time is dense-solved, inside an
    ``applyInPandas`` worker.  Nothing cluster-count-sized ever
    collects to the driver (the round-1 version collected the full
    contingency + every cluster size — a driver OOM at 10^12 docs).
    """
    from medtype_spark.operators.cc import connected_components

    t = _normalize(true)
    p = _normalize(pred)

    t_sz = t.groupBy("c").agg(F.count(F.lit(1)).alias("n_t")).withColumnRenamed("c", "tc")
    p_sz = p.groupBy("c").agg(F.count(F.lit(1)).alias("n_p")).withColumnRenamed("c", "pc")

    inter = (
        t.withColumnRenamed("c", "tc")
        .join(p.withColumnRenamed("c", "pc"), "m")
        .groupBy("tc", "pc")
        .agg(F.count(F.lit(1)).alias("n_tp"))
        .join(t_sz, "tc")
        .join(p_sz, "pc")
    )
    if similarity == "overlap":
        sim = F.col("n_tp").cast("double")
        p_den = p.agg(F.count(F.lit(1)).cast("double").alias("p_den"))
        r_den = t.agg(F.count(F.lit(1)).cast("double").alias("r_den"))
    elif similarity == "dice":
        sim = 2.0 * F.col("n_tp") / (F.col("n_t") + F.col("n_p"))
        p_den = p_sz.agg(F.count(F.lit(1)).cast("double").alias("p_den"))
        r_den = t_sz.agg(F.count(F.lit(1)).cast("double").alias("r_den"))
    else:
        raise ValueError(similarity)

    scored = inter.select(
        F.concat(F.lit("t:"), F.col("tc").cast("string")).alias("t_node"),
        F.concat(F.lit("p:"), F.col("pc").cast("string")).alias("p_node"),
        F.col("tc").cast("string").alias("tc"),
        F.col("pc").cast("string").alias("pc"),
        sim.alias("sim"),
    )
    comp = connected_components(
        scored.select(F.col("t_node").alias("src"), F.col("p_node").alias("dst"))
    )
    labeled = scored.join(
        comp.withColumnRenamed("node", "t_node"), "t_node"
    ).select("component", "tc", "pc", "sim")

    per_comp = labeled.groupBy("component").applyInPandas(
        _solve_component, schema="num double"
    )
    num = per_comp.agg(F.coalesce(F.sum("num"), F.lit(0.0)).alias("num"))

    row = num.crossJoin(p_den).crossJoin(r_den).select(
        F.col("num").alias("p_num"), "p_den",
        F.col("num").alias("r_num"), "r_den",
    )
    return prf_row(row)


def mention_ceaf(true, pred):
    return ceaf(true, pred, similarity="overlap")


def entity_ceaf(true, pred):
    return ceaf(true, pred, similarity="dice")
