"""IVF-PQ: product-quantized ADC re-rank (similarity/knn.py)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from medtype_spark.similarity.knn import (
    ivf_pq_topk,
    md5_centroids,
    md5_pq_codebooks,
    pq_encode,
)


def _int_vecs(n, dim, seed):
    rng = random.Random(seed)
    return [(i, [float(rng.randint(-1000, 1000)) for _ in range(dim)]) for i in range(n)]


def test_pq_encode_matches_python_argmin(spark):
    """Codes equal the python per-subspace argmin (ties -> lowest c),
    and are partition-invariant."""
    rows = _int_vecs(60, 16, seed=5)
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    books = md5_pq_codebooks(dim=16, m=4, k=8)

    got = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb, books).collect()}
    d = 4
    for vid, v in rows:
        want = []
        for j in range(4):
            sub = v[j * d : (j + 1) * d]
            dists = [
                (sum((x - w) ** 2 for x, w in zip(sub, books[j][c])), c)
                for c in range(8)
            ]
            want.append(min(dists)[1])
        assert got[vid] == want, vid

    again = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb.repartition(7), books).collect()}
    assert got == again


def test_ivf_pq_matches_python_replay_integer_exact(spark):
    """Full python replay of the fixture path: dot-metric cell
    assignment, probe lists, PQ codes, LUTs, ADC sums, ranking — every
    number an exact integer, equal to Spark's output."""
    rows = _int_vecs(120, 16, seed=3)
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    queries = emb.where(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = md5_centroids(16, 8)
    books = md5_pq_codebooks(dim=16, m=4, k=8)

    got = ivf_pq_topk(emb, queries, cents, books, k=3, nprobe=2).collect()
    assert got and all(r["adc"] == int(r["adc"]) for r in got)

    vecs = dict(rows)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def argcells(v, n):
        return sorted(range(len(cents)), key=lambda i: (-dot(v, cents[i]), i))[:n]

    d = 4

    def code(v):
        out = []
        for j in range(4):
            sub = v[j * d : (j + 1) * d]
            out.append(
                min(
                    (sum((x - w) ** 2 for x, w in zip(sub, books[j][c])), c)
                    for c in range(8)
                )[1]
            )
        return out

    def adc(q, cd):
        total = 0
        for j, c in enumerate(cd):
            sub = q[j * d : (j + 1) * d]
            total += sum((x - w) ** 2 for x, w in zip(sub, books[j][c]))
        return total

    assign = {vid: argcells(v, 1)[0] for vid, v in vecs.items()}
    codes = {vid: code(v) for vid, v in vecs.items()}
    for qid in [r[0] for r in rows if r[0] % 17 == 0]:
        probed = set(argcells(vecs[qid], 2))
        cands = [v for v in vecs if v != qid and assign[v] in probed]
        want = sorted(cands, key=lambda v: (adc(vecs[qid], codes[v]), v))[:3]
        have = sorted(
            (r["rank"], r["vec_id"], r["adc"]) for r in got if r["query_id"] == qid
        )
        assert [h[1] for h in have] == want, qid
        for _, v, a in have:
            assert a == adc(vecs[qid], codes[v]), (qid, v)


def test_trained_pq_recall_vs_exact(spark):
    """Codebooks in place of trained ones on clustered data: codebook
    j holds subspace j of each of the 8 planted bases, repeated to fill
    16 codes (a tie goes to the lower code, so no repeat is chosen).

    PQ's contract is COARSE-grain fidelity: within a tight cluster
    (noise σ=0.1 ≪ codeword spacing) every point quantizes to near-
    identical codes, so within-cluster ADC order is quantization
    noise by design — what PQ must preserve is the cluster structure
    (inter-base distance ~√32 ≫ quantization error).  Assert that:
    (a) every ADC top-3 neighbor comes from the query's own cluster
        (cluster-grain recall — the property IVF-PQ actually delivers
        at 100 TB: route the exact re-rank a short candidate list);
    (b) the ADC estimate tracks true L2: per returned pair,
        |adc − l2| stays far below the inter-cluster L2 gap."""
    rng = random.Random(17)
    rows = []
    bases = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    vid = 0
    for base in bases:
        for _ in range(25):
            rows.append((vid, [x + rng.gauss(0, 0.1) for x in base]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    queries = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = md5_centroids(16, 8)
    books = np.array([[b[j * 2 : (j + 1) * 2] for b in bases] * 2 for j in range(8)])

    got = ivf_pq_topk(emb, queries, cents, books, k=3, nprobe=8).collect()

    vecs = dict(rows)

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # smallest L2 between two points of DIFFERENT clusters = the gap
    # the quantizer must not blur
    import itertools

    gap = min(
        l2(vecs[a], vecs[b])
        for a, b in itertools.combinations(range(0, 200, 25), 2)
    )
    qids = sorted({r["query_id"] for r in got})
    assert qids, "no query produced results"
    for qid in qids:
        mine = [r for r in got if r["query_id"] == qid]
        assert len(mine) == 3, qid
        for r in mine:
            # (a) cluster-grain recall: same 25-point cluster
            assert r["vec_id"] // 25 == qid // 25, (qid, r["vec_id"])
            # (b) ADC error ≪ inter-cluster gap
            true = l2(vecs[qid], vecs[r["vec_id"]])
            assert abs(r["adc"] - true) < 0.25 * gap, (qid, r["vec_id"])
