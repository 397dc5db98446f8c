"""Composed near-dup pipelines on planted duplicates: recall of the
LSH paths vs ground truth / brute force."""

import random

from pyspark.sql import functions as F

from medtype_spark.dedup.neardup import near_dup_clusters
from medtype_spark.similarity.knn import lsh_cosine_pairs


def _planted_docs(spark, n_groups=12, words=40):
    """Groups of 3 near-identical docs (1-2 word edits) + singletons."""
    rng = random.Random(9)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = []
    did = 0
    truth = {}
    for g in range(n_groups):
        base = [rng.choice(vocab) for _ in range(words)]
        for v in range(3):
            toks = list(base)
            for _ in range(v):  # v edits
                toks[rng.randrange(words)] = rng.choice(vocab)
            rows.append((did, " ".join(toks)))
            truth[did] = g
            did += 1
    for s in range(15):  # unrelated singletons
        rows.append((did, " ".join(rng.choice(vocab) for _ in range(words))))
        truth[did] = f"solo{s}"
        did += 1
    return spark.createDataFrame(rows, "doc_id:long, text:string"), truth, dict(rows)


def _linked_groups(texts, min_jaccard):
    """{doc_id: group}: components of the pairs whose word 3-gram
    shingle sets have Jaccard ≥ ``min_jaccard`` (the link rule)."""
    shingles = {}
    for did, text in texts.items():
        w = text.split()
        shingles[did] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    group = {did: did for did in texts}

    def find(x):
        while group[x] != x:
            x = group[x]
        return x

    for a in texts:
        for b in texts:
            sa, sb = shingles[a], shingles[b]
            if a < b and len(sa & sb) >= min_jaccard * len(sa | sb):
                ra, rb = find(a), find(b)
                group[max(ra, rb)] = min(ra, rb)
    return {did: find(did) for did in texts}


def test_near_dup_clusters_recover_planted_groups(spark):
    docs, truth, texts = _planted_docs(spark)
    out = near_dup_clusters(docs)
    got = {r["doc_id"]: r["neardup_group"] for r in out.collect()}
    assert set(got) == set(truth)  # every doc labeled

    # pairwise agreement vs the documents that link at the operator's
    # shingle Jaccard of 0.8 (a 2-edit copy can fall below it): LSH
    # recall < 1.0 is allowed but must be high, and NO false merges
    linked = _linked_groups(texts, 0.8)
    ids = sorted(truth)
    tp = fn = fp = 0
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            if linked[i] == linked[j]:
                assert truth[i] == truth[j]  # links stay inside planted groups
            same_got = got[i] == got[j]
            if linked[i] == linked[j] and same_got:
                tp += 1
            elif linked[i] == linked[j]:
                fn += 1
            elif same_got:
                fp += 1
    assert fp == 0  # verification step kills every false candidate
    assert tp + fn >= 12  # 1-edit copies link in most planted groups
    assert tp / (tp + fn) >= 0.9  # multi-band recall


def test_lsh_cosine_pairs_vs_brute_force(spark):
    rng = random.Random(4)
    # planted near-dup vector pairs + noise
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.05) for x in v]))  # near-dup
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")

    got = {(r["a"], r["b"]) for r in
           lsh_cosine_pairs(emb, dim=16, min_cosine=0.95, n_planes=6).collect()}

    # brute force ground truth at the same threshold
    from medtype_spark.operators.pairs import cosine_sim

    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    want = {
        (r["a"], r["b"])
        for r in a.crossJoin(b).where(F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("c"))
        .where(F.col("c") >= 0.95).collect()
    }
    assert got <= want  # no false positives (exact verify)
    assert len(got) >= 0.9 * len(want)  # multi-table recall


def test_lsh_cosine_pairs_hot_bucket_salted(spark):
    """A skewed corpus (90 near-identical vectors) collapses into ONE
    bucket per table; the pair set must still be exactly complete, with
    each pair once although every table yields it.  A bucket this small
    pairs through the plain self-join; block_pairs' salted grid, which
    buckets over 5000 vectors take, is checked directly in
    test_blocking.py::test_salted_hot_key_pairs_are_distributed."""
    rng = random.Random(11)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [
        (i, [x + rng.gauss(0, 1e-6) for x in base]) for i in range(90)
    ]
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")

    out = lsh_cosine_pairs(emb, dim=16, min_cosine=0.99, n_planes=4).collect()
    got = [(r["a"], r["b"]) for r in out]
    # near-identical vectors: every unordered pair is a near-dup
    want = {(a, b) for a in range(90) for b in range(90) if a < b}
    assert len(got) == len(set(got)) and set(got) == want


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF coarse-quantizer ANN: with a healthy nprobe the probed
    candidates must recover ≥0.9 of the exact top-3 neighbour sets.
    The centroids are the planted cluster directions, unit-normalized:
    about what spherical k-means converges to on this data."""
    import numpy as np

    from medtype_spark.similarity.knn import brute_force_topk, ivf_topk

    rng = random.Random(17)
    rows = []
    # 8 well-separated direction clusters x 25 members
    bases = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    vid = 0
    for base in bases:
        for _ in range(25):
            rows.append((vid, [x + rng.gauss(0, 0.15) for x in base]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    queries = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    cents = np.array(bases)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    got = ivf_topk(emb, queries, cents, k=3, nprobe=3)
    want = brute_force_topk(emb, queries).where(F.col("rank") <= 3)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    w = {(r["query_id"], r["vec_id"]) for r in want.collect()}
    assert len(g & w) >= 0.9 * len(w)


def test_ivf_topk_dot_metric_integer_exact(spark):
    """metric='dot' IVF on integer-valued vectors: scores are exact
    inner products (no float drift), ranked desc with vec_id
    tie-break, and the result is partition-invariant — the property
    the q67 driver oracle relies on."""
    from medtype_spark.similarity.knn import ivf_topk, md5_centroids

    rng = random.Random(3)
    rows = [
        (i, [float(rng.randint(-1000, 1000)) for _ in range(16)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    queries = emb.where(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = md5_centroids(16, 8)

    got = ivf_topk(emb, queries, cents, k=3, nprobe=2, metric="dot").collect()
    assert got and all(r["dot"] == int(r["dot"]) for r in got)

    # exact-integer check: replay assignment/probing/ranking in python
    vecs = dict(rows)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def argcells(v, n):
        sims = [(dot(v, c), -i) for i, c in enumerate(cents)]
        order = sorted(range(len(cents)), key=lambda i: (-sims[i][0], i))
        return order[:n]

    assign = {vid: argcells(v, 1)[0] for vid, v in vecs.items()}
    for qid in [r[0] for r in rows if r[0] % 17 == 0]:
        probed = set(argcells(vecs[qid], 2))
        cands = [v for v in vecs if v != qid and assign[v] in probed]
        want = sorted(cands, key=lambda v: (-dot(vecs[qid], vecs[v]), v))[:3]
        have = sorted(
            [(r["rank"], r["vec_id"], r["dot"]) for r in got if r["query_id"] == qid]
        )
        assert [h[1] for h in have] == want
        for _, v, d in have:
            assert d == dot(vecs[qid], vecs[v])

    # partition invariance
    again = ivf_topk(
        emb.repartition(7), queries, cents, k=3, nprobe=2, metric="dot"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_minhash_local_equals_exploded(spark):
    """minhash_signatures_local (r6 row-local form) must produce
    bit-identical signatures to the explode+groupBy form over the
    distinct shingles (``min()`` ignores duplicates), at 16 hashes."""
    from pyspark.sql import functions as F

    from medtype_spark.dedup.minhash import (
        doc_shingles,
        minhash_signatures,
        minhash_signatures_local,
    )

    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),
        (2, "one two"),            # shorter than n -> single shingle
        (3, ""),                   # empty text
        (4, "  spaced   out   tokens here  "),
        (5, "alpha beta gamma delta alpha beta gamma"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: r["sig"] for r in
         minhash_signatures(doc_shingles(df)).collect()}
    b = {r["doc_id"]: r["sig"] for r in
         minhash_signatures_local(df).collect()}
    assert len(a[1]) == 16
    assert a == b


_JACCARD_CACHE_SCRIPT = """
import json
from medtype_spark.dedup.minhash import capped_jaccard_pairs, doc_shingles
from medtype_spark.session import get_spark

spark = get_spark("jaccard-cache", master="local[1]")
docs = spark.createDataFrame(
    [(i, " ".join(f"w{(i + k) % 60}" for k in range(10))) for i in range(200)],
    "doc_id long, text string")
pairs = capped_jaccard_pairs(doc_shingles(docs), min_jaccard=0.1)
n = len(pairs.collect())
empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
spark.stop()
print(json.dumps({"pairs": n, "cache_empty": empty}))
"""


def test_capped_jaccard_leaves_no_cached_frame():
    """capped_jaccard_pairs computes its df-capped shingle frame once
    without registering it in the session's CacheManager: nothing stays
    cached after the result is collected.  Runs in its own process so
    the shared test session's caches do not count."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _JACCARD_CACHE_SCRIPT],
        cwd=root, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["pairs"] > 0 and got["cache_empty"], got
