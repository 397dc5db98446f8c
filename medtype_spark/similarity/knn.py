"""Approximate & exact nearest-neighbour search over embedding columns.

The Spark-native analogue of ScispaCy's alias-embedding kNN candidate
generator (entity_linkers.py:25-46).  Four strategies:

- ``brute_force_topk``: queries × corpus cosine ranking.  The query
  side is broadcast (queries are few); scoring is JVM-side zip_with /
  aggregate.  Correct baseline and the within-block scorer.
- ``ivf_topk``: inverted-file probe lists.  A query is scored exactly
  against the corpus rows of its ``nprobe`` nearest cells only.
- ``ivf_pq_topk``: the same probes, ranked by asymmetric distance over
  product-quantization codes instead of the exact score.
- ``lsh_cosine_pairs``: random-hyperplane LSH — bucket on sign bits
  of H seeded projections, candidate join within buckets, exact
  re-rank.  The scale path for near-duplicate PAIRS: candidates per
  vector ∝ bucket size, not corpus size.

The three top-k searches share one contract.  The corpus is (vec_id,
embedding) and the queries are (query_id, embedding).  Quantizers are
arguments: ``md5_centroids`` / ``md5_pq_codebooks`` build the integer
fixtures the DuckDB oracle re-derives, and a caller with a trained
quantizer passes its arrays instead (this module trains none).  Each
returns (query_id, rank, vec_id, <score>) with ranks 1..k per query,
ordered by score then vec_id, self matches excluded.

Plane components are md5-derived integers baked into the plan as
LITERAL arrays: zero per-row hashing at runtime (the dot against a
constant vector is pure whole-stage-codegen arithmetic), identical on
every executor, and reproducible by the DuckDB oracle (q61).
"""

from __future__ import annotations

# Module-level so pandas_udf can resolve the stringified 'pd.Series'
# type hints produced by `from __future__ import annotations` (PySpark
# looks them up in the function's __globals__).
import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from medtype_spark.functions.scoring import md5_bucket
from medtype_spark.operators.pairs import cosine_sim, dot as dot_sim


def brute_force_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-5 cosine neighbours for each query vector over
    (vec_id, embedding) frames.

    Returns (query_id, rank, vec_id, cosine).  Ties broken by vec_id
    (deterministic).  Excludes self-matches when ids coincide.
    """
    from medtype_spark.operators.pairs import l2_norm

    # (r6) Hoist the norms out of the per-pair expression: the corpus
    # norm is computed once per corpus row (not once per query×row) and
    # the query norm once per query row on the broadcast side.  The
    # denominator keeps the exact evaluation order of cosine_sim
    # (l2(query)*l2(corpus)), so every double is bit-identical — only
    # the per-pair work drops from 3 array reductions to 1.
    q = queries.select(
        F.col("query_id").alias("_qid"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    joined = corpus.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("_cn")
    ).join(F.broadcast(q))
    denom = F.col("_qn") * F.col("_cn")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot_sim(F.col("_qvec"), F.col("embedding")) / denom
    )
    scored = joined.where(F.col("vec_id") != F.col("_qid")).select(
        F.col("_qid").alias("query_id"),
        F.col("vec_id"),
        cos.alias("cosine"),
    )
    return _top_k(scored, "cosine", 5, ascending=False)


def _top_k(scored: DataFrame, score: str, k: int, ascending: bool) -> DataFrame:
    """The ``k`` best (query_id, vec_id, ``score``) rows of each query,
    best first by ``score`` (``ascending`` for distances), ties broken
    by vec_id; adds ``rank`` 1..k."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", score)
    )


def plane_components(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic integer plane grid: component j of plane p =
    md5_bucket('seed:p:j', 1001) - 500 — computable in SQL, so LSH
    bucket assignment is engine-portable."""
    return [
        [float(md5_bucket(f"{seed}:{p}:{j}", 1001) - 500) for j in range(dim)]
        for p in range(n_planes)
    ]


def _hyperplane_bits(vec_col, dim: int, n_planes: int, seed: int = 42):
    """Sign-bit bucket key from pseudo-random hyperplanes.

    The planes are md5-derived constants baked into the plan as literal
    arrays (identical across executors and runs); the per-row work is
    one fused zip_with/aggregate dot per plane — no runtime hashing.
    """
    bits = []
    for comps in plane_components(dim, n_planes, seed):
        lit_plane = F.array(*[F.lit(c) for c in comps])
        dot = F.aggregate(
            F.zip_with(vec_col, lit_plane, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


LSH_TABLES = 3


def lsh_cosine_pairs(
    corpus: DataFrame,
    dim: int,
    min_cosine: float = 0.8,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at corpus scale: bucketed
    self-join (never all-pairs).

    Multi-table LSH over (vec_id, embedding): ``LSH_TABLES`` independent
    hyperplane sets (table ``t`` seeded ``42 + 1000 * t``), each an
    equi-join on its own bucket key; a pair is a candidate if ANY table
    collides (union + distinct), then exact cosine filters.  More
    tables = higher recall at linear candidate cost.  Returns
    (a, b, cosine) with a < b.

    Scale guard (fixed bucket counts are a hidden quadratic — bucket
    population is corpus/2^n_planes, so within-bucket pairs grow with
    the SQUARE of corpus size): within-bucket pair generation goes
    through ``block_pairs`` with the (table, bucket) pair as the
    blocking key: a bucket larger than 5000 vectors is split into
    ~1000-member cells and joined on (bucket, i, j) over its i <= j
    cell grid, so no task sees a whole bucket — the exact mechanism
    (and property test) used for hot blocking keys.
    """
    from medtype_spark.operators.blocking import block_pairs

    per_table = []
    for t in range(LSH_TABLES):
        per_table.append(
            corpus.select(F.col("vec_id"), F.col("embedding")).withColumn(
                "_bucket",
                F.concat(
                    F.lit(f"{t}:"),
                    _hyperplane_bits(F.col("embedding"), dim, n_planes, 42 + 1000 * t),
                ),
            )
        )
    bucketed = per_table[0]
    for other in per_table[1:]:
        bucketed = bucketed.unionByName(other)

    pairs = block_pairs(
        bucketed,
        key_col="_bucket",
        id_col="vec_id",
        hot_threshold=5000,
        target_cell=1000,
        extra_cols=["embedding"],
    )
    cands = pairs.select(
        F.col("a_vec_id").alias("a"),
        F.col("b_vec_id").alias("b"),
        F.col("a_embedding").alias("_va"),
        F.col("b_embedding").alias("_vb"),
    ).dropDuplicates(["a", "b"])
    return cands.select(
        "a", "b", cosine_sim(F.col("_va"), F.col("_vb")).alias("cosine")
    ).where(F.col("cosine") >= min_cosine)


# ----------------------------------------------------------------------
# IVF (inverted-file) ANN: a coarse quantizer + probe lists — the
# second scale path next to hyperplane LSH.  The centroid model is
# dimension-sized (n_centroids × dim), so it is passed in on the driver
# and broadcast; corpus assignment is one Arrow-batched argmax pass; a
# query touches only its nprobe nearest centroids' posting lists
# (candidates ∝ nprobe/n_centroids of the corpus, never all of it).
# ----------------------------------------------------------------------


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Rows of ``x`` scaled to unit L2 norm; zero rows stay zero."""
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def _vectors(vecs: pd.Series, normalize: bool) -> np.ndarray:
    """An Arrow batch of embeddings as an (N, dim) float64 matrix,
    unit-normalized rows when ``normalize``."""
    x = np.array([list(v) for v in vecs], dtype=np.float64)
    return _unit_rows(x) if normalize else x


def md5_centroids(dim: int, n_centroids: int) -> np.ndarray:
    """Deterministic integer centroid grid for the driver-checked IVF
    fixture: component j of centroid c = md5_bucket('ivf7:c:j',
    1001) - 500 — the same engine-portable md5 recipe as the LSH
    hyperplanes, so the DuckDB oracle re-derives the coarse quantizer
    from scratch.  Integer-valued float64, so every dot product against
    integer-quantized vectors is EXACT regardless of summation order
    (sums stay far below 2^53) — argmax/rank decisions are therefore
    bit-portable across numpy, Spark, and DuckDB."""
    return np.array(
        [
            [float(md5_bucket(f"ivf7:{c}:{j}", 1001) - 500) for j in range(dim)]
            for c in range(n_centroids)
        ],
        dtype=np.float64,
    )


def ivf_assign(
    corpus: DataFrame,
    centroids,
    out_col: str = "ivf_cell",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid cell id of each ``embedding`` (Arrow-batched
    argmax against the broadcast centroid matrix).  ``metric='cosine'`` L2-normalizes
    rows first (spherical k-means); ``metric='dot'`` ranks by raw inner
    product (IP-IVF, the FAISS IndexIVFFlat/IP analogue) — with
    integer-valued inputs the argmax is exact and engine-portable."""
    spark = corpus.sparkSession
    cb = spark.sparkContext.broadcast(np.asarray(centroids))
    normalize = metric == "cosine"

    @pandas_udf(IntegerType())
    def cell(vecs: pd.Series) -> pd.Series:
        return pd.Series((_vectors(vecs, normalize) @ cb.value.T).argmax(1).astype("int32"))

    return corpus.withColumn(out_col, cell(F.col("embedding")))


def _probe_join(
    assigned: DataFrame,
    queries: DataFrame,
    centroids,
    nprobe: int,
    normalize: bool,
    query_col: Column,
) -> DataFrame:
    """Candidate pairs of the IVF searches.  Each query's ``nprobe``
    most similar centroid ids (stable argsort, so ties go to the lower
    id) are exploded and broadcast-joined to the ``ivf_cell`` of the
    assigned corpus; self matches are dropped.  Each pair carries the
    query's ``query_id`` and ``query_col``."""
    cb = assigned.sparkSession.sparkContext.broadcast(np.asarray(centroids))
    n = min(nprobe, len(centroids))

    @pandas_udf(ArrayType(IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        sims = _vectors(vecs, normalize) @ cb.value.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in order])

    q = queries.select(
        "query_id", query_col, F.explode(probes(F.col("embedding"))).alias("_cell")
    )
    return assigned.join(
        F.broadcast(q), assigned["ivf_cell"] == q["_cell"]
    ).where(F.col("vec_id") != F.col("query_id"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int,
    nprobe: int,
    metric: str = "cosine",
) -> DataFrame:
    """Approximate top-k via IVF probe lists: assign the corpus once,
    probe each query's ``nprobe`` nearest cells, exact re-rank within
    the probed candidates.  Recall rises with nprobe at linear
    candidate cost (the IVF knob); rank semantics match
    brute_force_topk within the candidate set.  ``metric='dot'`` skips
    normalization and ranks by raw inner product (exact on
    integer-valued vectors — the driver-checked fixture path); score
    column is named after the metric."""
    normalize = metric == "cosine"
    score_col = "cosine" if normalize else "dot"
    score_fn = cosine_sim if normalize else dot_sim
    assigned = ivf_assign(corpus, centroids, metric=metric)
    qvec = F.col("embedding").alias("_qvec")
    joined = _probe_join(assigned, queries, centroids, nprobe, normalize, qvec)
    score = score_fn(F.col("_qvec"), F.col("embedding")).alias(score_col)
    scored = joined.select("query_id", "vec_id", score)
    return _top_k(scored, score_col, k, ascending=False)


# --- IVF-PQ: product-quantized ADC re-rank ------------------------------

def md5_pq_codebooks(dim: int, m: int, k: int) -> np.ndarray:
    """Deterministic integer PQ codebooks, shape (m, k, dim//m).

    Component t of codeword c in subspace j =
    ``md5_bucket('pq7:{j}:{c}:{t}', 2001) - 1000`` — the same
    engine-portable md5 recipe as the IVF centroid grid, so the DuckDB
    oracle re-derives every codeword from scratch.  Integer-valued
    float64: squared-distance sums stay far below 2^53, making encode
    argmins and ADC rankings bit-portable across numpy, Spark, and
    DuckDB."""
    d = dim // m
    return np.array(
        [
            [
                [float(md5_bucket(f"pq7:{j}:{c}:{t}", 2001) - 1000) for t in range(d)]
                for c in range(k)
            ]
            for j in range(m)
        ],
        dtype=np.float64,
    )


def _sq_dists(sub: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(N, k): ||sub_i - cents_c||² for N sub-vectors and k codewords."""
    return ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)


def _subspace_dists(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(N, m, k): the squared distance of each row's subspace j to
    every codeword of codebook j, for (m, k, d) ``books``."""
    m, _k, d = books.shape
    return np.stack(
        [_sq_dists(x[:, j * d : (j + 1) * d], books[j]) for j in range(m)], axis=1
    )


def pq_encode(corpus: DataFrame, codebooks) -> DataFrame:
    """Product-quantization codes: per subspace j, the index of the
    L2-nearest codeword (Arrow-batched argmin against the broadcast
    codebook tensor; ties break to the LOWEST codeword index —
    np.argmin's first-minimum, mirrored by the oracle's
    ``ORDER BY dist, c`` rank).  Output column is ``array<int>`` of
    length m — the 100 TB shape: m bytes of code per vector replace
    dim floats in the candidate store.  Reads ``embedding``, adds
    ``pq_code``."""
    spark = corpus.sparkSession
    cb = spark.sparkContext.broadcast(np.asarray(codebooks))

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        dists = _subspace_dists(_vectors(vecs, normalize=False), cb.value)
        codes = dists.argmin(axis=2).astype(np.int32)  # first min
        return pd.Series([row.tolist() for row in codes])

    return corpus.withColumn("pq_code", encode(F.col("embedding")))


def ivf_pq_topk(
    corpus: DataFrame, queries: DataFrame, centroids, codebooks, k: int, nprobe: int
) -> DataFrame:
    """IVF-PQ approximate top-k — the standard 100 TB ANN shape.

    Two-level quantization: the IVF coarse quantizer restricts each
    query to its ``nprobe`` probed cells (candidates ∝
    nprobe/n_centroids of the corpus, exactly as in :func:`ivf_topk`),
    and within the candidates the exact re-rank is replaced by
    **asymmetric distance computation**: each candidate is represented
    only by its m-subspace PQ code, and its distance to the query is
    the sum of m precomputed lookup-table entries
    ``LUT[j][code_j] = ||q_j - C_j,code_j||²`` — O(m) adds per
    candidate instead of O(dim) multiplies, with the LUT built once
    per query against the broadcast codebooks.

    The ADC sum itself runs JVM-side in whole-stage codegen:
    ``aggregate(transform(code, (c, j) -> lut[j*k + c]))`` over the
    query's flattened LUT array — no Python in the per-candidate hot
    path.  With integer-valued codebooks and quantized vectors every
    LUT entry and every ADC sum is an exact integer, so rankings are
    bit-portable (ties break on ascending ``vec_id``).

    Cells are assigned by raw inner product (``metric='dot'``).
    Returns (query_id, rank, vec_id, adc), rank 1..k by ascending ADC.
    """
    books = np.asarray(codebooks)
    n_codes = books.shape[1]
    assigned = pq_encode(ivf_assign(corpus, centroids, metric="dot"), books)
    books_b = corpus.sparkSession.sparkContext.broadcast(books)

    @pandas_udf(ArrayType(DoubleType()))
    def adc_lut(vecs: pd.Series) -> pd.Series:
        x = _vectors(vecs, normalize=False)
        lut = _subspace_dists(x, books_b.value).reshape(len(x), -1)
        return pd.Series([row.tolist() for row in lut])

    lut = adc_lut(F.col("embedding")).alias("_lut")
    joined = _probe_join(
        assigned, queries, centroids, nprobe, normalize=False, query_col=lut
    )
    # ADC: sum of m LUT lookups, pure whole-stage-codegen arithmetic.
    # The transform lambda's SECOND parameter is the element index —
    # the one place that pyspark signature is exactly what we want.
    adc = F.aggregate(
        F.transform(
            F.col("pq_code"),
            lambda c, j: F.element_at(F.col("_lut"), j * n_codes + c + 1),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = joined.select("query_id", "vec_id", adc.alias("adc"))
    return _top_k(scored, "adc", k, ascending=True)

