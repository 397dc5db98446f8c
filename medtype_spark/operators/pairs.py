"""Pairwise scoring inside blocks: Jaro-Winkler + embedding cosine.

The reference scores candidates two ways: QuickUMLS approximate string
similarity with a 0.6 threshold (entity_linkers.py:50-70, threshold at
:58) and ScispaCy alias-embedding nearest-neighbour scores
(entity_linkers.py:25-46).  Here both become vectorized column
functions over the canonical pairs table produced by
operators/blocking.block_pairs:

- ``jaro_winkler_udf`` — Arrow-batched pandas UDF (Spark has no builtin
  JW).  Strings within a block are short surface forms, so the per-pair
  O(len^2) scan is cheap; batching amortizes serialization.
- ``cosine_sim`` — pure JVM: zip_with + aggregate, no Python at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from medtype_spark.session import live_pandas_udf


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: compare matched chars in order
    k = 0
    t = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


PREFIX_SCALE = 0.1  # Winkler's standard prefix boost per common char


def jaro_winkler(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler (common prefix boost, cap 4 chars)."""
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * PREFIX_SCALE * (1.0 - j)


def _to_char_matrix(strs) -> tuple[np.ndarray, np.ndarray]:
    """(N, Lmax) uint32 codepoint matrix (0-padded) + (N,) lengths.
    ONE bulk join+encode for the whole batch, then a C-speed scatter —
    no per-row Python beyond len()."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    lmax = int(lens.max()) if n else 0
    mat = np.zeros((n, max(lmax, 1)), dtype=np.uint32)
    total = int(lens.sum())
    if total:
        buf = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        ends = np.cumsum(lens)
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(total) - np.repeat(ends - lens, lens)
        mat[rows, cols] = buf
    return mat, lens


def batch_jaro_winkler(av, bv) -> np.ndarray:
    """Vectorized Jaro-Winkler over a batch of string pairs.

    Bit-identical to the scalar ``jaro_winkler`` (same IEEE expression
    order; property-tested for exact equality in tests/test_pipeline)
    — the batch dimension is vectorized while the greedy matching scan
    stays sequential over character positions, so per-batch cost is
    O(Lmax · Lmax · N) numpy ops instead of N interpreted inner loops.
    The scalar version remains the differential reference (q66 pins it
    against DuckDB's native implementation)."""
    n = len(av)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    a_mat, l1 = _to_char_matrix(av)
    b_mat, l2 = _to_char_matrix(bv)
    lmax1, lmax2 = a_mat.shape[1], b_mat.shape[1]
    j_idx = np.arange(lmax2)

    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    m1 = np.zeros_like(a_mat, dtype=bool)
    m2 = np.zeros_like(b_mat, dtype=bool)
    # free = unmatched AND within this row's b-string; matched slots
    # are cleared in place, so the loop body needs no validity recheck
    free = j_idx[None, :] < l2[:, None]

    for i in range(lmax1):
        active = i < l1
        if not active.any():
            break
        # |j - i| <= window covers [max(0,i-w), i+w]; the j < l2 upper
        # bound lives in `free`
        cand = (
            (np.abs(j_idx[None, :] - i) <= window[:, None])
            & free
            & (b_mat == a_mat[:, i][:, None])
        )
        found = cand.any(axis=1) & active
        jstar = cand.argmax(axis=1)
        m1[found, i] = True
        m2[found, jstar[found]] = True
        free[found, jstar[found]] = False

    matches = m1.sum(axis=1)

    # transpositions: gather each side's matched chars in order
    mmax = int(matches.max()) if n else 0
    if mmax:
        s1m = np.zeros((n, mmax), dtype=np.uint32)
        s2m = np.zeros((n, mmax), dtype=np.uint32)
        r1, c1 = np.nonzero(m1)
        s1m[r1, (np.cumsum(m1, axis=1, dtype=np.int32)[r1, c1] - 1)] = a_mat[r1, c1]
        r2, c2 = np.nonzero(m2)
        s2m[r2, (np.cumsum(m2, axis=1, dtype=np.int32)[r2, c2] - 1)] = b_mat[r2, c2]
        mcols = np.arange(mmax)[None, :] < matches[:, None]
        t = ((s1m != s2m) & mcols).sum(axis=1) // 2
    else:
        t = np.zeros(n, dtype=np.int64)

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (
            matches / l1 + matches / l2 + (matches - t) / np.maximum(matches, 1)
        ) / 3.0
    jaro = np.where(matches == 0, 0.0, jaro)
    jaro = np.where((l1 == 0) | (l2 == 0), 0.0, jaro)

    # exact-equality fast path (incl. '' == '' → 1.0, as the scalar):
    # equal strings have length ≤ min(pad widths), and both matrices
    # 0-pad beyond the string, so comparing the common width suffices
    w = min(lmax1, lmax2)
    equal = (l1 == l2) & (a_mat[:, :w] == b_mat[:, :w]).all(axis=1)
    jaro = np.where(equal, 1.0, jaro)

    # Winkler prefix boost (cap 4), only above 0.7 and for non-equal
    pmax = min(4, lmax1, lmax2)
    if pmax:
        pref_eq = a_mat[:, :pmax] == b_mat[:, :pmax]
        in_len = np.arange(pmax)[None, :] < np.minimum(l1, l2)[:, None]
        running = np.cumprod(pref_eq & in_len, axis=1).astype(bool)
        prefix = running.sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    boosted = jaro + prefix * PREFIX_SCALE * (1.0 - jaro)
    return np.where(equal, 1.0, np.where(jaro <= 0.7, jaro, boosted))


# Length-bucket boundaries for the batched kernel: its cost and memory
# are O(N·Lmax1·Lmax2) for the BATCH's max lengths, so one long outlier
# string would inflate the work for every row sharing its Arrow batch.
# Rows are grouped by max(len(a), len(b)) and each bucket runs the
# kernel at its own (much smaller) Lmax; rows beyond the last boundary
# fall back to the scalar reference kernel (identical results — the
# batch kernel is property-tested bit-equal to it).
_JW_LENGTH_BUCKETS = (16, 64, 256, 2048)


def batch_jaro_winkler_bucketed(av, bv) -> np.ndarray:
    """`batch_jaro_winkler` with length-bucketing: same results for any
    batch composition, but a long outlier only pays for itself."""
    n = len(av)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    la = np.fromiter((len(s) for s in av), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in bv), dtype=np.int64, count=n)
    bucket = np.searchsorted(np.asarray(_JW_LENGTH_BUCKETS), np.maximum(la, lb))
    for b_id in np.unique(bucket):
        idx = np.nonzero(bucket == b_id)[0]
        if b_id == len(_JW_LENGTH_BUCKETS):
            out[idx] = [jaro_winkler(av[i], bv[i]) for i in idx]
        else:
            out[idx] = batch_jaro_winkler(av[idx], bv[idx])
    return out


@live_pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    av = a.fillna("").to_numpy()
    bv = b.fillna("").to_numpy()
    return pd.Series(batch_jaro_winkler_bucketed(av, bv))


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float|double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity, 0.0 when either side is a zero vector."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
