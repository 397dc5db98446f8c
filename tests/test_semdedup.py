"""similarity/semdedup.py — SemDedup semantic deduplication."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from medtype_spark.similarity.knn import md5_centroids
from medtype_spark.similarity.semdedup import semantic_dedup

DIM = 8
N_CELLS = 4


def _corpus(n=200, seed=11, n_groups=30):
    """Integer-quantized embeddings with planted near-dup groups:
    group members = base vector + tiny integer jitter (cosine ~ 1)."""
    rs = np.random.RandomState(seed)
    rows = []
    vid = 0
    for g in range(n_groups):
        base = rs.randint(-50, 51, size=DIM).astype(float)
        while np.linalg.norm(base) < 30:  # keep jitter angle tiny
            base = rs.randint(-50, 51, size=DIM).astype(float)
        for _ in range(rs.randint(1, 5)):
            jit = base + rs.randint(-1, 2, size=DIM)
            rows.append((vid, [float(x) for x in jit]))
            vid += 1
            if vid >= n:
                return rows
    while vid < n:
        rows.append((vid, [float(x) for x in rs.randint(-50, 51, size=DIM)]))
        vid += 1
    return rows


def _python_reference(rows, cents, threshold):
    """Within-cell brute force + transitive closure, min-id canonical."""
    x = np.array([v for _, v in rows])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    xn = x / norms
    cell = (xn @ cents.T).argmax(1)
    parent = list(range(len(rows)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if cell[i] != cell[j]:
                continue
            if float(xn[i] @ xn[j]) >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp = {}
    for i in range(len(rows)):
        comp[rows[i][0]] = rows[find(i)][0]
    # path-compress to true minimum via iteration order (ids are 0..n)
    return {vid: comp[vid] for vid, _ in rows}, cell


@pytest.fixture(scope="module")
def dedup_result(spark):
    rows = _corpus()
    cents = md5_centroids(DIM, N_CELLS)
    df = spark.createDataFrame([Row(vec_id=v, embedding=e) for v, e in rows])
    got = semantic_dedup(df, cents, threshold=0.99).collect()
    return rows, cents, got


def test_matches_python_reference(dedup_result):
    rows, cents, got = dedup_result
    want, cell = _python_reference(rows, cents, 0.99)
    gmap = {r.vec_id: r.canonical_id for r in got}
    assert gmap == want
    # cells agree with the numpy argmax
    cmap = {r.vec_id: r.cell for r in got}
    assert cmap == {rows[i][0]: int(cell[i]) for i in range(len(rows))}


def test_shape_invariants(dedup_result):
    rows, _, got = dedup_result
    assert len(got) == len(rows)  # every row labeled exactly once
    by_comp = {}
    for r in got:
        by_comp.setdefault(r.canonical_id, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.vec_id for m in members)  # min-id canonical
        assert sum(m.is_canonical for m in members) == 1
        assert all(m.group_size == len(members) for m in members)
    # dedup actually fires: planted jitter groups collapse
    assert any(len(m) > 1 for m in by_comp.values())
