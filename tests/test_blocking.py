"""Salted within-block pair generation: completeness & uniqueness.

The classic silent failure mode is a salted hot block dropping (or
duplicating) cross-cell pairs — SURVEY.md §7 "hard parts" #2.  We
plant a hot key and compare against the exact n*(n-1)/2 enumeration.
"""

import itertools
import math

import pytest
from pyspark.sql import functions as F

from medtype_spark.operators.blocking import block_pairs


def _expected_pairs(rows):
    by_key = {}
    for key, mid in rows:
        by_key.setdefault(key, []).append(mid)
    want = set()
    for key, ids in by_key.items():
        for a, b in itertools.combinations(sorted(ids), 2):
            want.add((key, a, b))
    return want


def _got_pairs(df):
    return {
        (r["block_key"], r["a_mention_key"], r["b_mention_key"])
        for r in df.collect()
    }


def test_unsalted_small_blocks(spark):
    rows = [("k1", f"a{i}") for i in range(5)] + [("k2", f"b{i}") for i in range(3)] + [("k3", "solo")]
    df = spark.createDataFrame(rows, ["block_key", "mention_key"])
    got = _got_pairs(block_pairs(df))
    assert got == _expected_pairs(rows)


@pytest.mark.parametrize("n_hot, key, extra", [
    (120, "hot", False),  # 120 = 12 * target_cell: the cell count is exact
    (127, "hot", False),  # a ragged last cell
    (95, 7, False),       # integer key: the cell map's keys are cast to it
    (64, "hot", True),    # 7 cells, payloads swapped with their ids
], ids=["exact_multiple", "ragged", "int_key", "extra_cols"])
def test_salted_hot_key_exact_cover(spark, n_hot, key, extra):
    # a hot key forced into ceil(n_hot / 10) salt cells, beside a cold one
    cold = 3 if isinstance(key, int) else "cold"
    rows = [(key, f"m{i:03d}") for i in range(n_hot)] + [(cold, f"c{i}") for i in range(4)]
    schema = f"block_key {'int' if isinstance(key, int) else 'string'}, mention_key string"
    extra_cols = None
    if extra:
        rows = [(k, m, f"p-{m}") for k, m in rows]
        schema += ", payload string"
        extra_cols = ["payload"]
    df = spark.createDataFrame(rows, schema)
    stats = {}
    out = block_pairs(df, hot_threshold=50, target_cell=10, extra_cols=extra_cols,
                      stats=stats)
    got = _got_pairs(out)
    want = _expected_pairs([r[:2] for r in rows])
    assert got == want  # every unordered pair exactly once
    # and no duplicates at all
    assert out.count() == len(want)
    assert stats == {"salted_blocks": 1, "max_cells": math.ceil(n_hot / 10)}
    if extra:
        assert stats["max_cells"] > 2
        for r in out.collect():
            assert r["a_payload"] == f"p-{r['a_mention_key']}"
            assert r["b_payload"] == f"p-{r['b_mention_key']}"


def _plan_nodes(df):
    """Node names of the optimized logical plan, one per tree line."""
    tree = df._jdf.queryExecution().optimizedPlan().toString()
    return [line.lstrip(" :+-|").split(" ")[0] for line in tree.splitlines()]


def test_cold_blocks_pair_through_one_self_join(spark):
    """No key above hot_threshold: no salt cell and no cross-cell grid,
    so the plan is one key self-join with no Generate (explode)."""
    rows = [("k1", f"a{i}") for i in range(5)] + [("k2", f"b{i}") for i in range(3)]
    df = spark.createDataFrame(rows, ["block_key", "mention_key"])
    stats = {}
    out = block_pairs(df, hot_threshold=50, target_cell=10, stats=stats)
    nodes = _plan_nodes(out)
    assert nodes.count("Join") == 1, nodes
    assert "Generate" not in nodes, nodes
    assert _got_pairs(out) == _expected_pairs(rows)
    assert stats == {"salted_blocks": 0, "max_cells": 1}


def test_salted_blocks_pair_through_one_join(spark):
    """A hot key salts its block onto the (i <= j) cell grid, and one
    join on (key, i, j) yields same-cell and cross-cell pairs alike:
    no second join and no Union."""
    rows = [("hot", f"m{i:03d}") for i in range(120)]
    df = spark.createDataFrame(rows, ["block_key", "mention_key"])
    stats = {}
    out = block_pairs(df, hot_threshold=50, target_cell=10, stats=stats)
    nodes = _plan_nodes(out)
    assert nodes.count("Join") == 1, nodes
    assert "Union" not in nodes, nodes
    assert _got_pairs(out) == _expected_pairs(rows)
    assert stats == {"salted_blocks": 1, "max_cells": 12}


def test_reserved_key_name_is_rejected(spark):
    """The grid columns would overwrite a caller column of the same
    name, so block_pairs refuses it up front."""
    df = spark.createDataFrame([("k", "a"), ("k", "b")], ["_gi", "mention_key"])
    with pytest.raises(ValueError, match="_gi"):
        block_pairs(df, key_col="_gi")


def test_null_keys_pair_with_nothing(spark):
    """NULL block keys form no block, even a NULL group above
    hot_threshold: no error (a NULL map key would raise) and no pairs,
    on both the cold plan and the salted one."""
    rows = ([(None, f"n{i:03d}") for i in range(60)]
            + [("k", f"a{i}") for i in range(4)])
    df = spark.createDataFrame(rows, "block_key string, mention_key string")
    want = _expected_pairs([r for r in rows if r[0] is not None])
    stats = {}
    assert _got_pairs(block_pairs(df, hot_threshold=50, target_cell=10, stats=stats)) == want
    assert stats["salted_blocks"] == 0
    hot = rows + [("hot", f"h{i:03d}") for i in range(60)]
    df = spark.createDataFrame(hot, "block_key string, mention_key string")
    want = _expected_pairs([r for r in hot if r[0] is not None])
    stats = {}
    assert _got_pairs(block_pairs(df, hot_threshold=50, target_cell=10, stats=stats)) == want
    assert stats == {"salted_blocks": 1, "max_cells": 6}


def test_salted_hot_key_pairs_are_distributed(spark):
    """The hot block's pairs must NOT all land in one shuffle partition:
    the join keys on (key, grid_i, grid_j), so with AQE
    coalescing disabled the pair rows should span many partitions."""
    rows = [("hot", f"m{i:03d}") for i in range(120)]
    df = spark.createDataFrame(rows, ["block_key", "mention_key"])
    # force the at-scale plan shape: shuffle join (no broadcast of the
    # tiny test table), no AQE partition coalescing
    overrides = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        out = block_pairs(df, hot_threshold=50, target_cell=10)
        per_part = (
            out.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    total = sum(r["n"] for r in per_part)
    assert total == 120 * 119 // 2
    # 12 cells → 78 grid keys (i <= j); no partition
    # may hold the whole block's quadratic
    assert len(per_part) > 4
    assert max(r["n"] for r in per_part) < 0.5 * total


def test_extra_cols_carried_and_swapped(spark):
    rows = [("k", "id2", "v2"), ("k", "id1", "v1")]
    df = spark.createDataFrame(rows, ["block_key", "mention_key", "payload"])
    out = block_pairs(df, extra_cols=["payload"], hot_threshold=1, target_cell=1)
    res = out.collect()
    assert len(res) == 1
    r = res[0]
    assert (r["a_mention_key"], r["a_payload"]) == ("id1", "v1")
    assert (r["b_mention_key"], r["b_payload"]) == ("id2", "v2")


def test_batch_jaro_winkler_bitwise_equals_scalar():
    """The vectorized JW kernel must be BIT-identical to the scalar
    reference (which q66 pins against DuckDB's native implementation):
    same IEEE expression order, same greedy matching, same edge cases
    (empty strings, equality, unicode, long transposed strings)."""
    import random as _random

    import numpy as np

    from medtype_spark.operators.pairs import batch_jaro_winkler, jaro_winkler

    rng = _random.Random(99)
    alphabet = "abcdefg αβγ💡-"
    cases = ["", "a", "ab", "martha", "marhta", "dixon", "dicksonx",
             "jellyfish", "smellyfish", "💡💡a", "a💡💡"]
    for _ in range(600):
        n = rng.randint(0, 12)
        cases.append("".join(rng.choice(alphabet) for _ in range(n)))
    pairs = [(rng.choice(cases), rng.choice(cases)) for _ in range(3000)]
    pairs += [(c, c) for c in cases]

    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    got = batch_jaro_winkler(av, bv)
    for i, (a, b) in enumerate(pairs):
        want = jaro_winkler(a, b)
        assert got[i] == want, (a, b, got[i], want)


def test_batch_jaro_winkler_known_values():
    """Published JW examples (Winkler 1990) as sanity anchors."""
    import numpy as np

    from medtype_spark.operators.pairs import batch_jaro_winkler

    got = batch_jaro_winkler(
        np.array(["martha", "dixon", "abc"], dtype=object),
        np.array(["marhta", "dicksonx", "abc"], dtype=object),
    )
    assert abs(got[0] - 0.9611111111111111) < 1e-12
    assert abs(got[1] - 0.8133333333333332) < 1e-12
    assert got[2] == 1.0


def test_batch_jaro_winkler_adversarial_classes():
    """Explicit adversarial classes beyond the random corpus: empty /
    1-char strings, all-same-char runs (pathological transposition
    paths), lengths > 255 (the matrix is uint32, not uint8 — prove no
    width overflow), and non-BMP codepoints (the utf-32-le path must
    be exact on astral-plane chars).  Bit-equality against the scalar
    reference for every pair, through BOTH the plain and the
    length-bucketed kernel (a long outlier sharing a batch with short
    strings must not change any result)."""
    import numpy as np

    from medtype_spark.operators.pairs import (
        batch_jaro_winkler,
        batch_jaro_winkler_bucketed,
        jaro_winkler,
    )

    long_a = "x" * 300
    long_b = "x" * 299 + "y"
    astral = "\U0001f4a1\U0001f600\U00010000"
    cases = [
        "", "a", "b", "aa", "ab",
        "a" * 7, "a" * 8, "a" * 255, "a" * 256, "a" * 257,
        long_a, long_b, long_a + long_b,
        "ab" * 150, "ba" * 150,             # long transposed runs
        astral, astral * 100, astral[::-1],
        "\U0001f4a1", "a\U0001f4a1" * 128,
        "￿", "\U00010000",             # BMP/astral boundary
    ]
    pairs = [(a, b) for a in cases for b in cases]
    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    want = np.array([jaro_winkler(a, b) for a, b in pairs])
    got_plain = batch_jaro_winkler(av, bv)
    got_bucketed = batch_jaro_winkler_bucketed(av, bv)
    bad = np.nonzero(got_plain != want)[0]
    assert bad.size == 0, [(pairs[i], got_plain[i], want[i]) for i in bad[:5]]
    bad = np.nonzero(got_bucketed != want)[0]
    assert bad.size == 0, [(pairs[i], got_bucketed[i], want[i]) for i in bad[:5]]


def test_batch_jaro_winkler_bucketed_outlier_isolation():
    """A single >2048-char outlier routes to the scalar fallback and
    short rows keep batched results — mixed batch, exact everywhere."""
    import numpy as np

    from medtype_spark.operators.pairs import (
        batch_jaro_winkler_bucketed,
        jaro_winkler,
    )

    outlier = "q" * 5000
    av = np.array(["martha", outlier, "", "dixon"], dtype=object)
    bv = np.array(["marhta", outlier[:-1] + "z", "x", "dicksonx"], dtype=object)
    got = batch_jaro_winkler_bucketed(av, bv)
    for i in range(len(av)):
        assert got[i] == jaro_winkler(av[i], bv[i])
