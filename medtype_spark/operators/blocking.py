"""Skew-aware within-block pair generation.

The analogue of the reference's candidate generation: QuickUMLS blocks
the UMLS lexicon by n-gram similarity before scoring
(medtype-as-service/server/medtype_serving/server/entity_linkers.py:50-70),
and the serving layer routes hot traffic specially
(.../server/__init__.py:128-131, 204-207).  At 10^12-doc scale a hot
blocking key (a common surface form like "apple") turns the within-block
self-join into a single-reducer quadratic bomb, so:

1. one aggregate finds the *hot* keys, those with more than
   ``hot_threshold`` members, and collects them to the driver: at most
   rows / ``hot_threshold`` keys, NULL keys excluded;
2. members of a hot key get a deterministic salt cell in [0, s) with
   s = ceil(count / target), looked up in a literal map; every other
   key has one cell;
3. one equi-join on the key names yields every pair.  With no hot
   key it joins on the key alone: one self-join, no cell, no grid.
   Otherwise each member is replicated onto the (i <= j) cell grid of
   its block and the join is on (key, i, j): every unordered
   intra-block pair, same-cell or cross-cell, is produced EXACTLY once
   (completeness is property-tested with a planted hot key in
   tests/test_blocking.py).

Everything is built-in DataFrame ops — the join shuffles on
(key, i, j) so no single task ever sees a whole hot block.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def block_pairs(
    df: DataFrame,
    key_col: str = "block_key",
    id_col: str = "mention_key",
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    extra_cols: list[str] | None = None,
    persist_registry: list | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """All unordered within-block pairs, salted for hot keys.

    Returns DataFrame(key_col, a_<id>, b_<id> [, a_/b_ extra cols]) with
    ``a < b`` canonical order; rows with a NULL key pair with nothing.
    ``stats``: optional dict, filled in place from the hot-key set
    (no extra job): ``salted_blocks`` (keys above ``hot_threshold``)
    and ``max_cells`` (the most salt cells of any key, 1 if none).
    """
    extra_cols = extra_cols or []
    cols = [key_col, id_col, *extra_cols]
    clash = {"_gi", "_gj"}.intersection(cols)
    if clash:
        # the salt grid writes these; a caller column of the same name
        # would be overwritten and the block join degrade
        raise ValueError(f"block_pairs reserved column name(s) in input: {clash}")
    # Consumed three times (hot-key aggregate + both join sides);
    # persist it so upstream stages (UDF scans, joins) run once.
    # MEMORY_AND_DISK: spills instead of OOM at scale.
    base = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    if persist_registry is not None:
        persist_registry.append(base)

    # NULL keys never join, and a NULL map key is an error
    hot = {
        r[0]: math.ceil(r[1] / target_cell)
        for r in base.where(F.col(key_col).isNotNull())
        .groupBy(key_col).agg(F.count(F.lit(1)).alias("_bsize"))
        .where(F.col("_bsize") > hot_threshold).collect()
    }
    if stats is not None:
        stats["salted_blocks"] = len(hot)
        stats["max_cells"] = max(hot.values(), default=1)

    def side(prefix: str) -> DataFrame:
        return base.select(F.col(key_col), *[
            F.col(c).alias(f"{prefix}_{c}") for c in [id_col, *extra_cols]
        ])

    a, b = side("a"), side("b")
    a_id, b_id = F.col(f"a_{id_col}"), F.col(f"b_{id_col}")
    if not hot:
        return a.join(b, [key_col]).where(a_id < b_id)

    # A member of cell c of a block's s cells is the a side of grid
    # cells (c, j >= c) and the b side of (i <= c, c), so the join on
    # (key, i, j) meets a cross-cell pair once, at (min cell, max
    # cell), and a same-cell pair once, at (c, c), where only a < b is
    # kept.  Each member ships s + 1 rows over both sides, and a hot
    # block spreads over s(s+1)/2 join keys of ~target² pairs each.
    key_type = base.schema[key_col].dataType
    cells = F.create_map(*[
        x for k, n in hot.items() for x in (F.lit(k).cast(key_type), F.lit(n))
    ])
    n_cells = F.coalesce(cells[F.col(key_col)], F.lit(1))

    def cell(id_: Column) -> Column:
        return F.pmod(F.xxhash64(id_), n_cells).cast("int")

    a = a.withColumn("_gi", cell(a_id)).withColumn(
        "_gj", F.explode(F.sequence(F.col("_gi"), n_cells - 1)))
    b = b.withColumn("_gj", cell(b_id)).withColumn(
        "_gi", F.explode(F.sequence(F.lit(0), F.col("_gj"))))
    pairs = a.join(b, [key_col, "_gi", "_gj"]).where(
        (F.col("_gi") < F.col("_gj")) | (a_id < b_id))

    # A cross-cell pair comes in either id order: swap it into a < b.
    swap = a_id > b_id
    return pairs.select(key_col, *[
        F.when(swap, F.col(f"{y}_{c}")).otherwise(F.col(f"{x}_{c}")).alias(f"{x}_{c}")
        for x, y in (("a", "b"), ("b", "a")) for c in [id_col, *extra_cols]
    ])
