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
3. pairs = within-cell pairs (one self-join on key and cell) + for hot
   keys only, cross-cell pairs enumerated over the (i < j) cell grid —
   every unordered intra-block pair is produced EXACTLY once
   (completeness is property-tested with a planted hot key in
   tests/test_blocking.py).  With no hot key there is no cell and no
   grid: cold blocks pair through one key self-join.

Everything is built-in DataFrame ops — the joins shuffle on
(key, salt) so no single task ever sees a whole hot block.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
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
    reserved = {"_cell", "_ncells", "_bsize"}
    clash = reserved.intersection(cols)
    if clash:
        # the salt grid overwrites these internally; a caller key named
        # "_cell" silently degrades the block join to all-pairs
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

    salted = base
    if hot:
        key_type = base.schema[key_col].dataType
        cells = F.create_map(*[
            x for k, n in hot.items() for x in (F.lit(k).cast(key_type), F.lit(n))
        ])
        salted = base.withColumn(
            "_ncells", F.coalesce(cells[F.col(key_col)], F.lit(1))
        ).withColumn(
            "_cell", F.pmod(F.xxhash64(F.col(id_col)), F.col("_ncells")).cast("int")
        )

    def side(prefix: str) -> DataFrame:
        renames = [F.col(key_col)] + [
            F.col(c).alias(f"{prefix}_{c}") for c in [id_col, *extra_cols]
        ]
        if hot:
            renames += [F.col("_cell").alias(f"{prefix}_cell"),
                        F.col("_ncells").alias(f"{prefix}_ncells")]
        return salted.select(*renames)

    a, b = side("a"), side("b")
    out_cols = [key_col] + [f"a_{c}" for c in [id_col, *extra_cols]] + [
        f"b_{c}" for c in [id_col, *extra_cols]
    ]

    # Same-cell pairs: canonical id order within the cell.  Shuffle key
    # is (key, cell) — a hot block spreads over its s cells.
    on = [a[key_col] == b[key_col], F.col(f"a_{id_col}") < F.col(f"b_{id_col}")]
    if hot:
        on.append(F.col("a_cell") == F.col("b_cell"))
    same = a.join(b, on=on).drop(b[key_col]).select(*out_cols)
    if not hot:
        return same

    # Cross-cell pairs via 2D grid replication: grid cell (i, j), i<j,
    # receives replicas of cell i (as the a side) and cell j (as the b
    # side), so the JOIN KEY is (key, i, j) — ~s²/2 keys of ~target²
    # pairs each.  The previous scheme equi-joined on the bare key with
    # a_cell < b_cell as a post-filter, which put a hot block's entire
    # (1 - 1/s) cross-cell quadratic inside ONE join partition — the
    # single-reducer bomb the salt exists to kill.  Replication factor
    # per row is (s - 1), i.e. shuffle volume stays proportional to the
    # pair output; cold blocks (s = 1) replicate nothing.
    a_rep = (
        a.where(F.col("a_cell") < F.col("a_ncells") - 1)
        .withColumn(
            "_gj",
            F.explode(F.sequence(F.col("a_cell") + 1, F.col("a_ncells") - 1)),
        )
        .withColumnRenamed("a_cell", "_gi")
        .drop("a_ncells")
    )
    b_rep = (
        b.where(F.col("b_cell") > 0)
        .withColumn("_gi", F.explode(F.sequence(F.lit(0), F.col("b_cell") - 1)))
        .withColumnRenamed("b_cell", "_gj")
        .drop("b_ncells")
    )
    cross = a_rep.join(b_rep, on=[a_rep[key_col] == b_rep[key_col],
                                  a_rep["_gi"] == b_rep["_gi"],
                                  a_rep["_gj"] == b_rep["_gj"]]).drop(
        b_rep[key_col]
    ).drop(b_rep["_gi"]).drop(b_rep["_gj"])

    # For cross-cell pairs enforce a<b by swapping where needed.
    swap_needed = F.col(f"a_{id_col}") > F.col(f"b_{id_col}")
    swapped_cols = [F.col(key_col)]
    for c in [id_col, *extra_cols]:
        swapped_cols.append(
            F.when(swap_needed, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}")
        )
    for c in [id_col, *extra_cols]:
        swapped_cols.append(
            F.when(swap_needed, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}")
        )
    cross_part = cross.select(*swapped_cols).select(*out_cols)

    return same.union(cross_part)
