"""As-of join: for each left row, the single most recent right row at
or before the left timestamp, per key.

Web-scale motivation: the pages table carries ``warc_ts`` (BASELINE
input_hint) and re-crawls of the same url across snapshots are the norm
at Common-Crawl scale; "which extraction/model-score was current when
this page was crawled" is an as-of lookup.  The reference's analogue is
its last-200 sliding server statistics (``server.py`` ServerStatistic),
which also asks "latest state at or before t" — here generalised to a
keyed two-table join.

Spark-first plan — the UNION-TAG + single-window formulation:

* tag right rows side=0 and left rows side=1, union them;
* ONE shuffle on the join key, then a running ``last(right_payload,
  ignorenulls=True)`` ordered by (ts, side) carries the most recent
  right payload forward onto each left row;
* filter back to side=1.

Compare the naive formulations this replaces: a range join
(``l.ts >= r.ts`` theta-join) explodes to O(|L|·|R|) per key before a
row_number prune, and a per-left-row correlated subquery is O(|L|·|R|)
driver-side.  The union-window plan is O((|L|+|R|) log) within each
key partition, a single shuffle, no explosion — the same shape Spark
itself uses for SPARK-22947-style as-of proposals and what pandas
``merge_asof`` does per-group.  Skewed keys degrade to a single
partition's sort, never to a cross product.

Ties: right rows sharing (key, ts) are deterministically reduced to
the one with the greatest ``tiebreak`` BEFORE the window (so the
result is a function of the data, not of partitioning); a right row
with ts equal to the left ts matches.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join.

    Every ``left`` row is returned once, with ``payload_cols`` from the
    latest ``right`` row of the same ``on`` key whose ``right_ts`` is
    <= ``left_ts``, or NULLs when no such row exists.
    ``tiebreak`` (default: ``right_ts``) resolves duplicate
    (key, right_ts) rows to the max-tiebreak row.
    """
    tb = tiebreak or right_ts

    # Deterministic pre-reduction of right-side ties: one row per
    # (key, ts), keeping the max tiebreak.  Map-side combinable.
    struct_fields = [tb] + [c for c in payload_cols if c != tb]
    r_dedup = (
        right.groupBy(F.col(on), F.col(right_ts).alias("_ts"))
        .agg(F.max(F.struct(*[F.col(c) for c in struct_fields])).alias("_s"))
        .select(
            F.col(on),
            F.col("_ts"),
            F.struct(*[F.col(f"_s.{c}").alias(c) for c in payload_cols]).alias(
                "_payload"
            ),
        )
        .withColumn("_side", F.lit(0))
    )

    l_tag = (
        left.withColumn("_ts", F.col(left_ts))
        .withColumn("_payload", F.lit(None).cast(r_dedup.schema["_payload"].dataType))
        .withColumn("_side", F.lit(1))
    )
    left_cols = [c for c in left.columns]

    r_aligned = r_dedup.select(
        *[
            F.col(c) if c == on else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
        ],
        "_ts",
        "_payload",
        "_side",
    )
    unioned = l_tag.select(*left_cols, "_ts", "_payload", "_side").unionByName(
        r_aligned
    )

    # right (side 0) sorts before left (side 1) at equal ts, so an
    # equal-ts right row is visible to the left row
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w)
    )

    out = carried.where(F.col("_side") == 1).select(
        *left_cols,
        *[F.col(f"_match.{c}").alias(c) for c in payload_cols],
    )
    return out
