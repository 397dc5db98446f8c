"""Partition-parallel global ranking (no single-task global windows).

``Window.orderBy(...)`` without a ``partitionBy`` funnels the entire
dataset through ONE task — fine at test scale, fatal at 100 TB.  This
module provides the scale-safe equivalent:

1. range-repartition on the order columns (Spark samples split points,
   so partitions are balanced) and materialize once (localCheckpoint —
   the split points are sampled per-job, so the frame must be pinned to
   keep the offsets job and the consumer job consistent);
2. one tiny aggregate job collects per-partition row counts (plus any
   requested running-sum columns) — one row PER PARTITION, never per
   data row;
3. prefix-sum the offsets on the driver (partition-count-sized) and
   broadcast-join them back;
4. global rank = partition offset + intra-partition row_number, where
   the window is partitioned by partition id — every task ranks only
   its own partition.

The result is exactly the global ``row_number() over (order by ...)``
(deterministic when the order columns are a total order), computed with
per-partition parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_k",
    cum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Append a 1-based global rank over ``order_cols`` (list of Column
    sort expressions, e.g. [F.desc("score"), F.asc("id")]), ranged over
    max(defaultParallelism, 2) partitions.

    ``cum_cols``: optional {source_col: out_col} running sums — out_col
    holds the global cumulative sum of source_col over the rank order,
    INCLUDING the current row (the AP use case).
    """
    cum_cols = cum_cols or {}
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 2)

    part = (
        df.repartitionByRange(n, *order_cols)
        .localCheckpoint()  # pin sampled range boundaries across jobs
        .withColumn("_pid", F.spark_partition_id())
    )

    stats = (
        part.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(src).alias(f"_s_{src}") for src in cum_cols],
        )
        .collect()
    )
    stats.sort(key=lambda r: r["_pid"])
    offsets, run_n = [], 0
    run_s = {src: 0.0 for src in cum_cols}
    for r in stats:
        offsets.append((r["_pid"], run_n, *[float(run_s[src]) for src in cum_cols]))
        run_n += r["_n"]
        for src in cum_cols:
            run_s[src] += float(r[f"_s_{src}"] or 0.0)

    fields = [T.StructField("_pid", T.IntegerType())] + [
        T.StructField("_off_n", T.LongType())
    ] + [T.StructField(f"_off_{src}", T.DoubleType()) for src in cum_cols]
    off_df = spark.createDataFrame(offsets, T.StructType(fields))

    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = part.join(F.broadcast(off_df), "_pid").withColumn(
        rank_col, F.col("_off_n") + F.row_number().over(w)
    )
    for src, dst in cum_cols.items():
        out = out.withColumn(
            dst,
            F.col(f"_off_{src}")
            + F.sum(F.col(src).cast("double")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    drop = ["_pid", "_off_n"] + [f"_off_{src}" for src in cum_cols]
    return out.drop(*drop)
