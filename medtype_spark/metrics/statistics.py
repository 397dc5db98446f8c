"""A12/A13: server-statistics and bounded-histogram analogues, batch.

The reference's ServerStatistic tracks per-client request counts,
message-size histograms, active clients in a 3-minute window, and
last-200 inter-arrival stats (.../server/__init__.py:605-673); its
CappedHistogram LRU-bounds cardinality (server/helper.py:181-259).

Batch restatement over an event log table:
- per-key exact histograms are just groupBy counts (Spark doesn't need
  the LRU bound — the shuffle is the bound);
- where cardinality truly explodes, ``approx_count_distinct`` (HLL)
  replaces the capped dict — same intent, sublinear state;
- the sliding-window stats are in queries.q11 (window functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def request_stats(
    events: DataFrame,
    client_col: str = "user_id",
    size_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-client request statistics (ServerStatistic._update_*)."""
    return events.groupBy(client_col).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.round(F.avg(size_col), 6).alias("avg_msg_size"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
    )


def size_histogram(
    events: DataFrame,
    size_col: str = "value",
    bucket_width: float = 50.0,
) -> DataFrame:
    """Message-size histogram with fixed-width buckets (the exact
    version of CappedHistogram; no eviction needed distributed)."""
    bucket = (F.floor(F.col(size_col) / F.lit(bucket_width)) * F.lit(bucket_width))
    return events.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n")
    )
