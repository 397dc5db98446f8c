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


def request_stats(events: DataFrame) -> DataFrame:
    """Per-client request statistics (ServerStatistic._update_*) over
    an event log (user_id, value = message size, ts)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.round(F.avg("value"), 6).alias("avg_msg_size"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


def size_histogram(events: DataFrame) -> DataFrame:
    """Message-size histogram of ``value`` with 50-wide buckets (the
    exact version of CappedHistogram; no eviction needed distributed)."""
    bucket = (F.floor(F.col("value") / F.lit(50.0)) * F.lit(50.0))
    return events.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n")
    )
