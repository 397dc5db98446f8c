"""Deterministic hash-based sampling and train/val/test splitting.

Web-scale motivation: a 10^12-document training-data pipeline cannot
use ``df.sample()`` for anything that must be REPRODUCIBLE across
reruns, resumable jobs, or engines — Spark's sampler is seeded per
partition, so the sampled set changes with the physical layout.  The
standard fix is content-keyed Bernoulli sampling: hash a stable key,
keep rows whose hash falls below a threshold.  The same mechanism
assigns train/validation/test splits that survive re-partitioning,
incremental ingestion, and engine migration (the DuckDB oracle replays
the identical selection).

Implementation notes:

* md5 is used (not Spark's ``hash()``/xxhash64) because its output is
  engine-portable — a hex string every engine renders identically —
  and the selection must be replayable outside Spark.
* The threshold is expressed as a HEX PREFIX compared
  lexicographically: ``md5(key) < '3333…'`` keeps ≈ 0x3333/0x10000 =
  20% of keys.  Lexicographic comparison of same-length lowercase hex
  strings equals numeric comparison of the underlying nibbles, so no
  integer parsing (and no engine-specific hex→int cast) is needed.
* Pure JVM expressions — narrow projection + filter, fully
  pushdown-friendly, no shuffle, no UDF.

Reference parity: the reference samples evaluation subsets with
Python's seeded ``random`` (trainer dataloaders); this is the
layout-independent distributed equivalent.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PREFIX_LEN = 4  # 16 bits of the digest: rate granularity 1/65536


def _bucket(key: Column, salt: str) -> Column:
    """First PREFIX_LEN lowercase-hex chars of md5(salt || key)."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, PREFIX_LEN)


def rate_to_threshold(rate: float) -> str:
    """Hex-prefix threshold keeping ≈ ``rate`` of uniformly hashed keys."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    n = int(round(rate * (16 ** PREFIX_LEN)))
    if n >= 16 ** PREFIX_LEN:
        # sentinel above every hex bucket ('z' > 'f' in ASCII): keep all
        return "z" * PREFIX_LEN
    return format(n, f"0{PREFIX_LEN}x")


def hash_sample_flag(key: Column, rate: float, salt: str = "") -> Column:
    """Boolean column: would this key be kept at ``rate``?"""
    return _bucket(key, salt) < F.lit(rate_to_threshold(rate))


def stratified_take(
    df: DataFrame,
    key: str,
    strata: Sequence[str],
    k: int,
) -> DataFrame:
    """Deterministic exactly-k-per-stratum sample.

    Rows are ranked within each stratum by (md5 bucket of the key,
    key) — an order that is uniform-pseudorandom yet a pure function of
    the data — and the first ``k`` survive.  The classic "N exemplar
    documents per language / per domain" pipeline stage, without
    ``df.sample()``'s layout dependence and without a global sort (one
    shuffle on the strata, rank within partition).

    Returns the input plus ``strat_rank`` (1-based), filtered to <= k.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata).orderBy(
        _bucket(F.col(key), ""), F.col(key)
    )
    return (
        df.withColumn("strat_rank", F.row_number().over(w))
        .where(F.col("strat_rank") <= k)
    )


def hash_split(df: DataFrame, key: str) -> DataFrame:
    """Assign every row a ``split`` label, train/val/test at
    80/10/10%, by hash-bucket range; test absorbs the rounding
    remainder.  Assignment is a pure function of the key — a document
    keeps its split across reruns and incremental loads, which is what
    prevents train/test leakage in a growing corpus.
    """
    bucket = _bucket(F.col(key), "")
    return df.withColumn(
        "split",
        F.when(bucket < F.lit(rate_to_threshold(0.8)), F.lit("train"))
        .when(bucket < F.lit(rate_to_threshold(0.9)), F.lit("val"))
        .otherwise(F.lit("test")),
    )
