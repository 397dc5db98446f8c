"""The pages table (BASELINE input_hint shape) as an Iceberg-layout
partitioned table, with scan-pushdown verification.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages (url, warc_ts, html, text, lang)".  This container ships no
Iceberg runtime jar, so the writer targets the real
``format("iceberg")`` when a catalog is configured and otherwise
produces the equivalent HIDDEN-PARTITIONED parquet layout: partition
columns derived from the data (``lang`` + ``days(warc_ts)`` — the
classic Iceberg partition transforms) so partition pruning and
predicate pushdown behave identically.  Swapping in a real catalog
changes only ``_iceberg_available``.

The tests read PushedFilters / PartitionFilters / ReadSchema from the
formatted plan of a scan of this table: the evidence that a filter
reaches the scan and a projection prunes columns (a scan that reads
all columns for a 2-column projection is wrong at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COLS = ("lang", "warc_day")


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def write_pages_table(pages: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the pages table hidden-partitioned by (lang, days(warc_ts))."""
    spark = pages.sparkSession
    out = pages.withColumn("warc_day", F.to_date("warc_ts"))
    if _iceberg_available(spark):  # pragma: no cover - no jar in container
        (out.writeTo(path).partitionedBy("lang", "warc_day").createOrReplace())
        return
    out.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)


def read_pages_table(spark: SparkSession, path: str) -> DataFrame:
    if _iceberg_available(spark):  # pragma: no cover
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)

