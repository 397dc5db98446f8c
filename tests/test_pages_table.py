"""Iceberg-layout pages table: partition pruning + predicate pushdown +
column pruning actually reach the parquet scan."""

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.datagen.pages import synth_pages
from medtype_spark.sources.pages_table import read_pages_table, write_pages_table


def scan_report(df: DataFrame) -> dict:
    """Parse the formatted physical plan's scan node: which filters
    were pushed, which partition filters prune, which columns are
    actually read."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ) if hasattr(df._sc._jvm, "PythonSQLUtils") else None
    text = formatted or plan

    def grab(field):
        m = re.search(rf"{field}: \[([^\]]*)\]", text)
        return m.group(1).strip() if m else ""

    return {
        "pushed_filters": grab("PushedFilters"),
        "partition_filters": grab("PartitionFilters"),
        "read_schema": grab("ReadSchema") or (
            re.search(r"ReadSchema: (\S+)", text).group(1)
            if re.search(r"ReadSchema: (\S+)", text) else ""
        ),
        "plan": text,
    }


def test_roundtrip_and_pushdown(spark, tmp_path):
    pages, _ = synth_pages(spark, 200, n_entities=20, seed=5)
    path = str(tmp_path / "pages_tbl")
    write_pages_table(pages, path)

    tbl = read_pages_table(spark, path)
    assert tbl.count() == 200
    # hidden partition columns materialized
    assert "warc_day" in tbl.columns and "lang" in tbl.columns

    # partition pruning: the lang predicate must appear as a partition
    # filter (or prune paths), not a post-scan filter only
    q = tbl.where(F.col("lang") == "en").select("url", "text")
    rep = scan_report(q)
    assert "lang" in rep["partition_filters"] or "lang#" in rep["plan"]
    n_en = q.count()
    assert 0 < n_en < 200

    # column pruning: a 2-column projection must not read html
    assert "html" not in rep["read_schema"]
    assert "url" in rep["read_schema"] and "text" in rep["read_schema"]

    # predicate pushdown on a data column
    q2 = tbl.where(F.col("url") > "https://example.org/page/000000100").select("url")
    rep2 = scan_report(q2)
    assert "url" in rep2["pushed_filters"]


def test_partition_values_consistent(spark, tmp_path):
    pages, _ = synth_pages(spark, 60, n_entities=10, seed=6)
    path = str(tmp_path / "pages_tbl2")
    write_pages_table(pages, path)
    tbl = read_pages_table(spark, path)
    # warc_day is the Iceberg days() transform of warc_ts
    bad = tbl.where(F.to_date("warc_ts") != F.col("warc_day")).count()
    assert bad == 0
