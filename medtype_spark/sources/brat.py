"""S7: Brat standoff scan (neleval/brat.py:17-115), Spark-first.

A brat directory holds one ``<docid>.ann`` file per document with
mention lines (``T<i>\\tTYPE START END\\tsurface``) and normalization
lines (``N<i>\\tReference T<i> KB:id\\t...``).  The reference globs the
directory and parses per file; here one ``spark.read.text`` over the
directory, filtered to ``*.ann`` names, scans every file
partition-parallel, with ``input_file_name()``
supplying the docid — no driver-side file loop, so a million-document
brat corpus reads like any other distributed text source.

Candidates get the mention's ne_type and score 1.0 (brat.py:12-13,
112-115); kb ids are URL-unquoted and stripped of a leading
``Wikipedia:`` namespace (brat.py:100-110).  Candidate order for a
mention with several normalizations is descending eid (deterministic)
rather than file order, which a distributed scan does not preserve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medtype_spark.evaluation.annotations import ANNOTATION_SCHEMA

SCORE = 1.0  # brat.py:13
WP = "Wikipedia:"  # brat.py:14


def read_brat_dir(spark: SparkSession, dir_path: str) -> DataFrame:
    """Annotation frame from a directory of brat ``.ann`` files."""
    lines = (
        spark.read.option("pathGlobFilter", "*.ann").text(dir_path)
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "docid",
            F.regexp_extract("_file", r"([^/]+)\.ann$", 1),
        )
        .withColumn("value", F.trim("value"))
    )
    cols = F.split("value", "\t")

    # T lines: annot_id \t "TYPE START END" \t surface (brat.py:88-93)
    tparts = F.split(F.element_at(cols, 2), " ")
    mentions = lines.where(F.col("value").startswith("T")).select(
        "docid",
        F.element_at(cols, 1).alias("annot_id"),
        F.element_at(tparts, 1).alias("ne_type"),
        F.element_at(tparts, 2).cast("long").alias("start"),
        F.element_at(tparts, 3).cast("long").alias("end"),
        F.element_at(cols, 3).alias("name"),
    )

    # N lines: norm_id \t "Reference T<i> KB:id" (brat.py:94-98).
    # split limit=3 keeps spaces inside the kb id (reference.split(' ', 2));
    # namespace strip happens BEFORE unquote (brat.py:99-100:
    # unquote(rm_namespace(kb_id))), so an encoded "Wikipedia%3A" prefix
    # is NOT stripped — parity with the reference's edge case.
    nparts = F.split(F.element_at(cols, 2), " ", 3)
    kb_raw = F.element_at(nparts, 3)
    kb_raw = F.when(
        kb_raw.startswith(WP), F.substring(kb_raw, len(WP) + 1, 1 << 20)
    ).otherwise(kb_raw)
    kb = F.url_decode(kb_raw)
    norms = lines.where(F.col("value").startswith("N")).select(
        "docid",
        F.element_at(nparts, 2).alias("annot_id"),
        kb.alias("eid"),
    )

    joined = mentions.join(norms, ["docid", "annot_id"], "left")
    grouped = (
        joined.groupBy("docid", "annot_id", "start", "end", "ne_type")
        .agg(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("eid").isNotNull(),
                            F.struct(
                                F.col("eid"),
                                F.lit(SCORE).alias("score"),
                                F.col("ne_type").alias("type"),
                            ),
                        )
                    )
                )
            ).alias("candidates")
        )
    )
    return grouped.select(
        "docid", "start", "end",
        F.col("candidates").cast(ANNOTATION_SCHEMA["candidates"].dataType).alias("candidates"),
    )
