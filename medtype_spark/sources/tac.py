"""S6: TAC XML+tab scan (neleval/tac.py:23-177), Spark-first.

The reference streams a queries XML (one ``<query>`` element per
mention span) and a links tab file ({qid: [(kbid, type, score)]}),
groups queries by span, pools and score-sorts the candidates of all
qids sharing a span, and emits annotation rows (``TacReader`` +
``PrepareTac``).

Spark restatement: the XML is read with ``lineSep="</query>"`` so each
input row is exactly one query element — field extraction is then four
JVM-side ``regexp_extract`` calls, no Python XML parser and no whole-
file driver read, so a 100 GB queries file scans partition-parallel.
The links file is a plain tab scan.  Grouping and candidate pooling
are one groupBy.

Divergence (documented): candidate ties on score sort by descending
eid/type instead of the reference's input-order stability — the
reference order depends on qid file order, which a distributed scan
does not preserve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medtype_spark.evaluation.annotations import ANNOTATION_SCHEMA


def read_tac_queries(spark: SparkSession, path: str) -> DataFrame:
    """(qid, docid, start, end, name) from a TAC queries XML."""
    raw = spark.read.text(path, lineSep="</query>")
    ext = lambda pat: F.regexp_extract("value", pat, 1)  # noqa: E731
    return (
        raw.where(F.col("value").contains("<query"))
        .select(
            ext(r'<query\s+id="([^"]*)"').alias("qid"),
            ext(r"<docid>(.*?)</docid>").alias("docid"),
            ext(r"<beg>(.*?)</beg>").cast("long").alias("start"),
            ext(r"<end>(.*?)</end>").cast("long").alias("end"),
            ext(r"<name>(.*?)</name>").alias("name"),
        )
    )


def read_tac_links(spark: SparkSession, path: str) -> DataFrame:
    """(qid, eid, type, score) from a TAC links tab file
    (tac.py:137-149: <3 cols skipped, 'query_id' header skipped,
    score defaults to 1.0)."""
    lines = spark.read.text(path)
    cols = F.split(F.col("value"), "\t")
    return (
        lines.where((F.size(cols) >= 3) & (F.element_at(cols, 1) != "query_id"))
        .select(
            F.element_at(cols, 1).alias("qid"),
            F.element_at(cols, 2).alias("eid"),
            F.element_at(cols, 3).alias("type"),
            F.coalesce(
                F.try_element_at(cols, F.lit(4)).cast("double"), F.lit(1.0)
            ).alias("score"),
        )
    )


def prepare_tac(
    spark: SparkSession,
    links_path: str,
    queries_path: str,
) -> DataFrame:
    """PrepareTac (tac.py:23-83): annotation frame from queries+links.

    Every query is kept (the reference's run without excluded spans,
    tac.py:68-71), and candidate ids are left verbatim, which is what
    the reference does without a redirect mapping (tac.py:86-105).

    Documented divergence: a query with no links raises ValueError in
    the reference (tac.py:72-73); here it yields an annotation with an
    EMPTY candidate list (a driver-side raise inside a distributed scan
    would need an extra validation action — callers wanting the strict
    behavior can assert ``size(candidates) > 0``).
    """
    queries = read_tac_queries(spark, queries_path)
    links = read_tac_links(spark, links_path)
    cand = queries.join(links, "qid", "left")

    # grouped_queries (tac.py:156-158): deduplicate queries by span,
    # pooling candidates of every qid that shares the span
    grouped = (
        cand.groupBy("docid", "start", "end")
        .agg(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("eid").isNotNull(),
                            F.struct("score", "eid", "type"),
                        )
                    )
                )
            ).alias("_sorted")
        )
        .select(
            "docid", "start", "end",
            F.transform(
                "_sorted",
                lambda c: F.struct(
                    c["eid"].alias("eid"),
                    c["score"].alias("score"),
                    c["type"].alias("type"),
                ),
            ).alias("candidates"),
        )
    )
    return grouped.select(
        "docid", "start", "end",
        F.col("candidates").cast(ANNOTATION_SCHEMA["candidates"].dataType).alias("candidates"),
    )
