"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship record-linkage pipeline; ``queries`` /
``oracle_sql`` expose the operator library for the driver's DuckDB
differential check (see medtype_spark/queries.py and oracles.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full blocking → pairwise scoring → transitive
    clustering pipeline over a pages table (BASELINE input_hint shape)
    derived from sf0.001 documents plus deterministic synthetic planted
    pages; returns the evaluated cluster assignments."""
    from pyspark.sql import functions as F

    from medtype_spark.datagen.pages import (
        build_lexicon,
        entity_types_df,
        synth_pages,
    )
    from medtype_spark.pipeline import run_linkage

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_pages = docs.select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><head><title>d</title></head><body><p>"),
                     F.col("text"), F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    synth, _gold = synth_pages(spark, 200, n_entities=30, seed=42)
    pages = doc_pages.unionByName(synth)

    lex = build_lexicon(30)
    etypes = entity_types_df(spark, 30)
    # cleanup: release the run's cached intermediates, so only the
    # cluster table's own checkpoint outlives the call
    result = run_linkage(pages, lex, etypes, hot_threshold=50, target_cell=25, cleanup=True)
    return result["clusters"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from medtype_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from medtype_spark.oracles import ORACLES

    return dict(ORACLES)
