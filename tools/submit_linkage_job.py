"""Cluster-style entrypoint for the flagship linkage job.

Ship via (from the checkout root):
  zip -r /tmp/medtype_spark.zip medtype_spark
  spark-submit --master local[8] --py-files /tmp/medtype_spark.zip \
      tools/submit_linkage_job.py --pages 1000 --entities 50 \
      --output /tmp/linkage_out

The north rule's deployment contract: the job depends only on the
shipped zip (no repo-path imports on executors).
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1000)
    ap.add_argument("--entities", type=int, default=50)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", default=None)
    ap.add_argument("--pages-table", default=None,
                    help="read the input from an Iceberg-layout pages "
                         "table (sources/pages_table.py) instead of "
                         "generating it; also writes one when --output "
                         "is set")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("linkage_job").getOrCreate()

    from medtype_spark.datagen.pages import (
        build_lexicon,
        entity_types_df,
        synth_pages,
    )
    from medtype_spark.pipeline import (
        evaluate_linkage,
        partition_metrics,
        run_linkage,
    )

    from medtype_spark.sources.pages_table import (
        read_pages_table,
        write_pages_table,
    )

    pages, gold = synth_pages(
        spark, args.pages, n_entities=args.entities, seed=args.seed
    )
    if args.pages_table:
        # persist + reread through the Iceberg-layout table so the
        # pipeline consumes a partitioned scan (pushdown-able), the
        # north-rule input shape
        write_pages_table(pages, args.pages_table)
        pages = read_pages_table(spark, args.pages_table).select(
            "url", "warc_ts", "html", "text", "lang"
        )
    lex = build_lexicon(args.entities)
    etypes = entity_types_df(spark, args.entities)
    result = run_linkage(pages, lex, etypes)

    clusters = result["clusters"]
    if args.output:
        clusters.write.mode("overwrite").parquet(f"{args.output}/clusters.parquet")
        partition_metrics(result["mentions"]).write.mode("overwrite").parquet(
            f"{args.output}/partition_metrics.parquet"
        )

    row = evaluate_linkage(clusters, gold).collect()[0]
    print(json.dumps({
        "n_pages": args.pages,
        "n_cluster_rows": clusters.count(),
        "pairwise_precision": round(row["precision"], 6),
        "pairwise_recall": round(row["recall"], 6),
        "pairwise_f1": round(row["fscore"], 6),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
