"""Cluster-style entrypoint for the flagship linkage job.

Ship via (from the checkout root):
  zip -r /tmp/medtype_spark.zip medtype_spark
  spark-submit --master local[8] --py-files /tmp/medtype_spark.zip \\
      tools/submit_linkage_job.py --pages 1000 --entities 50 \\
      --output /tmp/linkage_out

The north rule's deployment contract: the job depends only on the
shipped zip (no repo-path imports on executors).

With ``--output`` the job runs the resumable flagship
(``plans.checkpoints.run_linkage_checkpointed``) with ``--output`` as
its workdir, any path Spark can write (a local directory under a local
master; ``hdfs://``, ``s3a://`` and the like on a cluster).  It prints
one JSON line of pairwise P/R/F against the planted gold.  ``--output``
then holds one directory per stage:

  <output>/010_mentions/{data,_MANIFEST.json}   mention table
  <output>/020_edges/{data,_MANIFEST.json}      form graph (src, dst)
  <output>/030_clusters/{data,_MANIFEST.json}   (mention_key, entity_cluster)

Each ``data`` is parquet; each ``_MANIFEST.json`` records the stage's
row count, schema, per-partition row counts and fingerprint.  To
resume a killed job, run the same command into the same ``--output``:
every stage whose manifest committed is read back instead of
recomputed.  The first stage's fingerprint carries a digest of the
pages and the lexicon, so a run with other ``--pages``/``--entities``/
``--seed`` into the same ``--output`` recomputes every stage.
Without ``--output`` there is nothing to resume: the job runs
``pipeline.run_linkage`` and writes nothing.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1000)
    ap.add_argument("--entities", type=int, default=50)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", default=None,
                    help="workdir of the resumable stages")
    ap.add_argument("--pages-table", default=None,
                    help="write the generated pages to an Iceberg-layout "
                         "pages table (sources/pages_table.py) at this "
                         "path and read the job's input back from it")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("linkage_job").getOrCreate()

    from medtype_spark.datagen.pages import (
        build_lexicon,
        entity_types_df,
        synth_pages,
    )
    from medtype_spark.pipeline import evaluate_linkage, run_linkage
    from medtype_spark.plans.checkpoints import run_linkage_checkpointed
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

    if args.output:
        clusters = run_linkage_checkpointed(spark, pages, lex, args.output)
    else:
        clusters = run_linkage(
            pages, lex, entity_types_df(spark, args.entities))["clusters"]
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
