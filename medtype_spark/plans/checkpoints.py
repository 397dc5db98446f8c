"""Stage-manifest checkpointing: resume-from-checkpoint after loss.

The north rule requires the pipeline to be "resumable from checkpoint
with per-partition lineage + metrics".  The reference's analogues are
the trainer's --restore checkpoint loading
(medtype-trainer/medtype.py:172-214) and the idempotent skip-if-output-
exists checks (dump_linkers_output.py:12-13).

Design (object-store friendly):
- each named stage writes its output DataFrame as parquet under
  ``<workdir>/<stage>/data`` and then atomically writes
  ``<workdir>/<stage>/_MANIFEST.json`` recording row count, schema,
  per-partition row counts (the lineage/metrics table), and the
  upstream stage names + their manifest fingerprints;
- on re-run, a stage whose manifest exists AND whose upstream
  fingerprints match is loaded from parquet instead of recomputed —
  so a killed job resumes at the first incomplete stage;
- fingerprints chain (like a Merkle list), so changing an upstream
  stage invalidates everything downstream, never silently reusing
  stale data.

Parquet round-trips also truncate lineage exactly where
``localCheckpoint`` would, but survive driver loss.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageCheckpointer:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str):
        d = os.path.join(self.workdir, stage)
        return d, os.path.join(d, "data"), os.path.join(d, "_MANIFEST.json")

    def _read_manifest(self, stage: str) -> dict | None:
        _, _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def fingerprint(self, stage: str) -> str | None:
        m = self._read_manifest(stage)
        return m["fingerprint"] if m else None

    def stage(
        self,
        name: str,
        build_fn,
        upstream: list[str] | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Return the stage output, recomputing only if needed.

        ``build_fn()`` produces the DataFrame; ``upstream`` names the
        stages it consumes (their fingerprints are chained into this
        stage's manifest).  ``params`` are the caller's build parameters
        (e.g. hot_threshold) — folded into the fingerprint so a rerun
        with different settings NEVER resumes from stale parquet.
        """
        upstream = upstream or []
        params_key = json.dumps(params or {}, sort_keys=True, default=str)
        up_fps = {u: self.fingerprint(u) for u in upstream}
        m = self._read_manifest(name)
        _, data_path, mpath = self._paths(name)
        resumable = (
            m is not None
            and m.get("upstream") == up_fps
            and m.get("params") == params_key
            and all(v is not None for v in up_fps.values())
        )
        if resumable:
            return self.spark.read.parquet(data_path)

        df = build_fn()
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)

        # One pass collects the per-partition lineage table AND an
        # order-insensitive content digest (sum of xxhash64 over whole
        # rows) — so identical row count
        # + schema with different DATA still invalidates downstream.
        from pyspark.sql.types import MapType

        hashable = [
            f.name for f in out.schema.fields
            if not isinstance(f.dataType, MapType)  # maps are unhashable
        ]
        part_rows = (
            out.withColumn("_pid", F.spark_partition_id())
            .withColumn(
                "_h", F.xxhash64(*[F.col(c) for c in hashable]).cast("decimal(38,0)")
            )
            .groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("_h").alias("h"))
            .select(F.col("_pid").alias("partition_id"), "n_rows", "h")
            .collect()
        )
        part_metrics = [
            {"partition_id": r["partition_id"], "n_rows": r["n_rows"]}
            for r in part_rows
        ]
        n_rows = sum(p["n_rows"] for p in part_metrics)
        content_digest = str(sum(int(r["h"] or 0) for r in part_rows))
        fp = hashlib.sha256(
            json.dumps(
                {"stage": name, "rows": n_rows, "schema": out.schema.simpleString(),
                 "content": content_digest, "params": params_key,
                 "upstream": up_fps},
                sort_keys=True,
            ).encode()
        ).hexdigest()[:16]
        manifest = {
            "stage": name,
            "rows": n_rows,
            "schema": out.schema.simpleString(),
            "content": content_digest,
            "params": params_key,
            "partitions": part_metrics,
            "upstream": up_fps,
            "fingerprint": fp,
            "completed_at": time.time(),
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic commit — the _SUCCESS analogue
        return out

    def completed_stages(self) -> list[str]:
        out = []
        for d in sorted(os.listdir(self.workdir)):
            if os.path.exists(os.path.join(self.workdir, d, "_MANIFEST.json")):
                out.append(d)
        return out


def run_linkage_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    lexicon,
    workdir: str,
    *,
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    type_scorer: str = "dict",
    matcher: str = "trie",
) -> DataFrame:
    """Flagship pipeline split into resumable stages; same clusters as
    ``pipeline.run_linkage`` with the same settings.

    Stage graph: 010_mentions (``scan_mentions``) → 020_edges
    (``form_edges``) → 030_clusters (``form_clusters``).  Each stage
    runs only its own stage function over its upstream's parquet and
    releases whatever it cached.  Kill the job at any point; re-running
    skips every stage whose manifest committed.
    """
    from medtype_spark.pipeline import (
        form_clusters,
        form_edges,
        form_units,
        scan_mentions,
    )

    params = {
        "hot_threshold": hot_threshold, "target_cell": target_cell,
        "type_scorer": type_scorer, "matcher": matcher,
    }
    ck = StageCheckpointer(spark, workdir)

    mentions = ck.stage(
        "010_mentions",
        lambda: scan_mentions(pages, lexicon, type_scorer, matcher).drop("candidates"),
        params=params,
    )

    cached: list[DataFrame] = []
    edges = ck.stage(
        "020_edges",
        lambda: form_edges(mentions, hot_threshold, target_cell, persisted=cached)[1],
        upstream=["010_mentions"], params=params,
    )
    for df in cached:
        df.unpersist()

    return ck.stage(
        "030_clusters",
        lambda: form_clusters(mentions, form_units(mentions), edges),
        upstream=["010_mentions", "020_edges"], params=params,
    )
