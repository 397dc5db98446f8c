"""Stage-manifest checkpointing: resume-from-checkpoint after loss.

The north rule requires the pipeline to be "resumable from checkpoint
with per-partition lineage + metrics".  The reference's analogues are
the trainer's --restore checkpoint loading
(medtype-trainer/medtype.py:172-214) and the idempotent skip-if-output-
exists checks (dump_linkers_output.py:12-13).

Design (the workdir is any Hadoop FileSystem path the driver and the
executors share: a local directory under a local master, or an
``hdfs://``/``s3a://``/... URI on a cluster; Spark writes the stage
data, and the driver the manifests through the same FileSystem API):
- each named stage writes its output DataFrame as parquet under
  ``<workdir>/<stage>/data`` and then commits
  ``<workdir>/<stage>/_MANIFEST.json`` (written aside, then renamed)
  recording row count, schema,
  per-partition row counts (the lineage/metrics table), and the
  upstream stage names + their manifest fingerprints;
- on re-run, a stage whose manifest exists AND whose upstream
  fingerprints match is loaded from parquet instead of recomputed —
  so a killed job resumes at the first incomplete stage;
- fingerprints chain (like a Merkle list), so changing an upstream
  stage invalidates everything downstream, never silently reusing
  stale data.  ``run_linkage_checkpointed`` folds a digest of its
  input (pages and lexicon) into the first stage's params, so a
  workdir that holds another input's stages is recomputed, not
  resumed.

Parquet round-trips also truncate lineage exactly where
``localCheckpoint`` would, but survive driver loss.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from medtype_spark.pipeline import (
    form_clusters,
    form_edges,
    form_units,
    run_linkage,
    scan_mentions,
)


def _row_hash(df: DataFrame) -> Column:
    """Each row's xxhash64 over its columns (maps are unhashable and
    left out), as decimal(38,0) so that summing it cannot overflow."""
    cols = [F.col(f.name) for f in df.schema.fields
            if not isinstance(f.dataType, MapType)]
    return F.xxhash64(*cols).cast("decimal(38,0)")


class StageCheckpointer:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self._jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = self._path().getFileSystem(conf)
        # the local FileSystem keeps a .crc file beside each file; the raw
        # one keeps a manifest one plain JSON file
        if fs.getUri().getScheme() == "file":
            uri = fs.getUri()
            fs = self._jvm.org.apache.hadoop.fs.RawLocalFileSystem()
            fs.initialize(uri, conf)
        self.fs = fs
        fs.mkdirs(self._path())

    def _path(self, *parts: str):
        return self._jvm.org.apache.hadoop.fs.Path("/".join((self.workdir, *parts)))

    def _read_manifest(self, stage: str) -> dict | None:
        mpath = self._path(stage, "_MANIFEST.json")
        if not self.fs.exists(mpath):
            return None
        buf = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            self.fs.open(mpath), buf, 1 << 16, True)
        return json.loads(buf.toString("UTF-8"))

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
        data_path = "/".join((self.workdir, name, "data"))
        mpath = self._path(name, "_MANIFEST.json")
        resumable = (
            m is not None
            and m.get("upstream") == up_fps
            and m.get("params") == params_key
            and all(v is not None for v in up_fps.values())
        )
        if resumable:
            return self.spark.read.parquet(data_path)

        # drop the stale manifest first: a kill during the rewrite must
        # not leave it beside half-written data
        self.fs.delete(mpath, False)
        df = build_fn()
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)

        # One pass collects the per-partition lineage table AND an
        # order-insensitive content digest (sum of xxhash64 over whole
        # rows) — so identical row count
        # + schema with different DATA still invalidates downstream.
        part_rows = (
            out.withColumn("_pid", F.spark_partition_id())
            .withColumn("_h", _row_hash(out))
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
        tmp = self._path(name, "_MANIFEST.json.tmp")
        f = self.fs.create(tmp, True)
        f.write(json.dumps(manifest).encode())
        f.close()
        self.fs.rename(tmp, mpath)  # the commit — the _SUCCESS analogue
        return out

    def completed_stages(self) -> list[str]:
        return sorted(
            st.getPath().getName() for st in self.fs.listStatus(self._path())
            if self.fs.exists(self._path(st.getPath().getName(), "_MANIFEST.json"))
        )


# The settings every stage builds with: run_linkage's defaults, folded
# into each stage's fingerprint so that output built with other
# settings is never resumed.
SETTINGS = {k: inspect.signature(run_linkage).parameters[k].default
            for k in ("type_scorer", "matcher", "hot_threshold", "target_cell")}


def run_linkage_checkpointed(
    spark: SparkSession, pages: DataFrame, lexicon, workdir: str
) -> DataFrame:
    """Flagship pipeline split into resumable stages; the same clusters
    as ``pipeline.run_linkage`` with its default settings.

    Stage graph: 010_mentions (``scan_mentions``) → 020_edges
    (``form_edges``) → 030_clusters (``form_clusters``).  Each stage
    runs only its own stage function over its upstream's parquet and
    releases whatever it cached.  Kill the job at any point; re-running
    skips every stage whose manifest committed.  The first stage's
    params carry a digest of ``pages`` and ``lexicon`` besides
    ``SETTINGS``, so another input recomputes every stage.
    """
    ck = StageCheckpointer(spark, workdir)

    inputs = {
        "pages": str(pages.select(F.sum(_row_hash(pages))).first()[0]),
        "lexicon": hashlib.sha256(lexicon.to_csv(index=False).encode()).hexdigest(),
    }
    mentions = ck.stage(
        "010_mentions",
        lambda: scan_mentions(
            pages, lexicon, SETTINGS["type_scorer"], SETTINGS["matcher"]
        ).drop("candidates"),
        params={**SETTINGS, **inputs},
    )

    cached: list[DataFrame] = []
    edges = ck.stage(
        "020_edges",
        lambda: form_edges(
            mentions, SETTINGS["hot_threshold"], SETTINGS["target_cell"], persisted=cached
        )[1],
        upstream=["010_mentions"], params=SETTINGS,
    )
    for df in cached:
        df.unpersist()

    return ck.stage(
        "030_clusters",
        lambda: form_clusters(mentions, form_units(mentions), edges),
        upstream=["010_mentions", "020_edges"], params=SETTINGS,
    )
