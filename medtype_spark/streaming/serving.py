"""Structured-Streaming restatement of the MedType serving path.

The reference serves requests through a ZMQ ventilator → workers → sink
topology (medtype-as-service/server/medtype_serving/server/__init__.py):

- jobs larger than ``max_batch_size`` split into ``job_id@i`` partials
  (:212-218, default 256 at server/helper.py:100);
- workers process partials independently (:546-602);
- the sink reassembles partials in order by ``partial_id``, tracking a
  size checksum, and publishes when complete (:353-393).

Spark-first restatement: an unbounded stream of (job_id, partial_id,
payload) micro-batches; per-job stateful reassembly via watermarked
aggregation; emit exactly when ``collected == declared total`` (the
checksum rule).  ``foreachBatch`` is the PUB sink analogue: a caller
applies ``reassemble_jobs`` to each micro-batch there.

These are *plan builders* — they accept any streaming or batch
DataFrame with the right columns so tests can drive them with a file /
rate / memory source.  The one stream this module runs itself is the
watermark fixture of ``windowed_request_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_BATCH_SIZE = 256  # server/helper.py:100


def split_into_partials(requests: DataFrame,
                        max_batch_size: int = MAX_BATCH_SIZE) -> DataFrame:
    """Ventilator analogue (:212-218): explode an oversized job into
    numbered partials of ≤ max_batch_size items each.

    requests: (job_id, texts: array<string>) →
    (job_id, partial_id, n_partials, items: array<string>).
    """
    # greatest(…, 1): an empty job still yields ONE empty partial, so
    # n_partials stays a truthful checksum and reassemble_jobs never
    # silently drops the job (F.sequence(0, -1) would otherwise emit a
    # phantom descending [0, -1] pair).
    n_parts = F.greatest(
        F.ceil(F.size("texts") / F.lit(max_batch_size)).cast("int"), F.lit(1)
    )
    out = requests.select(
        F.col("job_id"),
        n_parts.alias("n_partials"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_parts - 1),
                lambda i: F.slice(F.col("texts"), i * max_batch_size + 1, max_batch_size),
            )
        ).alias("partial_id", "items"),
    )
    return out


def reassemble_jobs(partials: DataFrame) -> DataFrame:
    """Sink analogue (:353-393): group (job_id, partial_id, results,
    n_partials) partials per job, order by partial_id (ordered-insert
    :368-379), and keep only jobs whose partial count equals the
    declared checksum ``n_partials`` (:386-388).

    Works identically on a batch DataFrame or a streaming one inside
    ``foreachBatch`` (update-mode aggregation).
    """
    agg = partials.groupBy("job_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("partial_id", "results"))),
            lambda s: s["results"],
        ).alias("ordered_results"),
        F.count(F.lit(1)).alias("collected"),
        F.first("n_partials").alias("declared"),
    )
    return agg.where(F.col("collected") == F.col("declared")).select(
        "job_id",
        F.flatten("ordered_results").alias("results"),
        "collected",
    )


def windowed_request_stats(events: DataFrame) -> DataFrame:
    """Streaming ServerStatistic (A12 analogue,
    .../server/__init__.py:605-673) as a watermarked windowed
    aggregation: per (client, 10-minute event-time window) request
    counts and mean message size.  Late data beyond the 30-minute
    watermark is dropped and state for closed windows is evicted — the
    property that keeps the aggregation's state bounded on an unbounded
    stream.  Works on a streaming OR batch frame (same plan; tests run
    both)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.avg("value").alias("avg_msg_size"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id", "n_requests",
            F.round("avg_msg_size", 6).alias("avg_msg_size"),
        )
    )


# --- deterministic watermark fixture (driver row for the A12 stream) ---

# Four micro-batches with fixed event times.  Batch 1 advances event
# time far past window 0's end; batch 2 is a spacer (the watermark
# computed from batch N becomes OPERATIVE in batch N+2 — it is
# committed at the end of N+1); batch 3 carries one late row below the
# then-operative watermark (08:30), which must be dropped.
WINDOW_FIXTURE_BATCHES = [
    [(1, "2024-01-01T00:01:00", 10.0),
     (1, "2024-01-01T00:04:00", 20.0),
     (2, "2024-01-01T00:12:00", 5.0)],
    [(9, "2024-01-01T09:00:00", 1.0)],
    [(9, "2024-01-01T09:01:00", 1.0)],
    [(1, "2024-01-01T00:02:00", 999.0)],  # late → dropped at wm 08:30
]


def windowed_stats_fixture_run(spark) -> DataFrame:
    """Run ``windowed_request_stats`` (10-minute windows, 30-minute
    watermark) on a REAL micro-batch stream over
    the deterministic fixture above (file source, one file per
    trigger, availableNow) and return the append-mode-finalized windows
    as an eager local DataFrame.

    Deterministic by construction: fixed event times, file order pinned
    via mtime (FileStreamSource orders by modification time), append
    mode emits exactly the windows whose end falls at or below the
    final watermark (08:31) — the two early windows — and the late row
    is dropped by the operative-watermark input filter.  All scratch
    dirs (source + checkpoint) and the memory-sink view are removed
    before returning, so repeated bench/correctness invocations leave
    nothing behind.
    """
    import json
    import os
    import shutil
    import tempfile
    import uuid

    # (r6) Scratch space on /dev/shm when available: the source files
    # and the checkpoint are ephemeral BY DESIGN (deleted in the
    # finally below), so checkpoint durability buys nothing and every
    # offset/commit/state fsync to real disk is pure latency.
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="winstats_fixture_", dir=shm)
    name = "winstats_fixture_" + uuid.uuid4().hex[:12]
    # (r6) State-store partitions sized to the fixture: a streaming
    # aggregation creates one state store per shuffle partition PER
    # MICRO-BATCH (offset/commit/state files each), so the session's
    # scale-default (e.g. 32) costs 4×32 store commit cycles for a
    # ~10-row, 3-user fixture.  2 partitions is the data-appropriate
    # number here.  It is set on a child session (same SparkContext,
    # its own SQL conf and temp views), so the caller's session never
    # sees it.
    stream_spark = spark.newSession()
    stream_spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        paths = []
        for i, rows in enumerate(WINDOW_FIXTURE_BATCHES):
            p = os.path.join(src, f"b{i}.json")
            with open(p, "w") as f:
                f.write("\n".join(
                    json.dumps({"user_id": u, "ts": t, "value": v})
                    for u, t, v in rows))
            paths.append(p)
        t0 = os.stat(paths[0]).st_mtime
        for i, p in enumerate(paths):
            os.utime(p, (t0 - 600 + i * 60, t0 - 600 + i * 60))

        stream = (
            stream_spark.readStream
            .schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        out = windowed_request_stats(stream)
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = [(r["window_start"], r["user_id"], r["n_requests"],
                 r["avg_msg_size"]) for r in stream_spark.table(name).collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            stream_spark.catalog.dropTempView(name)
        except Exception:
            pass
    return spark.createDataFrame(
        rows,
        "window_start timestamp, user_id long, n_requests long, "
        "avg_msg_size double",
    )
