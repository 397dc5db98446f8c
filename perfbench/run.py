#!/usr/bin/env python3
"""Linkage benchmark: one command, every workload, outputs checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root.  Workloads, metric meanings and the
recorded baselines are in perfbench/spec.json; metric names, units and
regression bounds in BENCHMARK.json.

Each run cuts the workload's pages from a page pool by the seed (the
pool is written once per checkout by a child process with a Spark
driver of its own, so the measured JVM never generates inputs).  It
then starts one Spark driver at local[4], sets up several times
(median = setup_s), runs one discarded warm-up op and a fixed number
of timed ops that fill about S seconds, checking every op's output.
The last stdout line is one JSON object with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).

The traced run first repeats the untraced measurement and runs
bench.py's HEADLINE queries once each over seeded tables
(perfbench/tables.py).  It then restarts the Spark context with an
uncompressed event log, runs the pipeline stage by stage
(perfbench/staged.py), proves with the cluster fingerprint that it
computed what run_linkage computes, and reads the per-stage task,
run-time and shuffle totals back from the event log.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = max(CORES, 8)
DRIVER_MEM = "3g"
DATAGEN_DRIVER_MEM = "1g"
SETUP_ROUNDS = 5
MIN_F1 = 0.99


class CheckFailed(Exception):
    """An op's output differs from what the benchmark expects."""


def log(msg: str) -> None:
    print(msg, flush=True)


def median(xs):
    return statistics.median(xs)


# --------------------------------------------------------------------
# process environment: everything Spark and Python write stays in the
# run directory, which is removed at exit
# --------------------------------------------------------------------

def configure_env(run_dir: str, driver_mem: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # A pinned heap (-Xms = -Xmx): a heap that grows as far as GC timing
    # lets it made the driver JVM's peak RSS spread 15-30% between runs.
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{driver_mem}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def start_spark(app: str, system_props: dict | None = None):
    """Start (or restart) the Spark context on the running driver JVM.

    ``system_props`` are set as JVM system properties first -- the same
    channel spark-submit's --conf uses -- so a restarted context picks
    them up (this is how the traced context turns the event log on)."""
    from pyspark import SparkContext

    from medtype_spark.session import get_spark

    if SparkContext._jvm is not None:
        for key, value in (system_props or {}).items():
            SparkContext._jvm.java.lang.System.setProperty(key, value)
    spark = get_spark(app, master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the context, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and its descendants -- the driver JVM, its Python
    daemon and workers -- plus this Python process.

    Unlike wall time this leaves out the time the host's hypervisor
    gives the cores to other tenants (steal), 1-25% in 5 s samples on
    the shared 4-core host the baselines were recorded on."""
    import resource

    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(f) for f in fields[11:15])
    total = 0
    for pid, used in ticks.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += used
    own = resource.getrusage(resource.RUSAGE_SELF)
    return total / os.sysconf("SC_CLK_TCK") + own.ru_utime + own.ru_stime


def fingerprint(clusters) -> str:
    """Order-independent digest of a (mention_key, entity_cluster) table.

    Component labels are the minimum node id of each component, so equal
    clusterings give equal digests."""
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("mention_key", "entity_cluster").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def table_digest(df) -> str:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"rows={row['n']} xxhash64-sum={row['h']}"


def finished(data_dir: str) -> bool:
    return os.path.exists(os.path.join(data_dir, "_COMPLETE"))


def mark_finished(data_dir: str) -> None:
    open(os.path.join(data_dir, "_COMPLETE"), "w").close()


# --------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------

class Flagship:
    """run_linkage over a generated pages table read back from parquet.

    The pages come from a pool that ``synth_pages`` writes once per
    checkout (``pool_factor`` x pages, fixed ``pool_seed``); each run's
    input is the ``--seed``-chosen subset of the pool in seeded order,
    with its gold mentions.  A pool page is an iid draw, so a subset is
    a fresh corpus of the same shape, and cutting it takes pyarrow a
    fraction of a second instead of a second driver JVM.

    One op: ``run_linkage(..., cleanup=True)`` + ``clusters.count()``
    (timed as linkage), then ``evaluate_linkage`` (timed as eval)."""

    def __init__(self, name: str, spec: dict, seed: int, scale: float):
        self.name, self.spec, self.seed = name, spec, seed
        self.n_pages = max(int(spec["pages"] * scale), 50)
        self.pool_pages = self.n_pages * spec["pool_factor"]
        self.pool_dir = os.path.join(
            WORK, "data", f"{name}-pool-seed{spec['pool_seed']}-pages{self.pool_pages}")
        self.data_dir = os.path.join(
            WORK, "data", f"{name}-seed{seed}-pages{self.n_pages}")
        self.linkage_kwargs = spec["linkage"]
        self.reference_fp: str | None = None

    def _lexicon_args(self):
        return self.spec["entities"], self.spec["families"], self.spec.get("family_zipf")

    def generate_pool(self) -> None:
        """Write the pool's pages and gold parquet with a Spark driver
        of this process's own."""
        from medtype_spark.datagen.pages import synth_pages

        spark = start_spark(f"perfbench-{self.name}-datagen")
        try:
            entities, families, family_zipf = self._lexicon_args()
            pages, gold = synth_pages(
                spark, self.pool_pages, n_entities=entities, seed=self.spec["pool_seed"],
                n_families=families, family_zipf=family_zipf,
                partitions=self.spec["partitions"], **self.spec["datagen"],
            )
            pages.write.parquet(os.path.join(self.pool_dir, "pages"))
            gold.write.parquet(os.path.join(self.pool_dir, "gold"))
        finally:
            shutdown_spark(spark)

    def generate(self) -> None:
        """Write this seed's pages and gold: a seeded subset of the pool,
        in as many files as the pool has partitions."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        pages = ds.dataset(os.path.join(self.pool_dir, "pages")).to_table()
        gold = ds.dataset(os.path.join(self.pool_dir, "gold")).to_table()
        pick = np.random.default_rng(self.seed).permutation(pages.num_rows)[: self.n_pages]
        pages = pages.take(pick)
        gold = gold.filter(pc.is_in(gold["url"], value_set=pages["url"]))
        # Spark wrote warc_ts as INT96; a zone-less INT64 timestamp would
        # read back as TIMESTAMP_NTZ, so mark it UTC (the session's zone)
        ts = pages.schema.get_field_index("warc_ts")
        pages = pages.set_column(ts, "warc_ts", pages["warc_ts"].cast(pa.timestamp("us", "UTC")))
        for name, table in (("pages", pages), ("gold", gold)):
            out = os.path.join(self.data_dir, name)
            os.makedirs(out)
            bounds = np.linspace(0, table.num_rows, self.spec["partitions"] + 1).astype(int)
            for part, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
                pq.write_table(table.slice(lo, hi - lo),
                               os.path.join(out, f"part-{part:05d}.parquet"))

    def load(self, spark) -> None:
        from pyspark.storagelevel import StorageLevel

        from medtype_spark.datagen.pages import build_lexicon, entity_types_df

        entities, families, family_zipf = self._lexicon_args()
        self.pages = spark.read.parquet(os.path.join(self.data_dir, "pages")).persist(
            StorageLevel.MEMORY_AND_DISK)
        self.gold = spark.read.parquet(os.path.join(self.data_dir, "gold")).persist(
            StorageLevel.MEMORY_AND_DISK)
        self.pages.count()
        self.gold.count()
        self.lexicon = build_lexicon(entities, families, family_zipf=family_zipf)
        self.etypes = entity_types_df(spark, entities, families, family_zipf=family_zipf)

    def describe_inputs(self) -> list[str]:
        return [f"pages: {table_digest(self.pages)}", f"gold: {table_digest(self.gold)}"]

    def op(self, spark, tag: str) -> dict:
        from medtype_spark.pipeline import evaluate_linkage, run_linkage

        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        group = f"linkage:{tag}"
        sc.setJobGroup(group, group)
        c0, t0 = tree_cpu_s(jvm_pid), time.perf_counter()
        result = run_linkage(self.pages, self.lexicon, self.etypes, cleanup=True,
                             **self.linkage_kwargs)
        t1 = time.perf_counter()
        result["clusters"].count()
        t2, c2 = time.perf_counter(), tree_cpu_s(jvm_pid)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(f"eval:{tag}", "evaluate_linkage")
        row = evaluate_linkage(result["clusters"], self.gold).collect()[0]
        t3, c3 = time.perf_counter(), tree_cpu_s(jvm_pid)
        sc.setJobGroup("check", "output checks")
        if not row["fscore"] >= MIN_F1:
            raise CheckFailed(f"pairwise F1 {row['fscore']} < {MIN_F1}")
        fp = fingerprint(result["clusters"])
        if self.reference_fp is None:
            self.reference_fp = fp
            log(f"# clusters fingerprint {fp}, pairwise F1 {row['fscore']:.6f}")
        elif fp != self.reference_fp:
            raise CheckFailed(f"cluster fingerprint {fp} != {self.reference_fp}")
        return {"linkage": t2 - t0, "eval": t3 - t2,
                "cpu:linkage": c2 - c0, "cpu:eval": c3 - c2,
                "build:linkage": t1 - t0, "exec:linkage": t2 - t1, "jobs:linkage": jobs}

    def end_to_end(self, samples: dict) -> dict:
        """CPU-second figures are the bounded end-to-end metrics; the
        wall-clock ones (wall.*) are reported by the traced run."""
        cpu = median(samples["cpu:linkage"])
        wall = median(samples["linkage"])
        return {
            "linkage_cpu_s": cpu,
            "docs_per_cpu_s": self.n_pages / cpu,
            "suite_cpu_s": cpu + median(samples["cpu:eval"]),
            "wall.linkage_s": wall,
            "wall.docs_per_s": self.n_pages / wall,
            "wall.suite_s": wall + median(samples["eval"]),
        }


class HeadlineSuite:
    """bench.py's HEADLINE queries over seeded tables (perfbench/
    tables.py), each run once in the traced run and timed on
    ``count()`` like bench.py.  Row counts are checked on every query,
    values on q21, q25 and q53."""

    def __init__(self, spec: dict, seed: int, scale: float):
        from bench import HEADLINE

        self.spec, self.seed, self.scale = spec, seed, scale
        self.queries = list(HEADLINE)
        self.sf = spec["sf"] * scale
        self.data_dir = os.path.join(WORK, "data", f"headline-seed{seed}-sf{self.sf:g}")

    def generate(self) -> None:
        import tables

        tables.write_tables(self.data_dir, self.sf, self.seed)

    def expected_rows(self) -> dict[str, int]:
        """Row counts the queries must return on these tables."""
        import pyarrow.parquet as pq

        import tables

        rows = {}
        for query, want in self.spec["expected_rows"].items():
            if want == "q10":
                rows[query] = tables.expected_q10_rows(self.data_dir)
            elif isinstance(want, str):
                path = os.path.join(self.data_dir, f"{want}.parquet")
                rows[query] = pq.ParquetFile(path).metadata.num_rows
            else:
                rows[query] = want
        recorded = self.spec["recorded_rows"]
        if self.seed == recorded["seed"] and self.scale == 1.0:
            rows.update(recorded["rows"])
        return rows

    def check_values(self, query: str, rows) -> None:
        import numpy as np

        import tables

        if query == "q21_cluster_metrics":
            labels = tables.read_column(self.data_dir, "embeddings", "label").astype("int64")
            pred = np.arange(len(labels)) % 7
            tri = lambda c: float((c * (c - 1) // 2).sum())  # noqa: E731
            _, joint = np.unique(labels * 7 + pred, return_counts=True)
            want = (tri(joint), tri(np.bincount(pred)), tri(np.bincount(labels)))
            got = {r["metric"]: r for r in rows}["pairwise"]
            if (got["p_num"], got["p_den"], got["r_den"]) != want:
                raise CheckFailed(f"q21 pairwise counts {got} != {want}")
        elif query == "q25_cc_chains":
            n_comp = len({r["component"] for r in rows})
            if n_comp != -(-len(rows) // 10):
                raise CheckFailed(f"q25 found {n_comp} components in {len(rows)} nodes")
        elif query == "q53_flagship_linkage":
            if not rows[0]["fscore"] >= MIN_F1:
                raise CheckFailed(f"q53 pairwise F1 {rows[0]['fscore']} < {MIN_F1}")

    def run(self, spark, counter: "Counter") -> dict:
        """Run every query once; return its per-layer numbers."""
        from medtype_spark.queries import QUERIES

        sc = spark.sparkContext
        expected = self.expected_rows()
        layers: dict = {}

        def one(query):
            group = f"headline:{query}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = QUERIES[query](spark, self.data_dir)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("check", "output checks")
            if query in expected and n != expected[query]:
                raise CheckFailed(f"{query} returned {n} rows, want {expected[query]}")
            if query in ("q21_cluster_metrics", "q25_cc_chains", "q53_flagship_linkage"):
                self.check_values(query, df.collect())
            log(f"# headline {query}: {t2 - t0:.3f}s ({n} rows, {jobs} jobs)")
            return t1 - t0, t2 - t1, jobs

        for query in self.queries:
            build, execute, jobs = counter.run(query, lambda: one(query)) or (0.0, 0.0, 0)
            layers[f"{query}.build_s"] = build
            layers[f"{query}.exec_s"] = execute
            layers[f"{query}.jobs"] = jobs
        walls = {q: layers[f"{q}.build_s"] + layers[f"{q}.exec_s"] for q in self.queries}
        layers["headline.suite_s"] = sum(walls.values())
        layers["headline.flagship_fixture_s"] = walls["q53_flagship_linkage"]
        return layers


# --------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------

class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn):
        """One op: count it, and count it failed if it raises."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            log(f"# FAILED {label}")
            traceback.print_exc()
            return None


def measure(workload, spark, seconds: float, counter: Counter) -> dict:
    """One discarded warm-up op, then a fixed number of timed ops: as
    many as the workload's op_estimate_s says fill ``seconds``, and at
    least one.

    A fixed count, not "until the deadline": ops still speed up for
    several repeats after the warm-up (JIT), so a run that fits one op
    more or less than the last one would report from another point of
    that curve."""
    counter.run("warm-up op", lambda: workload.op(spark, "warmup"))
    samples: dict[str, list] = {}
    n_ops = max(1, math.ceil(seconds / workload.spec["op_estimate_s"]))
    for rep in range(1, n_ops + 1):
        out = counter.run(f"op {rep}", lambda: workload.op(spark, f"rep{rep}"))
        for key, value in (out or {}).items():
            samples.setdefault(key, []).append(value)
    return samples


def op_layers(samples: dict) -> dict:
    """ops.*: per-op medians of the linkage call, its count() action
    and its Spark jobs."""
    return {
        "ops.build_s": median(samples["build:linkage"]),
        "ops.exec_s": median(samples["exec:linkage"]),
        "ops.jobs": median(samples["jobs:linkage"]),
    }


def traced_layers(workload, spark, linkage_s: float, log_dir: str, counter: Counter):
    """Restart Spark with the event log on, run the staged pipeline,
    and return (per-layer metrics, the stopped session's JVM gateway
    still up)."""
    import eventlog
    from staged import LINKAGE_GROUPS, STAGES, staged_linkage

    os.makedirs(log_dir, exist_ok=True)
    spark.stop()
    spark = start_spark(f"perfbench-{workload.name}-traced", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file:" + log_dir,
    })
    spark.sparkContext.setJobGroup("trace.setup", "traced input")
    workload.load(spark)

    def run_staged():
        layers, clusters = staged_linkage(
            workload.pages, workload.gold, workload.lexicon, **workload.linkage_kwargs)
        fp = fingerprint(clusters)
        if fp != workload.reference_fp:
            raise CheckFailed(f"traced fingerprint {fp} != run_linkage {workload.reference_fp}")
        if not layers["clustering.f1"] >= MIN_F1:
            raise CheckFailed(f"traced pairwise F1 {layers['clustering.f1']}")
        log(f"# traced fingerprint {fp} == run_linkage fingerprint")
        return layers

    layers = counter.run("traced staged run", run_staged)
    spark.stop()
    if layers is None:
        return None, spark
    groups = eventlog.parse_dir(log_dir)
    whole = eventlog.GroupTotals()
    for group in LINKAGE_GROUPS:
        totals = groups.get(group, eventlog.GroupTotals())
        whole.add(totals)
        layers[f"{group}.executor_s"] = totals.executor_run_s
        layers[f"{group}.shuffle_mb"] = (
            totals.shuffle_read_bytes + totals.shuffle_write_bytes) / eventlog.MIB
    layers["mentions.tasks"] = groups.get("mentions", eventlog.GroupTotals()).tasks
    stage_walls = [layers[metric] for _, metric in STAGES]
    layers.update({
        "linkage.jobs": whole.jobs,
        "linkage.stages": whole.stages,
        "linkage.tasks": whole.tasks,
        "linkage.failed_tasks": whole.failed_tasks,
        "linkage.executor_run_s": whole.executor_run_s,
        "linkage.core_util": whole.executor_run_s / (sum(stage_walls) * CORES),
        "linkage.shuffle_read_mb": whole.shuffle_read_bytes / eventlog.MIB,
        "linkage.shuffle_write_mb": whole.shuffle_write_bytes / eventlog.MIB,
        # linkage_s ends at the cluster table: the eval stage is not in it
        "trace.overhead_s": layers["wall.clusters"] - linkage_s,
        "trace.unattributed_s": linkage_s - sum(stage_walls[:-1]),
    })
    return layers, spark


# --------------------------------------------------------------------
# input generation, in a child process with its own driver JVM
# --------------------------------------------------------------------

def prepare(data_dir: str, make) -> None:
    """Run ``make`` to fill ``data_dir`` unless it is complete already."""
    if finished(data_dir):
        log(f"# datagen_s cached {os.path.basename(data_dir)}")
        return
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    t0 = time.perf_counter()
    make()
    mark_finished(data_dir)
    log(f"# datagen_s {time.perf_counter() - t0:.3f} {os.path.basename(data_dir)} "
        "(not in setup_s)")


def start_pool_datagen(argv: list[str]):
    """Write the page pool (``--generate``) in a child process, whose
    driver JVM starts alongside this process's."""
    return subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--generate"])


# --------------------------------------------------------------------
# main
# --------------------------------------------------------------------

def load_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, default=None,
                   help="input seed (default: the workload's seed in spec.json)")
    p.add_argument("--seconds", type=float, default=10.0,
                   help="how long the timed ops run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (perfbench/test_smoke.py runs tiny inputs)")
    p.add_argument("--generate", action="store_true",
                   help="only write the workload's page pool, then exit")
    return p.parse_args(argv)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    spec = load_json(os.path.join(HERE, "spec.json"))
    args = parse_args(argv, spec["workloads"])
    for needed in ("medtype_spark/pipeline.py", "bench.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"error: {needed} is missing under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    wl_spec = spec["workloads"][args.workload]
    seed = wl_spec["seed"] if args.seed is None else args.seed
    sys.path.insert(0, ROOT)
    workload = Flagship(args.workload, wl_spec, seed, args.scale)
    suite = HeadlineSuite(spec["headline"], seed, args.scale) if args.trace else None
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    if args.generate:
        configure_env(run_dir, DATAGEN_DRIVER_MEM)
        try:
            prepare(workload.pool_dir, workload.generate_pool)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        return 0

    log(f"# workload {args.workload} seed {seed} seconds {args.seconds} trace {args.trace}")
    configure_env(run_dir, DRIVER_MEM)
    datagen = None if finished(workload.pool_dir) else start_pool_datagen(argv)
    spark = None
    try:
        counter = Counter()
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{args.workload}")
        log(f"# session_start_s {time.perf_counter() - t0:.3f} (cold JVM, not in setup_s)")
        if datagen is not None and datagen.wait() != 0:
            raise SystemExit(f"page pool generation failed (exit code {datagen.returncode})")
        # seeded inputs are cut in this Python process, not the JVM
        prepare(workload.data_dir, workload.generate)
        if suite is not None:
            prepare(suite.data_dir, suite.generate)
        setups = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            spark.stop()
            spark = start_spark(f"perfbench-{args.workload}")
            workload.load(spark)
            setups.append(time.perf_counter() - t0)
        log(f"# setup rounds {[round(s, 3) for s in setups]}")
        spark.sparkContext.setJobGroup("check", "input digests")
        for line in workload.describe_inputs():
            log(f"# input {line}")

        samples = measure(workload, spark, args.seconds, counter)
        for key in sorted(samples):
            vals = samples[key]
            log(f"# op {key}: median {median(vals):.4f} of {len(vals)} {[round(v, 3) for v in vals]}")
        if counter.attempted == counter.failed:
            raise SystemExit("every op failed; no metrics")
        e2e = workload.end_to_end(samples)
        e2e["setup_s"] = median(setups)
        e2e["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)

        if args.trace:
            headline = suite.run(spark, counter)
            layers, spark = traced_layers(
                workload, spark, e2e["wall.linkage_s"], os.path.join(run_dir, "eventlog"),
                counter)
            if layers is None:
                raise SystemExit("traced run failed; no per-layer metrics")
            layers.update(headline)
            layers.update(op_layers(samples))
            layers.update((k, v) for k, v in e2e.items() if k.startswith("wall."))
            wanted = bench["per_layer"]
            values = layers
        else:
            wanted = bench["end_to_end"]
            values = e2e
        values["error_rate"] = counter.failed / counter.attempted
        log(f"# error_rate {counter.failed}/{counter.attempted} = {values['error_rate']:.4f}")
        metrics = {}
        for m in wanted:
            metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
            log(f"{m['name']} {values[m['name']]:.6g} {m['unit']}")
        result = {
            "correct": counter.failed == 0,
            "attempted": counter.attempted,
            "failed": counter.failed,
            "metrics": metrics,
        }
    finally:
        if datagen is not None and datagen.poll() is None:
            datagen.kill()
            datagen.wait()
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
