#!/usr/bin/env python3
"""Split the CPU of warm flagship ops by layer, from /proc.

    python tools/op_cpu_breakdown.py --workload zipf_skew_4k [--ops 5] [--stage op|edges]

Runs a perfbench workload the way ``perfbench/run.py`` does -- its
seeded pages and lexicon, its ``get_spark`` session at local[4], one
discarded warm-up -- and sets no Spark config of its own.  Around each
timed op it reads the CPU seconds (user + system) of every thread of
the driver JVM from /proc, and of the JVM's process tree the way
``linkage_cpu_s`` does (``perfbench.run.tree_cpu_s``), and splits the
difference into:

  jit             the JVM's C1/C2 compiler threads
  tasks           executor task threads ("Executor task launch worker")
  py4j            py4j connection threads ("Thread-N"): they run every
                  driver call, query analysis and planning included
  gc              garbage-collector threads ("GC Thread#", "G1 ...")
  jvm_other       every other JVM thread, and JVM threads that ended
                  during the op
  python_workers  the JVM's descendant processes -- the Python daemon
                  and its workers -- and the children they reaped
  python_driver   this process

``--stage op`` (default) times what ``linkage_cpu_s`` times:
``run_linkage(..., cleanup=True)`` + ``clusters.count()``.  ``--stage
edges`` persists the workload's mentions once and times
``form_edges(...)`` + ``edges.count()``: blocking and the Jaro-Winkler
scorer, so its python_workers class is the JW stage alone.

Next to the CPU classes it counts each op's Spark jobs and executed
tasks (``numCompletedTasks`` of the op's distinct stages, so a skipped
stage adds none), from the status tracker under a job group per op.

The workload's page pool must exist (``perfbench/run.py --workload W
--generate`` writes it); this seed's pages are cut from it if needed.
Prints one line per op, then one JSON object: per class and count, the
median over the ops and every op's value.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

CLASSES = ("jit", "tasks", "py4j", "gc", "jvm_other", "python_workers", "python_driver")
COUNTS = ("jobs", "executed_tasks")
TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file from the state field on, or None if
    the process or thread ended while we looked."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _thread_class(name: str) -> str:
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if name.startswith("Executor task l"):
        return "tasks"
    if name.startswith("Thread-"):
        return "py4j"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "jvm_other"


def snapshot(jvm_pid: int) -> dict:
    """CPU seconds used so far: each JVM thread by (tid, class), the JVM
    process as a whole, the rest of its process tree, and this process."""
    threads = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        fields = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm", encoding="utf-8") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        if fields is not None:
            threads[(tid, _thread_class(name))] = (int(fields[11]) + int(fields[12])) / TICK
    jvm = _stat(f"/proc/{jvm_pid}/stat")
    jvm_own = (int(jvm[11]) + int(jvm[12])) / TICK
    tree = bench.tree_cpu_s(jvm_pid)  # JVM tree, reaped children and this process
    own = resource.getrusage(resource.RUSAGE_SELF)
    driver = own.ru_utime + own.ru_stime
    return {
        "threads": threads,
        "jvm": jvm_own,
        # the JVM's descendants and reaped children: the Python daemon
        # and its workers
        "python_workers": tree - jvm_own - driver,
        "python_driver": driver,
    }


def split(before: dict, after: dict) -> dict:
    """CPU seconds per class between two snapshots."""
    out = dict.fromkeys(CLASSES, 0.0)
    for key, cpu in after["threads"].items():
        out[key[1]] += cpu - before["threads"].get(key, 0.0)
    # threads that ended took their CPU out of the per-thread sums but
    # not out of the process total
    out["jvm_other"] = after["jvm"] - before["jvm"] - sum(
        out[c] for c in ("jit", "tasks", "py4j", "gc"))
    for c in ("python_workers", "python_driver"):
        out[c] = after[c] - before[c]
    out["total"] = sum(out[c] for c in CLASSES)
    return out


def job_counts(sc, group: str) -> dict:
    """Jobs of a job group, and the tasks its distinct stages executed."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        stages.update(info.stageIds if info is not None else ())
    tasks = 0
    for stage in stages:
        info = tracker.getStageInfo(stage)
        tasks += info.numCompletedTasks if info is not None else 0
    return {"jobs": len(jobs), "executed_tasks": tasks}


def main(argv=None) -> int:
    spec = bench.load_json(os.path.join(bench.HERE, "spec.json"))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    p.add_argument("--ops", type=int, default=5, help="timed ops after the warm-up")
    p.add_argument("--stage", choices=("op", "edges"), default="op")
    args = p.parse_args(argv)
    wl_spec = spec["workloads"][args.workload]
    seed = wl_spec["seed"]
    workload = bench.Flagship(args.workload, wl_spec, seed, 1.0)
    if not bench.finished(workload.pool_dir):
        print(f"error: no page pool; run perfbench/run.py --workload {args.workload} "
              "--generate first", file=sys.stderr)
        return 2
    run_dir = os.path.join(bench.WORK, f"breakdown-{os.getpid()}")
    bench.configure_env(run_dir, bench.DRIVER_MEM)
    spark = None
    try:
        spark = bench.start_spark(f"op-cpu-breakdown-{args.workload}")
        bench.prepare(workload.data_dir, workload.generate)
        workload.load(spark)
        action = _action(workload, args.stage)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        action()  # warm-up, discarded
        sc = spark.sparkContext
        ops = []
        for rep in range(args.ops):
            group = f"breakdown-op-{rep + 1}"
            sc.setJobGroup(group, group)
            before = snapshot(jvm_pid)
            action()
            ops.append(split(before, snapshot(jvm_pid)))
            ops[-1].update(job_counts(sc, group))
            bench.log(f"# {args.stage} {rep + 1}: " + " ".join(
                f"{c} {ops[-1][c]:.2f}" for c in (*CLASSES, "total"))
                + " " + " ".join(f"{c} {ops[-1][c]}" for c in COUNTS))
    finally:
        if spark is not None:
            bench.shutdown_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "workload": args.workload, "seed": seed, "stage": args.stage,
        "cpu_s": {c: {"median": round(statistics.median(op[c] for op in ops), 3),
                      "ops": [round(op[c], 3) for op in ops]}
                  for c in (*CLASSES, "total")},
        "counts": {c: {"median": statistics.median(op[c] for op in ops),
                       "ops": [op[c] for op in ops]}
                   for c in COUNTS},
    }), flush=True)
    return 0


def _action(workload, stage: str):
    """The timed action: a whole linkage op, or form_edges over mentions
    persisted once."""
    from pyspark.storagelevel import StorageLevel

    from medtype_spark.pipeline import form_edges, run_linkage, scan_mentions

    kw = workload.linkage_kwargs
    if stage == "op":
        return lambda: run_linkage(workload.pages, workload.lexicon, workload.etypes,
                                   cleanup=True, **kw)["clusters"].count()
    scan_kw = {k: kw[k] for k in ("type_scorer", "matcher") if k in kw}
    edge_kw = {k: kw[k] for k in ("hot_threshold", "target_cell") if k in kw}
    mentions = scan_mentions(workload.pages, workload.lexicon, **scan_kw).persist(
        StorageLevel.MEMORY_AND_DISK)
    mentions.count()

    def edges():
        held: list = []
        form_edges(mentions, **edge_kw, persisted=held)[1].count()
        for df in held:
            df.unpersist()

    return edges


if __name__ == "__main__":
    sys.exit(main())
