#!/usr/bin/env python3
"""N -> 4N scaling efficiency of the flagship on a benchmark workload.

    python tools/scaling_bench.py --workload {uniform_10k,zipf_skew_4k} [--scale S]

The north rule asks for >= 0.8 throughput scaling efficiency from N to
4N parallelism.  N = max(1, nproc // 4) comes from the host, so a
4-core host measures local[1] -> local[4].

Inputs, settings and checks are perfbench/run.py's, used read-only: the
workload's seeded pages, lexicon and ``run_linkage`` settings, and
``Flagship.op`` as the timed op, which checks pairwise F1 >= 0.99 and
the cluster fingerprint.  ``--scale`` sizes the input as perfbench's
does.  Each level runs in a fresh driver JVM with a heap of 768 MiB per
core (local[4] gets the benchmark's 3g, so memory per core is equal at
both levels) and the benchmark's shuffle partitions, so both levels run
the same plan.  A level runs one warm-up ``run_linkage``, whose report
(salted blocks, CC path) is logged as the path evidence, then
``OPS`` timed ops; its figure is their median wall time.

``PAIRS`` pairs of levels run, alternating which level goes first.  The
tool fails if the cluster fingerprints differ between runs.  It prints
one JSON object: per-level times, the pair speedups, their median and
efficiency = speedup / 4.  The workload's page pool is written first if
it is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

HEAP_MB_PER_CORE = 768
OPS = 3
PAIRS = 5
TARGET = 0.8


def levels(nproc: int) -> tuple[int, int]:
    """(N, 4N) local threads for a host with ``nproc`` cores."""
    n = max(1, nproc // 4)
    return n, 4 * n


def summarize(pairs: list[tuple[dict, dict]]) -> dict:
    """The report over (N run, 4N run) pairs; each run has ``cores``,
    ``sec`` and ``fingerprint``.  Raises CheckFailed if the runs did not
    compute the same clusters."""
    fingerprints = {run["fingerprint"] for pair in pairs for run in pair}
    if len(fingerprints) != 1:
        raise bench.CheckFailed(f"cluster fingerprints differ between runs: {sorted(fingerprints)}")
    speedups = [lo["sec"] / hi["sec"] for lo, hi in pairs]
    speedup = statistics.median(speedups)
    lo, hi = pairs[0][0]["cores"], pairs[0][1]["cores"]
    return {
        "levels": [f"local[{lo}]", f"local[{hi}]"],
        "low_sec": [round(p[0]["sec"], 3) for p in pairs],
        "high_sec": [round(p[1]["sec"], 3) for p in pairs],
        "pair_speedups": [round(s, 3) for s in speedups],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / (hi / lo), 3),
        "target": TARGET,
        "fingerprint": fingerprints.pop(),
    }


def _workload(name: str, scale: float):
    spec = bench.load_json(os.path.join(bench.HERE, "spec.json"))["workloads"][name]
    return bench.Flagship(name, spec, spec["seed"], scale)


def level(name: str, scale: str, cores: str) -> None:
    """One level in this process's own driver JVM; prints its run as the
    last stdout line."""
    from medtype_spark.pipeline import run_linkage
    from medtype_spark.session import get_spark

    workload, cores = _workload(name, float(scale)), int(cores)
    run_dir = os.path.join(bench.WORK, f"scaling-{os.getpid()}")
    bench.configure_env(run_dir, f"{HEAP_MB_PER_CORE * cores}m")
    spark = None
    try:
        spark = get_spark(f"scaling-{name}", master=f"local[{cores}]",
                          shuffle_partitions=bench.SHUFFLE_PARTITIONS)
        spark.sparkContext.setLogLevel("ERROR")
        workload.load(spark)
        warmup = run_linkage(workload.pages, workload.lexicon, workload.etypes,
                             cleanup=True, **workload.linkage_kwargs)
        warmup["clusters"].count()
        bench.log(f"# local[{cores}] warm-up report {json.dumps(warmup['report'])}")
        secs = [workload.op(spark, f"rep{rep}")["linkage"] for rep in range(1, OPS + 1)]
    finally:
        if spark is not None:
            bench.shutdown_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"cores": cores, "sec": statistics.median(secs), "ops": secs,
                      "fingerprint": workload.reference_fp,
                      "report": warmup["report"]}), flush=True)


def run_level(name: str, scale: float, cores: int) -> dict:
    code = (f"import sys; sys.path.insert(0, {HERE!r}); import scaling_bench; "
            "scaling_bench.level(*sys.argv[1:])")
    out = subprocess.run([sys.executable, "-c", code, name, str(scale), str(cores)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    *lines, last = out.strip().splitlines()
    for line in lines:
        print(line, file=sys.stderr, flush=True)
    run = json.loads(last)
    print(f"# local[{cores}] ops {[round(s, 3) for s in run['ops']]}", file=sys.stderr, flush=True)
    return run


def main(argv=None) -> int:
    spec = bench.load_json(os.path.join(bench.HERE, "spec.json"))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    p.add_argument("--scale", type=float, default=1.0, help="input size factor")
    args = p.parse_args(argv)
    workload = _workload(args.workload, args.scale)
    # stdout carries only the report
    if not bench.finished(workload.pool_dir):
        subprocess.run([sys.executable, os.path.join(bench.HERE, "run.py"), "--workload",
                        args.workload, "--scale", str(args.scale), "--generate"],
                       stdout=sys.stderr, check=True)
    with contextlib.redirect_stdout(sys.stderr):
        bench.prepare(workload.data_dir, workload.generate)
    lo, hi = levels(len(os.sched_getaffinity(0)))
    pairs = []
    for i in range(PAIRS):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)
        runs = {cores: run_level(args.workload, args.scale, cores) for cores in order}
        pairs.append((runs[lo], runs[hi]))
    report = {"workload": args.workload, "seed": workload.seed, "pages": workload.n_pages,
              "estimator": f"median of {PAIRS} paired speedups; a level's time is the "
                           f"median wall of {OPS} ops after one warm-up",
              **summarize(pairs),
              "warmup_report": {f"local[{c}]": pairs[0][i]["report"]
                                for i, c in enumerate((lo, hi))}}
    print(json.dumps(report, indent=2), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
