"""Two-parallelism scaling benchmark — the sandbox evidence for the
north rule's N→4N executor scaling-efficiency ≥ 0.8 criterion.

Runs the flagship linkage job on an IDENTICAL deterministic synthetic
pages corpus at local[N] and local[4N] (default 8 vs 32), measures
docs/sec for the full pipeline (extract → mentions → blocking → pairs
→ CC → clusters), and reports throughput at both levels plus
efficiency = (T_N / T_4N) / 4.

Each level runs in a FRESH subprocess (own JVM) so JIT/caches don't
leak between levels; per reference benchmark.py:30, the first
(warm-up) repetition in each process is discarded.

Usage: python tools/scaling_bench.py [n_pages] [> report.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the worker imports this checkout's package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + r"""
import json, sys, time
from medtype_spark.session import get_spark
from medtype_spark.datagen.pages import build_lexicon, entity_types_df, synth_pages
from medtype_spark.pipeline import run_linkage

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
n_entities = int(sys.argv[3])
repeats = int(sys.argv[4])

spark = get_spark("scalebench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

lex = build_lexicon(n_entities)
etypes = entity_types_df(spark, n_entities)
# identical input at every parallelism level: deterministic generator,
# fixed partition count independent of cpus
import os
parts = int(os.environ.get("SCALE_PARTITIONS", "16"))
# partition count is part of the PHYSICAL layout, identical at both
# levels (the dataset bytes are seed-determined either way).  16, not
# 64: 64 partitions added ~16s/run at local[2] for zero balance
# benefit, measured when every python task forked a fresh worker and
# re-read pyspark.zip's directory (~0.12 CPU-s per task).  Workers are
# now reused here (SPARK_PYTHON_WORKER_REUSE below) and the daemon
# skips that re-read, so the per-task cost is smaller; 16 was not
# re-measured.
gap = int(os.environ.get("SCALE_GAP", "10"))
pages, _gold = synth_pages(spark, n_pages, n_entities=n_entities, seed=42,
                           partitions=parts, mentions_per_page=8, gap_words=gap)
pages = pages.persist()
n = pages.count()  # materialize input before timing

times = []
WARMUPS = int(os.environ.get("SCALE_WARMUPS", "2"))  # discarded, per reference benchmark.py:30
for rep in range(repeats + WARMUPS):
    t0 = time.perf_counter()
    result = run_linkage(pages, lex, etypes, cleanup=True, type_scorer='stub')
    n_clusters = result["clusters"].count()
    dt = time.perf_counter() - t0
    if rep >= WARMUPS:
        times.append(dt)

srt = sorted(times)
median = srt[len(srt) // 2] if len(srt) % 2 else (srt[len(srt)//2 - 1] + srt[len(srt)//2]) / 2
print(json.dumps({"cpus": cpus, "n_pages": n, "sec": median,
                  "sec_avg": sum(times) / len(times), "sec_best": min(times),
                  "docs_per_sec": n / median, "n_cluster_rows": n_clusters,
                  "times": times}))
"""


def run_level(cpus: int, n_pages: int, n_entities: int, repeats: int) -> dict:
    env = dict(os.environ)
    # Python worker REUSE at the measured levels (Spark's cluster
    # default).  reuse=false is a 32-thread sandbox workaround (see
    # session.py); at <=8 threads it adds a serialized fork-per-task
    # cost that caps measurable scaling (800k@2->8: 0.55-0.62 with
    # fresh workers vs 0.83 with reuse — and reuse is also ~35%
    # faster in absolute terms there).  Real executors run 4-8 cores
    # with reuse=true, so this is the cluster-faithful setting for
    # the scaling criterion.  Overridable for A/B.
    env.setdefault("SPARK_PYTHON_WORKER_REUSE", "true")
    # Cluster-faithful MEMORY model: a real N -> 4N executor scale-up
    # multiplies aggregate cluster memory by 4 (each executor brings
    # its own heap); a single-JVM local[n] sweep with a FIXED heap
    # instead QUARTERS memory-per-task at the high level — a confound
    # no real cluster has (measured: 800k@2->8 under a fixed 16g heap
    # loses ~0.09 efficiency to high-level GC/eviction pressure that
    # the low level never pays).  So each level gets the same
    # memory-per-core: heap = cpus * SCALE_MEM_PER_CORE_GB (default
    # 6g/core -> 12g@local[2], 48g@local[8]; host has 128 GiB).
    # Set SCALE_MEM_PER_CORE_GB=0 to pin the old fixed-heap behavior
    # via SPARK_DRIVER_MEM for A/B.
    per_core = int(os.environ.get("SCALE_MEM_PER_CORE_GB", "6"))
    if per_core > 0:
        env["SPARK_DRIVER_MEM"] = f"{cpus * per_core}g"
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(n_pages),
         str(n_entities), str(repeats)],
        capture_output=True, text=True, check=True, env=env,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    n_entities = 150
    repeats = int(os.environ.get("SCALE_REPEATS", "5"))
    # Default levels 2 -> 8 (N -> 4N).  This host exposes 32 hardware
    # threads but pure-CPU python work scales only 0.55 (N->4N) at
    # 8->32 and 0.75 at 4->16 (tools/cpu_ceiling.py,
    # BENCH_cpu_ceiling.json) — measurements there report the
    # hardware's oversubscription, not the pipeline.  2 -> 8 is the
    # window with full 4x headroom.
    lo = int(os.environ.get("SCALE_LO", "2"))
    hi = int(os.environ.get("SCALE_HI", "8"))

    # SCALE_MIN_OF=k: each pair member is the MIN over k fresh-JVM
    # runs.  Host interference on this shared sandbox is one-sided (it
    # only ADDS time), so the per-level minimum estimates the
    # uncontended runtime — the quantity the north rule's cluster-size
    # criterion is actually about — where a single sample (or a
    # median across a long drifting session) measures the neighbours.
    # The full per-run distribution is still reported.
    min_of = int(os.environ.get("SCALE_MIN_OF", "1"))

    if os.environ.get("SCALE_PAIRED", "1") == "1":
        # PAIRED design: alternate (lo, hi) single-rep JVMs so host
        # interference — the dominant noise on this shared sandbox,
        # run-to-run spreads of 2-3x — hits both members of a pair
        # under similar conditions; the per-pair speedup is the robust
        # sample, its median the estimator.  A separated block design
        # (all lo runs, then all hi runs) conflates which BLOCK was
        # unlucky with the scaling being measured.
        pairs = []
        lo_runs, hi_runs = [], []
        for _ in range(repeats):
            lo_samples = [
                run_level(lo, n_pages, n_entities, 1)["sec"] for _ in range(min_of)
            ]
            hi_results = [run_level(hi, n_pages, n_entities, 1) for _ in range(min_of)]
            hi_samples = [r["sec"] for r in hi_results]
            r_lo = {"sec": min(lo_samples)}
            r_hi = hi_results[hi_samples.index(min(hi_samples))]
            lo_runs.extend(lo_samples)
            hi_runs.extend(hi_samples)
            pairs.append(round(r_lo["sec"] / r_hi["sec"], 3))
        srt = sorted(pairs)
        mid = len(srt) // 2
        speedup = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2

        def _median(xs):
            s = sorted(xs)
            m = len(s) // 2
            return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

        # block estimate from the SAME runs: per-level medians.  Both
        # estimators are reported so a straddle (one passes, one
        # misses) is visible in a single artifact instead of spread
        # across cherry-pickable files.
        blk_speedup = _median(lo_runs) / _median(hi_runs)
        report = {
            "n_pages": n_pages,
            "estimator": (f"median_of_{repeats}_paired_speedups"
                          + (f"_min_of_{min_of}" if min_of > 1 else "")),
            "levels": {"low_cpus": lo, "high_cpus": hi},
            "low_sec": [round(x, 2) for x in lo_runs],
            "high_sec": [round(x, 2) for x in hi_runs],
            "pair_speedups": pairs,
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(speedup / (hi / lo), 3),
            "block_low_median_sec": round(_median(lo_runs), 2),
            "block_high_median_sec": round(_median(hi_runs), 2),
            "block_speedup": round(blk_speedup, 3),
            "block_scaling_efficiency": round(blk_speedup / (hi / lo), 3),
            "target": 0.8,
            "throughput_low_docs_per_sec": round(n_pages / (sum(lo_runs) / len(lo_runs)), 1),
            "throughput_high_docs_per_sec": round(n_pages / (sum(hi_runs) / len(hi_runs)), 1),
            "n_cluster_rows": r_hi["n_cluster_rows"],
        }
    else:
        r_lo = run_level(lo, n_pages, n_entities, repeats)
        r_hi = run_level(hi, n_pages, n_entities, repeats)
        efficiency = (r_lo["sec"] / r_hi["sec"]) / (hi / lo)
        report = {
            "n_pages": n_pages,
            "estimator": f"median_of_{repeats}",
            "low": r_lo,
            "high": r_hi,
            "speedup": round(r_lo["sec"] / r_hi["sec"], 3),
            "scaling_efficiency": round(efficiency, 3),
            "target": 0.8,
            "throughput_low_docs_per_sec": round(r_lo["docs_per_sec"], 1),
            "throughput_high_docs_per_sec": round(r_hi["docs_per_sec"], 1),
        }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
