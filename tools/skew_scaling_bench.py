"""Skew/scale stressor: the 100×-shaped scaling run.

The headline scaling bench (tools/scaling_bench.py) uses a 150-entity
vocabulary, which a driver-side union-find absorbs (CC small-graph
cutover) and whose blocks never reach the salting threshold.  A 100 TB
corpus does not look like that: its surface-form population is Zipf
(10^5+ forms, heavy head), hot blocking keys exceed any cell budget,
and the form graph outgrows the driver.  This harness measures the SAME
flagship pipeline on that shape, with the scale paths demonstrably the
executed paths:

- **lexicon**: `n_entities` entities × 5 surface aliases (default
  20,000 → 100,000 surface forms), families (= blocking keys)
  Zipf(0.6)-distributed so the head family holds hundreds of entities;
- **mention stream**: alias choice Zipf(1.05) — the head alias covers
  ~10% of all mentions (plus the planted hot form);
- **salting**: `hot_threshold` is set BELOW the head blocks' form
  counts, so the salted 2-D grid path executes in the measured job
  (evidence: per-block unit counts reported in the artifact);
- **distributed CC**: `cc_small_graph_threshold` is set below the edge
  count, so the alternating-star iteration executes (evidence:
  `report["cc"]["path"] == "distributed"` + round count from
  `run_linkage`'s returned report, reported in the artifact);
- **matcher**: the broadcast hash-set gazetteer (`matcher="set"`), the
  lexicon shape that survives 10^5+ aliases — the trie automaton costs
  ~8 s compile per fresh worker at this size (measured; see
  operators/mentions.py:iter_set_matches).

Scaling protocol mirrors scaling_bench.py: identical seeded corpus
bytes at both parallelism levels, fresh JVM per run, paired
lo/hi alternation, median of paired speedups + per-level block
medians, efficiency = speedup / (hi/lo).

Usage: python tools/skew_scaling_bench.py [n_pages] [> report.json]
Env: SKEW_LO/SKEW_HI (default 2/8), SKEW_REPEATS (default 3),
     SKEW_ENTITIES (default 20000), SKEW_WARMUPS (default 1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the worker imports this checkout's package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + r"""
import json, os, sys, time
from medtype_spark.session import get_spark
from medtype_spark.datagen.pages import build_lexicon, entity_types_df, synth_pages
from medtype_spark.pipeline import run_linkage

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
n_entities = int(sys.argv[3])
repeats = int(sys.argv[4])
collect_evidence = sys.argv[5] == "1"

N_FAMILIES = 5000
FAMILY_ZIPF = 0.6
MENTION_ZIPF = 1.05
HOT_THRESHOLD = 128      # below the head blocks' form counts → salting runs
                         # (observed max block = 388 units at 20k entities)
TARGET_CELL = 64
CC_THRESHOLD = 4096      # below the form-graph edge count → distributed CC

spark = get_spark("skewbench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

lex = build_lexicon(n_entities, n_families=N_FAMILIES, family_zipf=FAMILY_ZIPF)
etypes = entity_types_df(spark, n_entities, n_families=N_FAMILIES,
                         family_zipf=FAMILY_ZIPF)
parts = int(os.environ.get("SKEW_PARTITIONS", "16"))
pages, _gold = synth_pages(spark, n_pages, n_entities=n_entities, seed=77,
                           partitions=parts, mentions_per_page=8,
                           n_families=N_FAMILIES,
                           mention_zipf=MENTION_ZIPF, family_zipf=FAMILY_ZIPF)
pages = pages.persist()
n = pages.count()  # materialize input before timing

WARMUPS = int(os.environ.get("SKEW_WARMUPS", "1"))
times = []
cc_stats = {}
n_cluster_rows = None
for rep in range(repeats + WARMUPS):
    t0 = time.perf_counter()
    result = run_linkage(pages, lex, etypes, cleanup=True, type_scorer="stub",
                         matcher="set", hot_threshold=HOT_THRESHOLD,
                         target_cell=TARGET_CELL,
                         cc_small_graph_threshold=CC_THRESHOLD)
    n_cluster_rows = result["clusters"].count()
    dt = time.perf_counter() - t0
    cc_stats = result["report"]["cc"]
    if rep >= WARMUPS:
        times.append(dt)

out = {"cpus": cpus, "n_pages": n, "times": times,
       "sec": sorted(times)[len(times) // 2] if times else None,
       "n_cluster_rows": n_cluster_rows, "cc_stats": cc_stats}

if collect_evidence:
    # one extra (untimed) pass to record the skew-path evidence
    from pyspark.sql import functions as F
    from medtype_spark.operators.mentions import fused_mention_scan
    mentions = fused_mention_scan(pages, lex, None, matcher="set")
    units = mentions.select("block_key", "norm_form").distinct()
    sizes = (units.groupBy("block_key").count()
             .agg(F.count(F.lit(1)).alias("n_blocks"),
                  F.max("count").alias("max_block_units"),
                  F.sum((F.col("count") > HOT_THRESHOLD).cast("long"))
                  .alias("n_salted_blocks")).collect()[0])
    res = run_linkage(pages, lex, etypes, cleanup=True, type_scorer="stub",
                      matcher="set", hot_threshold=HOT_THRESHOLD,
                      target_cell=TARGET_CELL,
                      cc_small_graph_threshold=CC_THRESHOLD)
    stats2 = res["report"]["cc"]
    n_edges = res["edges"].count()
    n_forms = units.select("norm_form").distinct().count()
    top_alias_share = (mentions.groupBy("mention")
                       .count().orderBy(F.desc("count")).limit(1)
                       .collect()[0]["count"]) / mentions.count()
    out["evidence"] = {
        "n_surface_aliases": len(lex),
        "n_norm_forms": n_forms,
        "n_blocks": sizes["n_blocks"],
        "max_block_units": sizes["max_block_units"],
        "n_salted_blocks": int(sizes["n_salted_blocks"]),
        "hot_threshold": HOT_THRESHOLD,
        "target_cell": TARGET_CELL,
        "n_form_edges": n_edges,
        "cc_small_graph_threshold": CC_THRESHOLD,
        "cc_path": stats2.get("path"),
        "cc_rounds": stats2.get("rounds"),
        "top_alias_mention_share": round(top_alias_share, 4),
    }

print(json.dumps(out))
"""


def run_level(cpus, n_pages, n_entities, repeats, evidence=False):
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(n_pages),
         str(n_entities), str(repeats), "1" if evidence else "0"],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
    n_entities = int(os.environ.get("SKEW_ENTITIES", "20000"))
    repeats = int(os.environ.get("SKEW_REPEATS", "3"))
    lo = int(os.environ.get("SKEW_LO", "2"))
    hi = int(os.environ.get("SKEW_HI", "8"))

    # paired design (see scaling_bench.py): alternate lo/hi fresh JVMs
    pairs, lo_runs, hi_runs = [], [], []
    cc_stats = None
    n_cluster_rows = None
    for _ in range(repeats):
        r_lo = run_level(lo, n_pages, n_entities, 1)
        r_hi = run_level(hi, n_pages, n_entities, 1)
        lo_runs.append(r_lo["sec"])
        hi_runs.append(r_hi["sec"])
        pairs.append(round(r_lo["sec"] / r_hi["sec"], 3))
        cc_stats = r_hi["cc_stats"]
        assert r_lo["n_cluster_rows"] == r_hi["n_cluster_rows"], "nondeterminism"
        n_cluster_rows = r_hi["n_cluster_rows"]

    # evidence pass (untimed, one extra JVM at hi level)
    ev = run_level(hi, n_pages, n_entities, 0, evidence=True)["evidence"]

    speedup = _median(pairs)
    blk = _median(lo_runs) / _median(hi_runs)
    report = {
        "workload": "zipf_skew_flagship",
        "n_pages": n_pages,
        "n_entities": n_entities,
        "estimator": f"median_of_{repeats}_paired_speedups",
        "levels": {"low_cpus": lo, "high_cpus": hi},
        "low_sec": [round(x, 2) for x in lo_runs],
        "high_sec": [round(x, 2) for x in hi_runs],
        "pair_speedups": pairs,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / (hi / lo), 3),
        "block_scaling_efficiency": round(blk / (hi / lo), 3),
        "target": 0.8,
        "throughput_low_docs_per_sec": round(n_pages / _median(lo_runs), 1),
        "throughput_high_docs_per_sec": round(n_pages / _median(hi_runs), 1),
        "n_cluster_rows": n_cluster_rows,
        "cc_stats_timed_run": cc_stats,
        "skew_evidence": ev,
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
