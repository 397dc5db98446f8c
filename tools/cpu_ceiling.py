"""Measure this machine's parallel-CPU scaling ceiling.

Runs a fixed pure-python busy-loop stage (64 equal tasks, no data, no
shuffle) at several local[N] levels.  Whatever efficiency THIS shows is
the best any pipeline can measure on this host at those levels — it
bounds the flagship scaling evidence that tools/scaling_bench.py
measures at N = nproc // 4 -> 4N.

Usage: python tools/cpu_ceiling.py [levels...]   (default: 2 4 8 16 32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the worker imports this checkout's package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + r"""
import sys, time
from medtype_spark.session import get_spark
import pandas as pd
cpus = int(sys.argv[1])
spark = get_spark("cpuceil", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
def burn(pdfs):
    for pdf in pdfs:
        x = 0
        for _ in range(12_000_000):
            x += 1
        yield pd.DataFrame({"n": [x]})
df = spark.range(0, 64, 1, 64).mapInPandas(burn, "n long")
df.count()  # warm-up, discarded
t0 = time.perf_counter(); df.count()
print(round(time.perf_counter() - t0, 3))
"""


def main():
    levels = [int(x) for x in sys.argv[1:]] or [2, 4, 8, 16, 32]
    times = {}
    for n in levels:
        out = subprocess.run(
            [sys.executable, "-c", WORKER, str(n)],
            capture_output=True, text=True, check=True,
        )
        times[n] = float(out.stdout.strip().splitlines()[-1])
    report = {"sec": times}
    pairs = {}
    for a in levels:
        for b in levels:
            if b == 4 * a:
                pairs[f"{a}->{b}"] = round((times[a] / times[b]) / 4, 3)
    report["n_to_4n_efficiency"] = pairs
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
