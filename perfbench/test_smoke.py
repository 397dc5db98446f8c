"""Tiny-size runs of every workload in BENCHMARK.json.

Each workload runs once untraced and once traced on 2% of its pages
(and headline tables at 2% of scale 0.1); every run must end with the
result line, report correct outputs and print every declared metric,
by name and with its unit, both as a log line and in the result.  The
table generator's q10 answer is checked against a brute-force count.

    python3 -m pytest perfbench/test_smoke.py -q      # ~6 min on 4 cores

Do not run it while a benchmark is being timed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tables  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2  # warm-up + at least one timed op
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    printed = {line.split()[0]: line.split()[-1] for line in lines[:-1]
               if not line.startswith("#") and len(line.split()) == 3}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert printed.get(m["name"]) == m["unit"], m["name"]


def test_expected_q10_rows_matches_brute_force(tmp_path):
    tables.write_tables(str(tmp_path), 0.001, seed=3)
    users = tables.read_column(str(tmp_path), "events", "user_id")
    micros = tables.read_column(str(tmp_path), "events", "ts").astype(
        "datetime64[us]").astype("int64")
    with_pair = set()
    for user in np.unique(users):
        ts = np.sort(micros[users == user])
        if len(ts) > 1 and np.diff(ts).min() <= 300_000_000:
            with_pair.add(int(user))
    assert tables.expected_q10_rows(str(tmp_path)) == len(with_pair)
