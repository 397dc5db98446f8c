"""Annotation TSV grammar, weak projection, error labels,
SelectAlternatives back-off, streaming reassembly, significance."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from medtype_spark.evaluation.annotations import (
    classify_errors,
    error_summary,
    read_annotation_tsv,
    weak_projection,
)
from medtype_spark.evaluation.prepare import select_alternatives
from medtype_spark.streaming.serving import reassemble_jobs, split_into_partials

ANN = "docid:string, start:long, end:long, candidates:array<struct<eid:string,score:double,type:string>>"


def _ann(spark, rows):
    return spark.createDataFrame(rows, ANN)


def test_annotation_tsv_grammar(spark, tmp_path):
    p = tmp_path / "ann.tsv"
    p.write_text(
        "d1\t0\t5\tE1\n"                      # id only
        "d1\t7\t9\tE2\t0.8\n"                 # id + score
        "d2\t0\t3\tE3\t0.5\tTY1\tE4\t0.9\tTY2\n"  # 3n candidates, sorted desc on parse
        "d3\t1\t2\n"                          # no candidates
    )
    got = {
        (r["docid"], r["start"], r["end"]): [(c["eid"], c["score"], c["type"]) for c in r["candidates"]]
        for r in read_annotation_tsv(spark, str(p)).collect()
    }
    assert got[("d1", 0, 5)] == [("E1", 1.0, None)]
    assert got[("d1", 7, 9)] == [("E2", 0.8, None)]
    # best-first sort on parse (annotation.py:108)
    assert got[("d2", 0, 3)] == [("E4", 0.9, "TY2"), ("E3", 0.5, "TY1")]
    assert got[("d3", 1, 2)] == []


def test_weak_projection(spark):
    ann = _ann(spark, [("d1", 2, 4, [("E1", 1.0, "O")])])
    rows = weak_projection(ann).collect()
    assert sorted(r["start"] for r in rows) == [2, 3, 4]
    # end-exclusive char spans, matching ToWeak (neleval/weak.py:20-21)
    assert all(r["end"] == r["start"] + 1 for r in rows)


def test_error_labels(spark):
    gold = _ann(spark, [
        ("d", 0, 1, [("E1", 1.0, "O")]),    # correct-link
        ("d", 2, 3, [("E1", 1.0, "O")]),    # wrong-link
        ("d", 4, 5, [("E1", 1.0, "O")]),    # missing
        ("d", 8, 9, [("NIL1", 1.0, "O")]),  # nil-as-link
        ("d", 10, 11, [("E5", 1.0, "O")]),  # link-as-nil
        ("d", 12, 13, [("NIL2", 1.0, "O")]),  # correct-nil
    ])
    system = _ann(spark, [
        ("d", 0, 1, [("E1", 0.9, "O")]),
        ("d", 2, 3, [("E2", 0.9, "O")]),
        ("d", 6, 7, [("E3", 0.9, "O")]),    # extra
        ("d", 8, 9, [("E4", 0.9, "O")]),
        ("d", 10, 11, [("NIL9", 0.9, "O")]),
        ("d", 12, 13, [("NIL3", 0.9, "O")]),
    ])
    got = {(r["start"]): r["label"] for r in classify_errors(gold, system).collect()}
    # label spellings are byte-identical to analyze.py:19-31
    assert got == {0: "correct link", 2: "wrong-link", 4: "missing",
                   6: "extra", 8: "nil-as-link", 10: "link-as-nil",
                   12: "correct nil"}
    summary = {r["label"]: r["n"] for r in error_summary(classify_errors(gold, system)).collect()}
    assert summary["correct link"] == 1 and summary["extra"] == 1


def test_select_alternatives_backoff(spark):
    gold = _ann(spark, [
        # span match: system top at same span is E2 → pick E2 (pos 1)
        ("d1", 0, 5, [("E1", 0.9, None), ("E2", 0.8, None)]),
        # doc match: no system at this span; E9 seen in doc d1
        ("d1", 10, 15, [("E8", 0.9, None), ("E9", 0.8, None)]),
        # collection match: E7 only in doc d2's system output
        ("d1", 20, 25, [("E6", 0.9, None), ("E7", 0.8, None)]),
        # no match anywhere → first candidate
        ("d1", 30, 35, [("EA", 0.9, None), ("EB", 0.8, None)]),
        # single candidate: untouched
        ("d1", 40, 45, [("EC", 0.9, None)]),
    ])
    system = _ann(spark, [
        ("d1", 0, 5, [("E2", 1.0, None)]),
        ("d1", 50, 55, [("E9", 1.0, None)]),
        ("d2", 0, 5, [("E7", 1.0, None)]),
    ])
    got = {
        r["start"]: [c["eid"] for c in r["candidates"]]
        for r in select_alternatives(gold, system).collect()
    }
    assert got[0] == ["E2"]
    assert got[10] == ["E9"]
    assert got[20] == ["E7"]
    assert got[30] == ["EA"]
    assert got[40] == ["EC"]


def test_streaming_split_and_reassemble(spark):
    reqs = spark.createDataFrame(
        [("j1", [f"t{i}" for i in range(10)]), ("j2", ["a", "b", "c"]),
         ("j0", [])],  # empty job: one empty partial, never dropped
        "job_id:string, texts:array<string>",
    )
    partials = split_into_partials(reqs, max_batch_size=4)
    rows = partials.collect()
    by_job = {}
    for r in rows:
        by_job.setdefault(r["job_id"], []).append((r["partial_id"], r["items"], r["n_partials"]))
    assert len(by_job["j1"]) == 3 and all(n == 3 for _, _, n in by_job["j1"])
    assert len(by_job["j2"]) == 1
    assert by_job["j0"] == [(0, [], 1)]  # empty job round-trips

    # reassembly: results arrive out of order; drop one partial of j3
    done = partials.withColumnRenamed("items", "results")
    incomplete = spark.createDataFrame(
        [("j3", 0, ["x"], 2)],
        "job_id:string, partial_id:int, results:array<string>, n_partials:int",
    )
    out = reassemble_jobs(done.unionByName(incomplete))
    got = {r["job_id"]: r["results"] for r in out.collect()}
    assert got["j1"] == [f"t{i}" for i in range(10)]  # order restored
    assert got["j2"] == ["a", "b", "c"]
    assert got["j0"] == []  # empty job completes with empty results
    assert "j3" not in got  # checksum incomplete → held back


def test_windowed_request_stats_stream(spark, tmp_path):
    """Watermark + window agg on a real stream: on-time rows aggregate
    per window; a row later than the watermark is dropped."""
    import json as _json

    from medtype_spark.streaming.serving import windowed_request_stats

    src = tmp_path / "ev"
    src.mkdir()
    rows1 = [
        {"user_id": 1, "ts": "2024-01-01T00:01:00", "value": 10.0},
        {"user_id": 1, "ts": "2024-01-01T00:04:00", "value": 20.0},
        {"user_id": 2, "ts": "2024-01-01T00:12:00", "value": 5.0},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    # batch 2 advances event time far past window 1 + watermark; the
    # new watermark takes effect from the NEXT batch on
    (src / "b2.json").write_text(_json.dumps(
        {"user_id": 9, "ts": "2024-01-01T09:00:00", "value": 1.0}
    ))
    # the watermark computed from batch N's data becomes OPERATIVE in
    # batch N+2 (it is committed at the end of N+1), so a spacer batch
    # sits between the advancer and the late arrival
    (src / "b3.json").write_text(_json.dumps(
        {"user_id": 9, "ts": "2024-01-01T09:01:00", "value": 1.0}
    ))
    # batch 4: late arrival — window 1's state is evicted and the input
    # filter runs at watermark 08:30, so this row must be dropped
    (src / "b4.json").write_text(_json.dumps(
        {"user_id": 1, "ts": "2024-01-01T00:02:00", "value": 999.0}
    ))
    # FileStreamSource orders by modification time — pin the batch order
    import os

    t0 = os.stat(src / "b1.json").st_mtime
    for i, f in enumerate(["b1.json", "b2.json", "b3.json", "b4.json"]):
        os.utime(src / f, (t0 - 300 + i * 60, t0 - 300 + i * 60))

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    out = windowed_request_stats(stream)
    q = (
        out.writeStream.format("memory").queryName("winstats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["window_start"])): (r["n_requests"], r["avg_msg_size"])
        for r in spark.sql("select * from winstats").collect()
    }
    # window [00:00,00:10) for user 1 closed with the two on-time rows;
    # the 999.0 late row (beyond watermark) did not reopen/alter it
    assert got[(1, "2024-01-01 00:00:00")] == (2, 15.0)
    assert got[(2, "2024-01-01 00:10:00")] == (1, 5.0)

    # batch-mode parity of the same plan builder
    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 10.0), (1, "2024-01-01 00:04:00", 20.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b = windowed_request_stats(batch).collect()
    assert (b[0]["n_requests"], b[0]["avg_msg_size"]) == (2, 15.0)


def test_permutation_and_bootstrap(spark):
    from medtype_spark.metrics.significance import (
        bootstrap_diffs,
        percentile_ci_exact,
        permutation_test,
    )

    # system1 clearly better than system2 on every doc
    rows = [(f"d{i}", 9, 1, 1, 5, 5, 5) for i in range(30)]
    df = spark.createDataFrame(
        rows, "docid:string, tp1:long, fp1:long, fn1:long, tp2:long, fp2:long, fn2:long"
    )
    res = permutation_test(df, n_trials=200).collect()[0]
    assert res["base_diff"] > 0.3
    assert res["p_value"] < 0.05  # significant

    diffs = bootstrap_diffs(df, n_trials=100)
    ci = {r["level"]: (r["lo"], r["hi"]) for r in percentile_ci_exact(diffs, 100).collect()}
    lo, hi = ci[95]
    assert lo <= res["base_diff"] <= hi or lo > 0  # a positive-effect CI


def test_significance_md5_mode_and_exact_ci(spark):
    """md5 trial hashing is partition-invariant (the q68 oracle
    property) and percentile_ci_exact returns true order statistics of the
    bootstrap trial distribution."""
    import math

    from medtype_spark.metrics.significance import (
        bootstrap_diffs,
        percentile_ci_exact,
        permutation_test,
    )

    rows = [(i, (i % 6) + 3, i % 4, i % 3, (i + 2) % 6 + 1, (i + 1) % 4, (i + 2) % 3)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "docid:long, tp1:long, fp1:long, fn1:long, tp2:long, fp2:long, fn2:long"
    )
    n_trials = 120
    p1 = permutation_test(df, n_trials=n_trials).collect()[0]
    p2 = permutation_test(df.repartition(7), n_trials=n_trials).collect()[0]
    assert (p1["base_diff"], p1["p_value"]) == (p2["base_diff"], p2["p_value"])

    diffs = bootstrap_diffs(df, n_trials=n_trials)
    trial_diffs = sorted(
        (r["diff"], r["trial"]) for r in diffs.collect()
    )
    ci = {
        r["level"]: (r["lo"], r["hi"])
        for r in percentile_ci_exact(diffs, n_trials).collect()
    }
    for lv in (90, 95, 99):
        alpha = (100 - lv) / 200.0
        lo_r = max(1, math.ceil(alpha * n_trials))
        hi_r = max(1, math.ceil((1 - alpha) * n_trials))
        assert ci[lv] == (trial_diffs[lo_r - 1][0], trial_diffs[hi_r - 1][0])
