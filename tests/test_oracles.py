"""Spark-vs-DuckDB differential checks for a representative subset of
the driver's queries()/oracle_sql() contract (sf0.001 for speed; the
driver runs the full set at sf0.01)."""

import duckdb
import pytest

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracles import TABLES, compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "q01_pricing_summary",
    "q05_order_fill_class",
    "q11_sliding_stats",
    "q12_micro_macro",
    "q13_clean_text",
    "q15_minhash",
    "q21_cluster_metrics",
    "q63_brat_scan",
    "q64_conll_scan",
    "q65_ceaf_fixture",
    "q25_cc_chains",
    "q26_salted_pair_counts",
    "q29_multi_id_match",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    res = compare(name, fn(spark, SF_DIR), sql, duck, strict=True)
    assert res.startswith("OK"), res


def test_q10_ignores_null_users_and_timestamps(spark, tmp_path):
    """q10's window sweep counts exactly like the self-join it replaced
    on dirty input: rows with a NULL user_id or ts overlap nothing
    (brute-force pair count as the reference)."""
    from datetime import datetime, timedelta
    from itertools import combinations

    import pyarrow as pa
    import pyarrow.parquet as pq

    from medtype_spark.queries import q10_interval_overlap_counts

    t0, m = datetime(2024, 1, 1), timedelta(minutes=1)
    events = [  # (event_id, user_id, ts)
        (1, 1, t0), (2, 1, t0 + 4 * m), (3, 1, t0 + 10 * m),
        (4, 2, t0), (5, 2, t0), (6, 2, t0 + 5 * m),
        (7, None, t0), (8, None, t0 + m), (9, None, t0 + 2 * m),
        (10, 3, None), (11, 3, None), (12, 3, t0),
        (13, 4, t0),
    ]
    eid, uid, ts = zip(*events)
    pq.write_table(
        pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
        }),
        str(tmp_path / "events.parquet"),
    )

    want: dict = {}
    for a, b in combinations(events, 2):
        if None in (a[1], a[2], b[2]) or a[1] != b[1]:
            continue
        if abs(a[2] - b[2]) <= 5 * m:
            want[a[1]] = want.get(a[1], 0) + 1
    assert want == {1: 1, 2: 3}

    got = {r["user_id"]: r["n_overlaps"]
           for r in q10_interval_overlap_counts(spark, str(tmp_path)).collect()}
    assert got == want
