"""The MedType candidate filter (J8) — all three branches.

Semantics from medtype-as-service/server/medtype_serving/server/
__init__.py:524-544: empty prediction → keep all; else type-intersect
filter; filtered-to-empty → fall back to all.  Order must be preserved.
"""

from pyspark.sql import types as T

import pytest

from medtype_spark.operators.typefilter import filter_candidates

SCHEMA = T.StructType([
    T.StructField("mention_id", T.StringType()),
    T.StructField("candidates", T.ArrayType(T.StructType([
        T.StructField("eid", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]))),
    T.StructField("pred_type", T.ArrayType(T.StringType())),
])


ETYPES = [
    ("E1", ["Anatomy"]),
    ("E2", ["Disorders"]),
    ("E3", ["Anatomy", "Finding"]),
    # E9 deliberately missing from the map
]


def _run(spark, rows):
    mentions = spark.createDataFrame(rows, SCHEMA)
    etypes = spark.createDataFrame(ETYPES, ["eid", "types"])
    out = filter_candidates(mentions, etypes)
    return {
        r["mention_id"]: [c["eid"] for c in r["filtered_candidates"]]
        for r in out.collect()
    }


def test_all_branches(spark):
    rows = [
        # branch 1: empty prediction → keep all (incl. unknown E9)
        ("m_empty_pred", [("E1", 0.9), ("E9", 0.8)], []),
        # branch 2: normal filtering, order preserved
        ("m_filtered", [("E2", 0.9), ("E1", 0.8), ("E3", 0.7)], ["Anatomy"]),
        # branch 3: filter empties the list → fall back to original
        ("m_fallback", [("E2", 0.9), ("E9", 0.5)], ["Anatomy"]),
        # unknown eid treated as empty type set → dropped when others match
        ("m_unknown_dropped", [("E9", 0.95), ("E1", 0.5)], ["Anatomy"]),
    ]
    got = _run(spark, rows)
    assert got["m_empty_pred"] == ["E1", "E9"]
    assert got["m_filtered"] == ["E1", "E3"]
    assert got["m_fallback"] == ["E2", "E9"]
    assert got["m_unknown_dropped"] == ["E1"]


def test_order_preserved_when_many_survive(spark):
    rows = [
        ("m", [("E3", 0.9), ("E1", 0.85), ("E3", 0.2), ("E1", 0.1)], ["Anatomy"]),
    ]
    got = _run(spark, rows)
    assert got["m"] == ["E3", "E1", "E3", "E1"]
