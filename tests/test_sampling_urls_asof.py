"""Round-5 operators: deterministic hash sampling/splits, URL
canonicalization, and the keyed as-of join."""

from __future__ import annotations

import datetime
import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from medtype_spark.operators.asof import asof_join
from medtype_spark.operators.sampling import (
    PREFIX_LEN,
    hash_sample_flag,
    hash_split,
    rate_to_threshold,
)
from medtype_spark.functions.urls import (
    canonicalize_url,
    registered_domain,
    url_host,
)


# ---------------------------------------------------------------- sampling

def test_rate_to_threshold_edges():
    assert rate_to_threshold(0.0) == "0" * PREFIX_LEN
    assert rate_to_threshold(1.0) == "z" * PREFIX_LEN  # > every hex bucket
    assert rate_to_threshold(0.2) == "3333"
    assert rate_to_threshold(0.8) == "cccd"
    with pytest.raises(ValueError):
        rate_to_threshold(1.5)


def test_hash_sample_layout_independent(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    keep = hash_sample_flag(F.col("k"), 0.25)
    kept1 = {r.k for r in df.where(keep).collect()}
    kept2 = {r.k for r in df.repartition(7).where(keep).collect()}
    assert kept1 == kept2  # selection is a function of the data only
    # rate is approximately honored (binomial, n=2000, p=.25)
    assert 400 <= len(kept1) <= 600
    # matches the pure-python replay of the contract
    expect = {
        k for k in range(2000)
        if hashlib.md5(str(k).encode()).hexdigest()[:PREFIX_LEN] < "4000"
    }
    assert kept1 == expect


def test_hash_split_partitions_everything_once(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    out = hash_split(df, "k").groupBy("split").count().collect()
    got = {r["split"]: r["count"] for r in out}
    assert sum(got.values()) == 1000
    assert set(got) == {"train", "val", "test"}
    assert got["train"] > got["val"] and got["train"] > got["test"]


# ---------------------------------------------------------------- urls

URL_CASES = [
    # (raw, canonical, registered_domain)
    ("HTTP://WWW.Example.COM:80/a/b/", "http://example.com/a/b", "example.com"),
    ("https://Sub.Site.co.uk:443/x?b=2&a=1#frag",
     "https://sub.site.co.uk/x?b=2&a=1", "site.co.uk"),
    ("http://user:pw@host.org/p?", "http://host.org/p", "host.org"),
    ("https://host.com:8443/p", "https://host.com:8443/p", "host.com"),
    ("http://www.only.co.uk/", "http://only.co.uk/", "only.co.uk"),
    ("https://A.B.C.example.com", "https://a.b.c.example.com/", "example.com"),
    ("http://localhost/x/", "http://localhost/x", "localhost"),
]


def test_canonicalize_url_cases(spark):
    df = spark.createDataFrame([Row(u=u) for u, _, _ in URL_CASES])
    got = df.select(
        "u",
        canonicalize_url(F.col("u")).alias("c"),
        registered_domain(url_host(canonicalize_url(F.col("u")))).alias("d"),
    ).collect()
    by_u = {r.u: (r.c, r.d) for r in got}
    for u, want_c, want_d in URL_CASES:
        assert by_u[u] == (want_c, want_d), u


def test_canonicalize_idempotent(spark):
    df = spark.createDataFrame([Row(u=u) for u, _, _ in URL_CASES])
    once = df.select(canonicalize_url(F.col("u")).alias("c"))
    twice = once.select(canonicalize_url(F.col("c")).alias("c2"), "c")
    for r in twice.collect():
        assert r.c2 == r.c


# ---------------------------------------------------------------- asof join

def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute, 0)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [Row(k=1, lts=_ts(10), lid=100),
         Row(k=1, lts=_ts(1), lid=101),
         Row(k=2, lts=_ts(5), lid=102),   # no right rows for k=2
         Row(k=1, lts=_ts(5), lid=103)]   # equal-ts match
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=_ts(5), rid=7, v=1.0),
         Row(k=1, rts=_ts(8), rid=8, v=2.0),
         Row(k=1, rts=_ts(5), rid=6, v=9.0)]  # tie at ts=5 -> max rid wins
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    payload_cols=["rid", "v"], tiebreak="rid")
    got = {r.lid: (r.rid, r.v) for r in out.collect()}
    assert got[100] == (8, 2.0)      # latest at-or-before 00:10
    assert got[101] == (None, None)  # nothing before 00:01
    assert got[102] == (None, None)  # key with no right side
    assert got[103] == (7, 1.0)      # equal ts matches; tie -> rid 7 over 6


def test_asof_join_preserves_left_rows(spark):
    """Every left row appears exactly once regardless of matches."""
    right = spark.createDataFrame([Row(k=1, rts=_ts(5), rid=7)])
    big_left = spark.range(0, 500).select(
        (F.col("id") % 5).alias("k"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("lts"),
        F.col("id").alias("lid"),
    )
    out = asof_join(big_left, right, "k", "lts", "rts", ["rid"])
    assert out.count() == 500
    assert out.select("lid").distinct().count() == 500


def test_asof_join_partition_invariance(spark):
    import random

    rnd = random.Random(7)
    lrows = [Row(k=rnd.randrange(4), lts=_ts(rnd.randrange(60)), lid=i)
             for i in range(300)]
    rrows = [Row(k=rnd.randrange(4), rts=_ts(rnd.randrange(60)), rid=i)
             for i in range(80)]
    left = spark.createDataFrame(lrows)
    right = spark.createDataFrame(rrows)
    a = asof_join(left, right, "k", "lts", "rts", ["rid"], tiebreak="rid")
    b = asof_join(left.repartition(13), right.repartition(3),
                  "k", "lts", "rts", ["rid"], tiebreak="rid")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_asof_join_differential_vs_pandas_merge_asof(spark):
    """Differential vs pandas.merge_asof (independent reference
    implementation) on seeded random frames, unique (k, ts) per side."""
    import pandas as pd
    import random

    rnd = random.Random(99)
    for trial in range(3):
        lpairs = {(rnd.randrange(6), rnd.randrange(10_000)) for _ in range(250)}
        rpairs = {(rnd.randrange(6), rnd.randrange(10_000)) for _ in range(70)}
        lpdf = pd.DataFrame(
            [{"k": k, "lts": _ts(0) + datetime.timedelta(seconds=s), "lid": i}
             for i, (k, s) in enumerate(sorted(lpairs))]
        )
        rpdf = pd.DataFrame(
            [{"k": k, "rts": _ts(0) + datetime.timedelta(seconds=s), "rid": i}
             for i, (k, s) in enumerate(sorted(rpairs))]
        )
        want = pd.merge_asof(
            lpdf.sort_values("lts"), rpdf.sort_values("rts"),
            left_on="lts", right_on="rts", by="k", direction="backward",
        )
        got = asof_join(
            spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
            on="k", left_ts="lts", right_ts="rts", payload_cols=["rid"],
        ).toPandas()
        wmap = {r.lid: (None if pd.isna(r.rid) else int(r.rid))
                for r in want.itertuples()}
        gmap = {r.lid: (None if pd.isna(r.rid) else int(r.rid))
                for r in got.itertuples()}
        assert gmap == wmap, f"trial {trial}"


# ---------------------------------------------------------------- pii

def test_scrub_pii_cases(spark):
    from medtype_spark.functions.pii import pii_counts, scrub_pii

    cases = [
        ("mail bob.smith+x@sub.example.co.uk end", "mail <EMAIL> end", (1, 0, 0)),
        ("dial +44 555 1234 or 1-800-9999 now", "dial <PHONE> or <PHONE> now", (0, 0, 2)),
        ("host 192.168.0.1 and 10.0.0.255", "host <IP> and <IP>", (0, 2, 0)),
        ("a@b.com via 8.8.8.8 at +1-555-0000", "<EMAIL> via <IP> at <PHONE>", (1, 1, 1)),
        # conservative non-matches: bare digit runs, version strings,
        # @handles without a TLD, hyphenated words
        ("build 20240101 v1.2 @handle x-y-z", "build 20240101 v1.2 @handle x-y-z", (0, 0, 0)),
    ]
    from pyspark.sql import Row
    df = spark.createDataFrame([Row(t=t) for t, _, _ in cases])
    c = pii_counts(F.col("t"))
    got = df.select(
        "t", scrub_pii(F.col("t")).alias("s"),
        c["email"], c["ipv4"], c["phone"],
    ).collect()
    by_t = {r.t: (r.s, (r.n_pii_email, r.n_pii_ipv4, r.n_pii_phone)) for r in got}
    for t, want_s, want_c in cases:
        assert by_t[t] == (want_s, want_c), t


def test_stratified_take_exact_k_and_layout_independent(spark):
    from medtype_spark.operators.sampling import stratified_take

    df = spark.range(0, 900).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    taken = stratified_take(df, "k", ["g"], k=7)
    rows = taken.collect()
    per_g = {}
    for r in rows:
        per_g.setdefault(r.g, []).append((r.strat_rank, r.k))
    assert set(len(v) for v in per_g.values()) == {7}  # exactly k per stratum
    for v in per_g.values():
        assert sorted(r for r, _ in v) == list(range(1, 8))  # ranks 1..k
    # layout-independent: same exemplars after repartition
    again = {(r.g, r.k) for r in
             stratified_take(df.repartition(11), "k", ["g"], k=7).collect()}
    assert again == {(r.g, r.k) for r in rows}
    # pure-python replay of the contract
    for g, v in per_g.items():
        ks = [k for k in range(900) if str(k % 3) == g]
        ks.sort(key=lambda k: (hashlib.md5(str(k).encode()).hexdigest()[:4], k))
        assert sorted(k for _, k in v) == sorted(ks[:7])
