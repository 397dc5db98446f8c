"""Cross-document shared n-gram stats (dedup/crossdoc.py)."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from medtype_spark.dedup.crossdoc import cross_doc_shared_ngrams


def _py_shared(docs, n=8):
    """Independent python reference: per-doc distinct n-grams, corpus
    doc-frequency, shared counts."""
    grams_by_doc = {}
    for doc_id, text in docs:
        toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
        grams_by_doc[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    dfreq = Counter(g for gs in grams_by_doc.values() for g in gs)
    out = {}
    for doc_id, gs in grams_by_doc.items():
        shared = sum(1 for g in gs if dfreq[g] >= 2)
        out[doc_id] = {
            "n_distinct_ngrams": len(gs),
            "n_shared_ngrams": shared,
            "shared_ngram_ratio": 0.0 if not gs else round(shared / len(gs), 6),
            "max_ngram_doc_freq": max((dfreq[g] for g in gs), default=0),
        }
    return out


SPAN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 tokens


DOCS = [
    (0, SPAN + " unique tail zero zero0 zeroa zerob zeroc zerod"),
    (1, "lead one one1 onea oneb onec oned onee " + SPAN),   # shares the span
    (2, SPAN),                                               # the bare span
    (3, SPAN),                                               # exact duplicate of 2
    (4, "only seven small words here right now"),            # too short for n=8
    (5, ""),                                                 # empty
    (6, "totally different words " * 5),                     # internal repeats only
]


def test_matches_python_reference(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in cross_doc_shared_ngrams(df).collect()}
    want = _py_shared(DOCS)
    assert set(got) == set(want)
    for doc_id, exp in want.items():
        for k, v in exp.items():
            if isinstance(v, float):
                assert got[doc_id][k] == pytest.approx(v, abs=1e-9), (doc_id, k)
            else:
                assert got[doc_id][k] == v, (doc_id, k)


def test_planted_span_is_detected(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    rows = {r["doc_id"]: r.asDict() for r in cross_doc_shared_ngrams(df).collect()}
    # docs 0,1,2,3 all contain the 10-token span -> its three 8-grams
    # are shared by all four
    for d in (0, 1, 2, 3):
        assert rows[d]["n_shared_ngrams"] >= 3, d
        assert rows[d]["max_ngram_doc_freq"] == 4, d
    # exact duplicates share EVERYTHING
    assert rows[2]["shared_ngram_ratio"] == 1.0
    assert rows[3]["shared_ngram_ratio"] == 1.0
    # short/empty docs: zero grams, ratio 0, still present
    for d in (4, 5):
        assert rows[d]["n_distinct_ngrams"] == 0
        assert rows[d]["shared_ngram_ratio"] == 0.0
        assert rows[d]["max_ngram_doc_freq"] == 0
    # internal repetition without a cross-doc partner is NOT shared
    assert rows[6]["n_shared_ngrams"] == 0


def test_within_doc_repeats_counted_once(spark):
    """A gram repeated inside ONE doc has doc_freq 1 (array_distinct
    before the explode), so it is not 'shared'."""
    text = "a b c d e f g h " * 3  # the 8-gram 'a b ... h' recurs in-doc
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    row = cross_doc_shared_ngrams(df).collect()[0]
    assert row["n_shared_ngrams"] == 0
    assert row["max_ngram_doc_freq"] == 1


def test_random_corpus_differential(spark):
    """Seeded random docs over a tiny vocabulary (forcing collisions)
    match the python reference on every column."""
    import random

    rng = random.Random(13)
    vocab = ["x", "y", "zz", "the", "cat"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in cross_doc_shared_ngrams(df).collect()}
    want = _py_shared(docs)
    for doc_id, exp in want.items():
        for k, v in exp.items():
            if isinstance(v, float):
                assert got[doc_id][k] == pytest.approx(v, abs=1e-9), (doc_id, k)
            else:
                assert got[doc_id][k] == v, (doc_id, k)


def test_decontaminate_planted_overlap(spark):
    from pyspark.sql import Row

    from medtype_spark.dedup.crossdoc import decontaminate

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    corpus = spark.createDataFrame([
        Row(doc_id=1, text=f"intro words here {shared} trailing tail"),
        Row(doc_id=2, text="completely disjoint text with other tokens "
                           "one two three four five six seven eight nine"),
        Row(doc_id=3, text="too short"),  # < 8 tokens: can never hit
    ])
    bench = spark.createDataFrame([
        Row(doc_id=100, text=f"benchmark question: {shared} answer choice"),
    ])
    got = {r.doc_id: r.contaminated
           for r in decontaminate(corpus, bench).collect()}
    assert got == {1: 1, 2: 0, 3: 0}
