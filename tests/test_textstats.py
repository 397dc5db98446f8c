"""Gopher-rule quality verdict: handcrafted rule-flip cases plus a
differential against an independent pure-python reimplementation of
the published thresholds (Rae et al. 2021, Appendix A)."""

import re

import pytest

from medtype_spark.textstats.quality import GOPHER_REQUIRED_WORDS, gopher_quality

PASSING = (
    "The quick brown fox jumps over the lazy dog and then runs to have "
    "a rest with friends near the old stone bridge that stands beside "
    "the river where many travellers stop to be amazed of the view and "
    "share stories about the long road behind them every single day."
)


def _py_gopher(text: str) -> dict:
    toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
    nt = len(toks)
    wc = sum(len(t) for t in toks)
    nsym = len(re.findall(r"#|…|\.\.\.", text))
    lines = text.split("\n")
    nl = len(lines)
    nbul = sum(1 for l in lines if re.match(r"^[•‣▪\-\*]", l.lstrip(" ")))
    nell = sum(1 for l in lines if re.search(r"(\.\.\.|…)$", l.rstrip(" ")))
    nalpha = sum(1 for t in toks if re.search(r"[A-Za-z]", t))
    low = [t.lower() for t in toks]
    nreq = sum(1 for w in GOPHER_REQUIRED_WORDS if w in low)
    distinct = list(dict.fromkeys(lines))
    ndup = nl - len(distinct)
    lchars = sum(len(l) for l in lines)
    dchars = lchars - sum(len(l) for l in distinct)
    return {
        "gopher_pass": (
            50 <= nt <= 100_000
            and 3 * nt <= wc <= 10 * nt
            and 10 * nsym <= nt
            and 10 * nbul <= 9 * nl
            and 10 * nell <= 3 * nl
            and 10 * nalpha >= 8 * nt
            and nreq >= 2
            and 10 * ndup <= 3 * nl
            and (lchars == 0 or 5 * dchars <= lchars)
        ),
        "n_req_stopwords": nreq,
    }


CASES = [
    ("pass", PASSING),
    ("too_short", "The cat sat on the mat to be with that dog."),
    ("symbols", PASSING + " " + "# " * 20),
    ("bullets", "\n".join("- item %d" % i for i in range(20)) + "\n" + PASSING),
    ("ellipses", "\n".join("to be continued..." for _ in range(9)) + "\n" + PASSING),
    ("non_alpha", PASSING + " " + "123 456 789 " * 20),
    ("no_stopwords", " ".join("alpha beta gamma delta".split() * 20)),
    ("empty", ""),
    ("long_words", " ".join(["antidisestablishmentarianism"] * 60)),
    ("dup_lines", "\n".join([PASSING] + ["repeat me now"] * 9)),
]


@pytest.mark.parametrize("name,text", CASES, ids=[c[0] for c in CASES])
def test_gopher_matches_python_reference(spark, name, text):
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    row = gopher_quality(df).collect()[0]
    exp = _py_gopher(text)
    assert row["gopher_pass"] == int(exp["gopher_pass"]), name
    assert row["n_req_stopwords"] == exp["n_req_stopwords"], name


def test_gopher_rule_flips(spark):
    """Each adversarial case flips the verdict off the passing doc."""
    rows = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(CASES)], "doc_id int, text string"
    )
    got = {r["doc_id"]: r["gopher_pass"] for r in gopher_quality(rows).collect()}
    assert got[0] == 1
    for i in range(1, len(CASES)):
        assert got[i] == 0, CASES[i][0]


# ---------------------------------------------------------------------------
# Gopher n-gram repetition rules
# ---------------------------------------------------------------------------

from collections import Counter

from medtype_spark.textstats.quality import GOPHER_NGRAM_RULES, gopher_repetition


def _py_repetition(text: str) -> dict:
    toks = [t.lower() for t in re.split(r"\s+", text.strip()) if t != ""]
    wc = sum(len(t) for t in toks)
    out = {}
    ok = True
    for n, kind, (num, den) in GOPHER_NGRAM_RULES:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        cnt = Counter(grams)
        if kind == "top":
            if cnt:
                # max count, ties to lexicographically smallest gram
                g = min(cnt, key=lambda g: (-cnt[g], g))
                mass = cnt[g] * (len(g) - (n - 1))
            else:
                mass = 0
        else:
            mass = sum(c * (len(g) - (n - 1)) for g, c in cnt.items() if c > 1)
        out[f"{kind}_{n}gram_char_ratio"] = 0.0 if wc == 0 else round(mass / wc, 6)
        ok = ok and (den * mass <= num * wc)
    out["gopher_rep_pass"] = int(ok)
    return out


REP_CASES = [
    ("pass", PASSING),
    ("top2_loop", "the cat " * 40),
    ("top3_loop", "one two three " * 30),
    ("dup5_paste", PASSING + " " + " ".join(PASSING.split()[:12]) * 1),
    ("dup10_paste", PASSING + " " + " ".join(PASSING.split()[:30]) + " "
     + " ".join(PASSING.split()[:30])),
    ("short", "only four small words"),
    ("empty", ""),
    ("one_token", "word"),
    ("all_same", "same " * 60),
]


@pytest.mark.parametrize("name,text", REP_CASES, ids=[c[0] for c in REP_CASES])
def test_repetition_matches_python_reference(spark, name, text):
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    row = gopher_repetition(df).collect()[0].asDict()
    exp = _py_repetition(text)
    for k, v in exp.items():
        if isinstance(v, float):
            assert row[k] == pytest.approx(v, abs=1e-9), (name, k)
        else:
            assert row[k] == v, (name, k)


def test_repetition_verdicts(spark):
    """Loops and pastes trip the n-gram rules; clean prose and docs
    too short to FORM an n-gram pass.  (A 4-token doc fails top-4gram
    — its single 4-gram is the whole doc — matching the published
    filter, which runs the >=50-word rule alongside.)"""
    rows = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(REP_CASES)], "doc_id int, text string"
    )
    got = {r["doc_id"]: r["gopher_rep_pass"] for r in gopher_repetition(rows).collect()}
    names = [c[0] for c in REP_CASES]
    expect_fail = {"top2_loop", "top3_loop", "dup5_paste", "dup10_paste",
                   "short", "all_same"}
    for i, name in enumerate(names):
        assert got[i] == (0 if name in expect_fail else 1), name


def test_repetition_random_corpus_differential(spark):
    """30 seeded random docs over a tiny vocabulary (forcing heavy
    n-gram collisions) match the python reference on every column."""
    import random

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "the", "cat", "sat"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    rows = {r["doc_id"]: r.asDict() for r in gopher_repetition(df).collect()}
    for i, t in docs:
        exp = _py_repetition(t)
        for k, v in exp.items():
            got = rows[i][k]
            if isinstance(v, float):
                assert got == pytest.approx(v, abs=1e-9), (i, k, t)
            else:
                assert got == v, (i, k, t)


_RESTART_SCRIPT = """
import json
from medtype_spark.session import get_spark
from medtype_spark.textstats import quality as q

def build(spark):
    df = spark.createDataFrame(
        [(1, TEXT), (2, "short... text\\n- bullet #")], "doc_id int, text string")
    return [sorted(map(list, f(df).collect()))
            for f in (q.quality_features, q.gopher_quality)]

spark = get_spark("column-cache-restart", master="local[1]")
before = build(spark)
spark.stop()
spark = get_spark("column-cache-restart", master="local[1]")
after = build(spark)
spark.stop()
hits = [q._quality_cols.cache_info().hits, q._gopher_quality_cols.cache_info().hits]
print(json.dumps({"same": before == after, "hits": hits}))
"""


def test_cached_columns_survive_context_restart():
    """Cached Column builders (``_quality_cols``/``_gopher_quality_cols``)
    wrap JVM objects; after ``spark.stop()`` and a fresh ``get_spark()``
    the cached builders are reused and yield the same rows.  Runs in its
    own process so the shared test session is not stopped."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", f"TEXT = {PASSING!r}\n" + _RESTART_SCRIPT],
        cwd=root, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"same": True, "hits": [1, 1]}
