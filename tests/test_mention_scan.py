"""Trie-compiled alias matcher: differential vs the flat longest-first
alternation it replaced, plus lexicon-scale viability."""

import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from medtype_spark.operators.mentions import build_alias_pattern


def _flat_pattern(aliases):
    """The replaced construction: longest-first alternation."""
    return re.compile(
        r"(?<![0-9A-Za-z])("
        + "|".join(re.escape(a) for a in sorted(aliases, key=len, reverse=True))
        + r")(?![0-9A-Za-z])"
    )


def _matches(pat, text):
    return [(m.start(1), m.end(1), m.group(1)) for m in pat.finditer(text)]


def test_known_cases():
    aliases = ["corp a", "corp a tail", "corp", "b-x", "b"]
    pat = build_alias_pattern(aliases)
    # longest match wins at a shared prefix
    assert _matches(pat, "see corp a tail end") == [(4, 15, "corp a tail")]
    assert _matches(pat, "see corp a end") == [(4, 10, "corp a")]
    assert _matches(pat, "see corp end") == [(4, 8, "corp")]
    # boundary: embedded occurrences rejected
    assert _matches(pat, "xcorp corpx") == []
    # backtrack to shorter terminal when the long one fails the boundary
    assert _matches(pat, "b-xy") == [(0, 1, "b")]
    # punctuation boundary is fine
    assert _matches(pat, "(corp)") == [(1, 5, "corp")]


ALIAS = st.text(alphabet="ab c-", min_size=1, max_size=8).filter(
    lambda s: re.search(r"[a-z0-9]", s)
)


@given(
    st.lists(ALIAS, min_size=1, max_size=25, unique=True),
    st.text(alphabet="ab c-xy.", max_size=120),
)
@settings(max_examples=300, deadline=None)
def test_differential_vs_flat_alternation(aliases, text):
    assert _matches(build_alias_pattern(aliases), text) == _matches(
        _flat_pattern(aliases), text
    )


def test_scales_to_large_lexicon():
    """10k-alias trie must compile and scan at a per-position cost
    comparable to the 30-alias flat pattern (the VERDICT viability
    bar: within 2x)."""
    import random

    rng = random.Random(3)
    words = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(4, 12)))
             for _ in range(12000)]
    big = sorted(set(words))[:10000]
    small = big[:30]
    text = " ".join(rng.choice("klmnopqrst") + w[:3] for w in big[:5000]) + " " + big[7] + " end"

    flat_small = _flat_pattern(small)
    t0 = time.perf_counter()
    for _ in range(3):
        _matches(flat_small, text)
    t_small = time.perf_counter() - t0

    trie_big = build_alias_pattern(big)
    t0 = time.perf_counter()
    for _ in range(3):
        got = _matches(trie_big, text)
    t_big = time.perf_counter() - t0

    assert any(m[2] == big[7] for m in got)
    # 333x the lexicon for at most ~2x the scan time
    assert t_big < 2.0 * t_small + 0.05, (t_small, t_big)


def test_set_matcher_parity_on_token_aligned_text():
    """iter_set_matches must agree with the trie regex span-for-span on
    space-token-aligned text (the contract: aliases start/end on token
    boundaries — the shape clean_text-normalized corpora have)."""
    import random as _random

    from medtype_spark.operators.mentions import iter_set_matches

    aliases = ["corp a", "corp a tail", "corp", "corp  dbl", "b", "zz top"]
    alias_map = {a: None for a in aliases}
    max_n = max(len(a.split(" ")) for a in aliases)
    pat = build_alias_pattern(aliases)

    fillers = ["lorem", "ipsum", "dolor", "xcorp", "corpx", "amet"]
    rng = _random.Random(5)
    texts = [
        "see corp a tail end", "see corp a end", "see corp end",
        "corp  dbl here", "b", "", "zz top zz corp a", "corp corp corp",
    ]
    for _ in range(400):
        n = rng.randint(0, 10)
        words = [rng.choice(fillers + aliases) for _ in range(n)]
        texts.append(" ".join(words))
    for text in texts:
        want = _matches(pat, text)
        got = list(iter_set_matches(text, alias_map, max_n))
        assert got == want, (text, got, want)


def test_set_matcher_parity_through_fused_scan(spark):
    """Full-pipeline parity: fused_mention_scan(matcher='set') produces
    the identical mention table to the trie matcher on a synthetic
    corpus (same rows, offsets, candidates, keys)."""
    from medtype_spark.datagen.pages import build_lexicon, synth_pages
    from medtype_spark.operators.mentions import fused_mention_scan

    pages, _ = synth_pages(spark, 300, n_entities=40, seed=11,
                           mentions_per_page=5)
    lex = build_lexicon(40)
    a2t = {}
    trie_rows = sorted(
        fused_mention_scan(pages, lex, a2t, matcher="trie").collect(),
        key=lambda r: (r["url"], r["start_offset"]),
    )
    set_rows = sorted(
        fused_mention_scan(pages, lex, a2t, matcher="set").collect(),
        key=lambda r: (r["url"], r["start_offset"]),
    )
    assert len(trie_rows) == len(set_rows) > 0
    for a, b in zip(trie_rows, set_rows):
        assert a == b


def _pages(spark, text):
    html = f"<html><body><p>{text}</p></body></html>".encode()
    return spark.createDataFrame(
        [("u1", None, html, text, "en")],
        "url:string, warc_ts:timestamp, html:binary, text:string, lang:string",
    )


def test_empty_lexicon_matches_nothing(spark):
    """An empty lexicon detects no mention with either matcher (the
    trie pattern of no aliases must not match the empty string)."""
    import pandas as pd

    from medtype_spark.operators.mentions import fused_mention_scan

    assert _matches(build_alias_pattern([]), "a, b. c") == []
    lex = pd.DataFrame(columns=["alias", "eid", "score", "type"])
    pages = _pages(spark, "a, b. c")
    for matcher in ("trie", "set"):
        assert fused_mention_scan(pages, lex, {}, matcher=matcher).count() == 0, matcher


def _tiny_lexicon():
    """Two aliases ("Corp  A", "corp a") share the normalized form
    "corp a"; "Corp  A" has a score tie between two eids, and no score
    is already rounded to 3 dp."""
    import pandas as pd

    return pd.DataFrame(
        [
            ("Corp  A", "E2", 0.91249, "Anatomy"),
            ("Corp  A", "E1", 0.91249, "Devices"),
            ("corp a", "E3", 0.50012, "Finding"),
            ("corp a", "E1", 0.87661, "Anatomy"),
            ("zeta", "E9", 1.0, "Objects"),
        ],
        columns=["alias", "eid", "score", "type"],
    )


def test_alias_table_candidates_and_keys():
    """Candidates best-first with ties broken by eid and scores rounded
    to 3 dp; block_key is the normalized form's head token."""
    from medtype_spark.operators.mentions import alias_table

    table = alias_table(_tiny_lexicon(), {})
    assert table["Corp  A"][3] == [{"eid": "E1", "score": 0.912}, {"eid": "E2", "score": 0.912}]
    assert table["corp a"][3] == [{"eid": "E1", "score": 0.877}, {"eid": "E3", "score": 0.5}]
    assert {alias: entry[:2] for alias, entry in table.items()} == {
        "Corp  A": ("corp a", "corp"),
        "corp a": ("corp a", "corp"),
        "zeta": ("zeta", "zeta"),
    }


def test_alias_only_fields_through_the_scan(spark):
    """Each mention carries its alias's table entry.  The stub scorer's
    pred_type is stub_types of the normalized form, which is what q52's
    UDF predicts for the same string; the dict scorer's pred_type is
    the union of the types of every alias sharing the form."""
    import pandas as pd
    from pyspark.sql import functions as F

    from medtype_spark.functions.scoring import stub_type_scorer_udf, stub_types
    from medtype_spark.operators.mentions import alias_table
    from medtype_spark.pipeline import scan_mentions

    lex = _tiny_lexicon()
    pages = _pages(spark, "see Corp  A and corp a then zeta end")
    table = alias_table(lex, None)

    stub_rows = scan_mentions(pages, lex, "stub", matcher="set").collect()
    assert sorted(r["mention"] for r in stub_rows) == ["Corp  A", "corp a", "zeta"]
    forms = sorted({r["norm_form"] for r in stub_rows})
    udf_types = {
        row["text"]: row["t"]
        for row in spark.createDataFrame([(f,) for f in forms], "text string")
        .select("text", stub_type_scorer_udf(F.col("text")).alias("t"))
        .collect()
    }
    for r in stub_rows:
        norm, head, ptypes, cands = table[r["mention"]]
        assert (r["norm_form"], r["block_key"]) == (norm, head)
        assert [c.asDict() for c in r["candidates"]] == cands
        assert r["pred_type"] == ptypes == stub_types(pd.Series([norm]))[0]
        assert r["pred_type"] == udf_types[norm]

    dict_types = {
        r["mention"]: r["pred_type"] for r in scan_mentions(pages, lex, "dict").collect()
    }
    assert dict_types == {
        "Corp  A": ["Anatomy", "Devices", "Finding"],
        "corp a": ["Anatomy", "Devices", "Finding"],
        "zeta": ["Objects"],
    }
