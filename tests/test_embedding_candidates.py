"""M1 embedding-kNN candidate generation: typo forms the dictionary
linker misses must retrieve the right entity via char-3gram cosine."""

from pyspark.sql import functions as F

from medtype_spark.datagen.pages import build_lexicon
from medtype_spark.similarity.candidates import embedding_candidates


def test_typo_forms_retrieve_right_entity(spark):
    lex = build_lexicon(20)
    # forms with typos that exact-match NO alias (extra/dropped chars)
    probes = [
        ("corp0 avalanche0x", "E00000"),     # trailing junk char
        ("corp1 bluberry1", "E00001"),       # dropped 'e'
        ("corp2 cormorant2 extra", "E00002"),
    ]
    aliases_norm = set()
    for a in lex["alias"]:
        aliases_norm.add("".join(ch for ch in a.lower() if ch.isalnum() or ch == " "))
    for form, _ in probes:
        assert form not in aliases_norm  # dictionary lookup would miss

    df = spark.createDataFrame([(f,) for f, _ in probes], ["norm_form"])
    out = embedding_candidates(df, lex, k=3)
    got = {r["norm_form"]: r["emb_candidates"] for r in out.collect()}
    for form, want_eid in probes:
        cands = got[form]
        assert cands, form
        assert cands[0]["eid"] == want_eid, (form, cands)
        # best-first, 3dp scores, one entry per entity
        scores = [c["score"] for c in cands]
        assert scores == sorted(scores, reverse=True)
        assert len({c["eid"] for c in cands}) == len(cands)
