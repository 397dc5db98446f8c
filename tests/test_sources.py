"""S6 TAC reader, S7 Brat reader and S8 CoNLL reader.

TAC golden round-trip mirrors the reference's own test
(neleval/test.py:41-47): parsing examples/tac_{gold,system}.{xml,tab}
must reproduce examples/tac_*.combined.tsv exactly.
"""

import os

import pytest
from pyspark.sql import functions as F

from medtype_spark.evaluation.annotations import read_annotation_tsv
from medtype_spark.sources.brat import read_brat_dir
from medtype_spark.sources.tac import prepare_tac

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _flat(df):
    return sorted(
        (
            r["docid"], r["start"], r["end"],
            tuple((c["eid"], c["score"], c["type"]) for c in r["candidates"]),
        )
        for r in df.collect()
    )


@pytest.mark.parametrize("which", ["gold", "system"])
def test_tac_prepare_golden(spark, which):
    got = prepare_tac(
        spark,
        os.path.join(FIXTURES, f"tac_{which}.tab"),
        os.path.join(FIXTURES, f"tac_{which}.xml"),
    )
    want = read_annotation_tsv(
        spark, os.path.join(FIXTURES, f"tac_{which}.combined.tsv")
    )
    assert _flat(got) == _flat(want)


def test_brat_reader(spark, tmp_path):
    d = tmp_path / "brat"
    d.mkdir()
    (d / "doc1.ann").write_text(
        "T1\tPER 10 18\tObama B.\n"
        "T2\tGPE 25 30\tChina\n"
        "N1\tReference T1 Wikipedia:Barack%20Obama\tBarack Obama\n"
        "N2\tReference T2 kb_China\tChina\n"
        "N3\tReference T2 kb_PRC\tPRC\n"
    )
    (d / "doc2.ann").write_text(
        "T1\tORG 0 5\tACME\n"  # mention with no normalization
    )
    (d / "doc1.txt").write_text("T9\tPER 0 4\tnot an annotation file\n")
    out = read_brat_dir(spark, str(d))
    got = {
        (r["docid"], r["start"], r["end"]): [(c["eid"], c["score"], c["type"]) for c in r["candidates"]]
        for r in out.collect()
    }
    # only .ann files are read: the brat text file beside them is not
    assert set(got) == {("doc1", 10, 18), ("doc1", 25, 30), ("doc2", 0, 5)}
    # URL-unquote + Wikipedia: namespace strip (brat.py:100-110)
    assert got[("doc1", 10, 18)] == [("Barack Obama", 1.0, "PER")]
    # two normalizations, desc-eid deterministic order
    assert got[("doc1", 25, 30)] == [("kb_PRC", 1.0, "GPE"), ("kb_China", 1.0, "GPE")]
    # un-normalized mention → empty candidate list
    assert got[("doc2", 0, 5)] == []


CONLL_DOC = """#begin document (bc/test); part 000
tok1\tx\t(0
tok2\tx\t0)
tok3\tx\t(1)
tok4\tx\t-
tok5\tx\t(0(2
tok6\tx\t2)
tok7\tx\t0)
tok8\tx\t(3(4
tok9\tx\t4)3)
#end document
"""


def test_parse_conll_coref():
    from medtype_spark.sources.conll import parse_conll_coref

    got = parse_conll_coref(CONLL_DOC)
    # cluster 0: (1,2) and (5,7); 1: singleton (3,3); 2: nested (5,6);
    # identical spans (8,9) closed together → outermost cluster 3 wins
    assert got == sorted([
        ("0", 1, 2), ("0", 5, 7), ("1", 3, 3), ("2", 5, 6), ("3", 8, 9),
    ])


def test_parse_conll_unbalanced_raises():
    from medtype_spark.sources.conll import parse_conll_coref

    with pytest.raises(ValueError, match="unclosed"):
        parse_conll_coref("tok\tx\t(7\n")


def test_read_conll_coref_distributed(spark, tmp_path):
    from medtype_spark.sources.conll import read_conll_coref

    d = tmp_path / "conll"
    d.mkdir()
    (d / "a.conll").write_text(CONLL_DOC)
    (d / "b.conll").write_text("w\tx\t(9)\n")
    (d / "notes.txt").write_text("w\tx\t(8)\n")  # not a .conll file: skipped
    out = read_conll_coref(spark, str(d))
    got = {(r["docid"], r["cluster"], r["start"], r["end"]) for r in out.collect()}
    assert ("a.conll", "0", 1, 2) in got
    assert ("b.conll", "9", 1, 1) in got
    assert len(got) == 6
    # (mention, cluster) for the clustering metrics: a mention is its
    # (docid, start, end) span
    m = out.select(F.concat_ws(":", "docid", "start", "end").alias("mention"), "cluster")
    assert m.columns == ["mention", "cluster"]
    assert m.count() == 6
