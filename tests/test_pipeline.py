"""End-to-end flagship pipeline: the acceptance metric on planted data.

Gold clusters are the planted entity ids; the pipeline must recover
them at pairwise F1 ≥ 0.99 (BASELINE.json metric), including with a
planted hot surface form forcing the salted pair path, and results
must be invariant to input partitioning (the sandbox stand-in for
cluster-size invariance).
"""

import pytest
from pyspark.sql import functions as F

from medtype_spark.datagen.pages import (
    build_lexicon,
    entity_types_df,
    synth_pages,
)
from medtype_spark.pipeline import evaluate_linkage, run_linkage

N_PAGES = 300
N_ENTITIES = 40


@pytest.fixture(scope="module")
def corpus(spark):
    pages, gold = synth_pages(spark, N_PAGES, n_entities=N_ENTITIES, seed=42)
    lex = build_lexicon(N_ENTITIES)
    etypes = entity_types_df(spark, N_ENTITIES)
    return pages.cache(), gold.cache(), lex, etypes


def test_extraction_byte_identical(spark, corpus):
    pages, _, _, _ = corpus
    from medtype_spark.pipeline import extract_pages

    mismatches = (
        extract_pages(pages)
        .where(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_extraction_multiline_both_paths(spark):
    """A <p>…</p> spanning newlines must extract identically for the
    batched scorer's context text (extract_text_udf) and the fused scan
    whose offsets index it — guards the shared EXTRACT_RE (re.S)
    against flag drift."""
    from medtype_spark.operators.mentions import fused_mention_scan
    from medtype_spark.pipeline import extract_pages

    text = "line one corp0 avalanche0 here\nline two follows"
    html = f"<html><body><p>{text}</p></body></html>".encode()
    pages = spark.createDataFrame(
        [("u1", None, html, text, "en")],
        "url:string, warc_ts:timestamp, html:binary, text:string, lang:string",
    )
    got = extract_pages(pages).select("extracted_text").collect()[0][0]
    assert got == text  # context text spans the newline

    lex = build_lexicon(5)
    fused = fused_mention_scan(pages, lex, {})
    surfaces = {r["mention"] for r in fused.collect()}
    assert "corp0 avalanche0" in surfaces  # fused path scanned same text


def test_gold_mentions_recovered(spark, corpus):
    pages, gold, lex, _ = corpus
    from medtype_spark.operators.mentions import fused_mention_scan

    mentions = fused_mention_scan(pages, lex, {})
    # every planted span must be detected exactly
    g = gold.select("url", "start_offset", "end_offset", "mention")
    m = mentions.select("url", "start_offset", "end_offset", "mention")
    missing = g.exceptAll(m).count()
    assert missing == 0


def test_flagship_f1(spark, corpus):
    pages, gold, lex, etypes = corpus
    result = run_linkage(pages, lex, etypes, hot_threshold=50, target_cell=25)
    row = evaluate_linkage(result["clusters"], gold).collect()[0]
    assert row["fscore"] >= 0.99, dict(row.asDict())
    # the form graph is far below the default small-graph threshold
    assert result["report"]["cc"]["path"] == "small"
    # no form block reaches hot_threshold=50: nothing is salted
    assert result["report"]["blocking"] == {"salted_blocks": 0, "max_cells": 1}


def test_candidate_filter_adds_filtered_candidates(spark, corpus):
    """with_candidate_filter=True adds J8's ``filtered_candidates`` to
    the scan's mentions, exactly as filter_candidates computes them
    over the same scan, and leaves the clusters as they are."""
    from medtype_spark.operators.typefilter import filter_candidates
    from medtype_spark.pipeline import scan_mentions

    pages, _, lex, etypes = corpus

    def run(**kw):
        result = run_linkage(pages, lex, etypes, cleanup=True, **kw)
        clusters = {tuple(r) for r in result["clusters"].collect()}
        return result["mentions"], clusters

    def filtered(mentions):
        rows = mentions.select(
            "mention_key", F.to_json("filtered_candidates").alias("fc")).collect()
        return {(r["mention_key"], r["fc"]) for r in rows}

    mentions, clusters = run(with_candidate_filter=True)
    want = filtered(filter_candidates(scan_mentions(pages, lex), etypes))
    assert filtered(mentions) == want
    assert any(fc != "[]" for _, fc in want)
    _, default_clusters = run()
    assert clusters == default_clusters


def test_non_ascii_alias_gets_its_type(spark):
    """The alias → types map is keyed by the fused scan's normalizer,
    so an alias whose normalized form drops a non-ASCII character
    ("café x" → "caf x") still gets its type (and the type prune still
    applies to it)."""
    import pandas as pd

    text = "intro café x end"
    html = f"<html><body><p>{text}</p></body></html>".encode()
    pages = spark.createDataFrame(
        [("u1", None, html, text, "en")],
        "url:string, warc_ts:timestamp, html:binary, text:string, lang:string",
    )
    lex = pd.DataFrame([("café x", "E1", 1.0, "Anatomy")],
                       columns=["alias", "eid", "score", "type"])
    etypes = spark.createDataFrame([("E1", ["Anatomy"])], "eid:string, types:array<string>")
    result = run_linkage(pages, lex, etypes)
    rows = result["mentions"].select("mention", "norm_form", "pred_type").collect()
    for df in result["persisted_frames"]:
        df.unpersist()
    assert [(r["mention"], r["norm_form"], r["pred_type"]) for r in rows] == [
        ("café x", "caf x", ["Anatomy"])
    ]


def test_batched_scorer_shares_the_scan_normalizer(spark):
    """Every type scorer reads the fused scan's norm_form/block_key, so
    an alias ending in punctuation ("vitamin c +", "a -") normalizes
    without a trailing space under "batched" exactly as under "dict"."""
    import pandas as pd

    text = "took vitamin c + daily and a - note"
    html = f"<html><body><p>{text}</p></body></html>".encode()
    pages = spark.createDataFrame(
        [("u1", None, html, text, "en")],
        "url:string, warc_ts:timestamp, html:binary, text:string, lang:string",
    )
    lex = pd.DataFrame(
        [("vitamin c +", "E1", 1.0, "Organic Chemical"), ("a -", "E2", 1.0, "Anatomy")],
        columns=["alias", "eid", "score", "type"],
    )
    etypes = spark.createDataFrame(
        [("E1", ["Organic Chemical"]), ("E2", ["Anatomy"])], "eid:string, types:array<string>"
    )

    def forms(type_scorer):
        result = run_linkage(pages, lex, etypes, type_scorer=type_scorer)
        rows = result["mentions"].select("mention_key", "norm_form", "block_key").collect()
        for df in result["persisted_frames"]:
            df.unpersist()
        return sorted(tuple(r) for r in rows)

    want = [("u1#27", "a", "a"), ("u1#5", "vitamin c", "vitamin")]
    assert forms("dict") == want
    assert forms("batched") == want


def test_partitioning_invariance(spark, corpus):
    """Same clusters regardless of parallelism — the determinism
    prerequisite for the two-cluster-size scaling acceptance."""
    pages, gold, lex, etypes = corpus
    r1 = run_linkage(pages.repartition(2), lex, etypes)
    r2 = run_linkage(pages.repartition(16), lex, etypes)
    c1 = {(r["mention_key"], r["entity_cluster"]) for r in r1["clusters"].collect()}
    c2 = {(r["mention_key"], r["entity_cluster"]) for r in r2["clusters"].collect()}
    assert c1 == c2


def test_flagship_f1_batched_scorer(spark, corpus):
    """The flagship with the REAL learned transformer-seam scorer
    (type_scorer='batched': P4 window assembly → W5 length-sorted
    batches → S12 checkpoint load → P8/P9 threshold/decode) must hit
    the same F1 ≥ 0.99 acceptance bar as the dict scorer — the learned
    type predictions feed the pair-level type-agreement prune."""
    pages, gold, lex, etypes = corpus
    result = run_linkage(
        pages, lex, etypes, hot_threshold=50, target_cell=25,
        type_scorer="batched",
    )
    row = evaluate_linkage(result["clusters"], gold).collect()[0]
    assert row["fscore"] >= 0.99, dict(row.asDict())

    # and the learned model actually predicts the planted types: every
    # mention's prediction set contains its gold entity's type
    mentions = result["mentions"].select("mention", "pred_type")
    lex_types = {row_["alias"]: row_["type"] for _, row_ in lex.iterrows()}
    bad = [
        (r["mention"], r["pred_type"])
        for r in mentions.collect()
        if lex_types.get(r["mention"]) not in (r["pred_type"] or [])
    ]
    assert len(bad) <= 0.02 * mentions.count(), bad[:5]


_CODEGEN_CACHE_SCRIPT = """
import json
from medtype_spark.datagen.pages import build_lexicon, entity_types_df, synth_pages
from medtype_spark.pipeline import evaluate_linkage, run_linkage
from medtype_spark.session import get_spark

spark = get_spark("codegen-cache", master="local[2]")
ents, fams, zipf = 200, 50, 0.6
pages, gold = synth_pages(spark, 300, n_entities=ents, seed=7, n_families=fams,
                          family_zipf=zipf, partitions=2, mentions_per_page=8,
                          mention_zipf=1.05)
pages, gold = pages.localCheckpoint(), gold.localCheckpoint()
lex = build_lexicon(ents, fams, family_zipf=zipf)
etypes = entity_types_df(spark, ents, fams, family_zipf=zipf)
timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
compiles = []
for _ in range(3):
    before = timer.getCount()
    result = run_linkage(pages, lex, etypes, cleanup=True, type_scorer="stub",
                         matcher="set", hot_threshold=48, target_cell=24,
                         cc_small_graph_threshold=0)
    evaluate_linkage(result["clusters"], gold).collect()
    compiles.append(timer.getCount() - before)
spark.stop()
print(json.dumps({"compiles": compiles}))
"""


def test_generated_classes_stay_cached_across_ops():
    """A warm flagship op (the zipf_skew_4k settings, distributed CC,
    plus evaluation) reuses the generated classes of the ops before it
    instead of recompiling them.  One op uses more distinct classes
    than Spark's default codegen cache of 100 holds, so this needs the
    cache size get_spark sets.  Runs in its own process: the setting
    is static and must precede the JVM's first session."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CODEGEN_CACHE_SCRIPT],
        cwd=root, capture_output=True, text=True, timeout=900,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    compiles = json.loads(proc.stdout.strip().splitlines()[-1])["compiles"]
    # the first op must compile more classes than the default cache holds
    assert compiles[0] > 100 and compiles[2] <= 10, compiles


_UDF_RESTART_SCRIPT = """
import json
from pyspark.sql import functions as F
from medtype_spark.functions.scoring import stub_type_scorer_udf
from medtype_spark.functions.text import clean_collapse_udf, clean_text_udf
from medtype_spark.operators.pairs import jaro_winkler_udf
from medtype_spark.pipeline import extract_pages
from medtype_spark.session import get_spark

def run(spark):
    df = spark.createDataFrame(
        [("martha", "marhta", b"<html><body>a  b|c</body></html>"),
         ("dixon", "dicksonx", b"<p>x 'y'</p>")],
        "a string, b string, html binary")
    out = extract_pages(df).select(
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("jw"),
        stub_type_scorer_udf(F.col("a")).alias("types"),
        clean_text_udf(F.col("extracted_text")).alias("clean"),
        clean_collapse_udf(F.col("extracted_text")).alias("collapsed"),
        "extracted_text")
    return sorted(map(str, out.collect()))

spark = get_spark("udf-restart", master="local[1]")
before = run(spark)
spark.stop()
spark = get_spark("udf-restart", master="local[1]")
after = run(spark)
spark.stop()
print(json.dumps({"same": before == after, "rows": len(after)}))
"""


def test_python_udfs_survive_context_restart():
    """The library's pandas UDFs bind to the live SparkContext: after
    ``spark.stop()`` and a fresh ``get_spark()`` they give the same
    values, and no task reports its accumulator update to the stopped
    context (Spark logs ``Failed to update accumulator`` when one
    does).  Runs in its own process so the shared test session is not
    stopped."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _UDF_RESTART_SCRIPT],
        cwd=root, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"same": True, "rows": 2}
    assert "Failed to update accumulator" not in proc.stderr
