"""Stage-manifest checkpoint/resume: skip-completed, invalidation, and
the kill-and-restart scenario (north rule)."""

import json
import os
import shutil
import subprocess

from pyspark.sql import functions as F

from medtype_spark.plans.checkpoints import StageCheckpointer


def test_stage_computed_once_then_resumed(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))

    ck = StageCheckpointer(spark, str(tmp_path))
    a = ck.stage("010_a", build)
    assert a.count() == 10 and calls["n"] == 1

    # second checkpointer = restarted driver: stage must be skipped
    ck2 = StageCheckpointer(spark, str(tmp_path))
    a2 = ck2.stage("010_a", build)
    assert a2.count() == 10 and calls["n"] == 1
    assert ck2.completed_stages() == ["010_a"]


def test_downstream_invalidation(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path))
    ck.stage("010_a", lambda: spark.range(5))
    calls = {"b": 0}

    def build_b():
        calls["b"] += 1
        return spark.range(3)

    ck.stage("020_b", build_b, upstream=["010_a"])
    assert calls["b"] == 1
    # same upstream: resumed
    ck.stage("020_b", build_b, upstream=["010_a"])
    assert calls["b"] == 1

    # upstream changes (different fingerprint) → downstream recomputes
    mpath = os.path.join(str(tmp_path), "010_a", "_MANIFEST.json")
    m = json.load(open(mpath))
    m["fingerprint"] = "deadbeef"
    json.dump(m, open(mpath, "w"))
    ck3 = StageCheckpointer(spark, str(tmp_path))
    ck3.stage("020_b", build_b, upstream=["010_a"])
    assert calls["b"] == 2


def test_workdir_is_a_hadoop_path(spark, tmp_path):
    """Manifests go through the Hadoop FileSystem, like the stage data:
    a workdir URI resumes as a plain path does, and a manifest is one
    plain JSON file."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(6)

    uri = "file://" + str(tmp_path)
    StageCheckpointer(spark, uri).stage("010_a", build)
    assert StageCheckpointer(spark, uri).stage("010_a", build).count() == 6
    assert calls["n"] == 1
    assert StageCheckpointer(spark, str(tmp_path)).completed_stages() == ["010_a"]
    assert sorted(os.listdir(tmp_path / "010_a")) == ["_MANIFEST.json", "data"]
    with open(tmp_path / "010_a" / "_MANIFEST.json") as fh:
        assert json.load(fh)["rows"] == 6


def test_params_change_invalidates(spark, tmp_path):
    """Re-running with different build params must NOT resume stale
    parquet (the fingerprint folds in a caller-supplied params dict)."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(4)

    ck = StageCheckpointer(spark, str(tmp_path))
    ck.stage("010_a", build, params={"score_threshold": 0.92})
    assert calls["n"] == 1
    ck.stage("010_a", build, params={"score_threshold": 0.92})
    assert calls["n"] == 1  # same params → resumed
    ck.stage("010_a", build, params={"score_threshold": 0.5})
    assert calls["n"] == 2  # changed params → recomputed


def test_content_change_invalidates_downstream(spark, tmp_path):
    """Same row count + schema but different DATA upstream must change
    the fingerprint (content digest), invalidating downstream."""
    ck = StageCheckpointer(spark, str(tmp_path))
    ck.stage("010_a", lambda: spark.range(5).select((F.col("id") * 1).alias("v")))
    fp1 = ck.fingerprint("010_a")

    import shutil

    shutil.rmtree(str(tmp_path / "010_a"))
    ck2 = StageCheckpointer(spark, str(tmp_path))
    ck2.stage("010_a", lambda: spark.range(5).select((F.col("id") * 7).alias("v")))
    fp2 = ck2.fingerprint("010_a")
    assert fp1 != fp2


def test_kill_and_restart_midway(spark, tmp_path):
    """Simulate a crash between stages: stage A committed, B not."""
    ck = StageCheckpointer(spark, str(tmp_path))
    ck.stage("010_a", lambda: spark.range(7))
    # "crash" — new checkpointer; B never ran
    ck2 = StageCheckpointer(spark, str(tmp_path))
    ran = {"a": 0, "b": 0}

    def build_a():
        ran["a"] += 1
        return spark.range(7)

    def build_b():
        ran["b"] += 1
        return spark.range(2)

    a = ck2.stage("010_a", build_a)
    b = ck2.stage("020_b", build_b, upstream=["010_a"])
    assert ran == {"a": 0, "b": 1}  # A resumed from manifest, B ran
    assert b.count() == 2
    # manifest carries per-partition metrics
    m = json.load(open(os.path.join(str(tmp_path), "020_b", "_MANIFEST.json")))
    assert m["rows"] == 2 and len(m["partitions"]) >= 1


STAGES = ("010_mentions", "020_edges", "030_clusters")


def _flagship_fixture(spark):
    """(pages, gold, lexicon, entity_types) of an 80-page corpus."""
    from medtype_spark.datagen.pages import (
        build_lexicon,
        entity_types_df,
        synth_pages,
    )

    pages, gold = synth_pages(spark, 80, n_entities=20, seed=11)
    return pages, gold, build_lexicon(20), entity_types_df(spark, 20)


def test_checkpointed_flagship_resume(spark, tmp_path):
    from medtype_spark.pipeline import evaluate_linkage
    from medtype_spark.plans.checkpoints import run_linkage_checkpointed

    pages, gold, lex, _ = _flagship_fixture(spark)
    wd = str(tmp_path / "wd")

    clusters = run_linkage_checkpointed(spark, pages, lex, wd)
    row = evaluate_linkage(clusters, gold).collect()[0]
    assert row["fscore"] >= 0.99

    ck = StageCheckpointer(spark, wd)
    assert ck.completed_stages() == list(STAGES)

    # restart: everything resumes, same result
    clusters2 = run_linkage_checkpointed(spark, pages, lex, wd)
    c1 = {(r["mention_key"], r["entity_cluster"]) for r in clusters.collect()}
    c2 = {(r["mention_key"], r["entity_cluster"]) for r in clusters2.collect()}
    assert c1 == c2

    # another input into the same workdir (40 pages after 80): the
    # input digest in the first stage's fingerprint recomputes all three
    from medtype_spark.datagen.pages import synth_pages

    fps = {s: ck.fingerprint(s) for s in STAGES}
    pages40, gold40 = synth_pages(spark, 40, n_entities=20, seed=11)
    clusters3 = run_linkage_checkpointed(spark, pages40, lex, wd)
    assert evaluate_linkage(clusters3, gold40).collect()[0]["fscore"] >= 0.99
    assert all(ck.fingerprint(s) != fps[s] for s in STAGES)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit_job(cwd, package_zip, output, pages=80) -> str:
    """The JSON line of one deployment run: spark-submit from ``cwd``,
    with only the zipped package on the path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [shutil.which("spark-submit"), "--master", "local[2]",
         "--conf", "spark.ui.enabled=false", "--py-files", package_zip,
         os.path.join(REPO, "tools", "submit_linkage_job.py"),
         "--pages", str(pages), "--entities", "20", "--output", output],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return [line for line in proc.stdout.splitlines() if line.startswith("{")][-1]


def _manifests(output) -> dict:
    out = {}
    for stage in STAGES:
        with open(os.path.join(output, stage, "_MANIFEST.json"), "rb") as fh:
            out[stage] = fh.read()
    return out


def test_deployment_job_resumes_every_stage(tmp_path):
    """The deployment entry runs the resumable flagship from the zipped
    package.  A second run into the same --output, as after a kill,
    reads every stage back: the same result, and no manifest rewritten
    (``completed_at`` included).  A run of another input into it
    recomputes every stage instead."""
    package_zip = shutil.make_archive(
        str(tmp_path / "medtype_spark"), "zip", root_dir=REPO, base_dir="medtype_spark")
    output = str(tmp_path / "out")

    first = _submit_job(str(tmp_path), package_zip, output)
    assert json.loads(first)["pairwise_f1"] >= 0.99
    assert os.path.isdir(os.path.join(output, "030_clusters", "data"))
    manifests = _manifests(output)

    assert _submit_job(str(tmp_path), package_zip, output) == first
    assert _manifests(output) == manifests

    other = json.loads(_submit_job(str(tmp_path), package_zip, output, pages=40))
    assert other["n_pages"] == 40 and other["pairwise_f1"] >= 0.99
    rewritten = _manifests(output)
    assert all(rewritten[s] != manifests[s] for s in STAGES)


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_checkpointed_matches_run_linkage(spark, tmp_path):
    """The checkpointed runner composes run_linkage's stage functions,
    so it returns the very same (mention_key, entity_cluster) rows —
    form-grain labels included, not just the same partition."""
    from medtype_spark.pipeline import run_linkage
    from medtype_spark.plans.checkpoints import run_linkage_checkpointed

    pages, _, lex, et = _flagship_fixture(spark)
    ck = run_linkage_checkpointed(spark, pages, lex, str(tmp_path / "wd"))
    got = {(r["mention_key"], r["entity_cluster"]) for r in ck.collect()}
    res = run_linkage(pages, lex, et, cleanup=True)
    want = {(r["mention_key"], r["entity_cluster"]) for r in res["clusters"].collect()}
    assert got == want and len(got) > 0


def test_no_cached_rdds_left_behind(spark, tmp_path):
    """The checkpointed runner releases every cache it makes, and
    run_linkage(cleanup=True) keeps only its product: the cluster
    table's own local checkpoint."""
    from medtype_spark.pipeline import run_linkage
    from medtype_spark.plans.checkpoints import run_linkage_checkpointed

    pages, _, lex, et = _flagship_fixture(spark)
    # compare sets of new ids: unreachable RDDs of earlier tests may be
    # garbage-collected (and so leave the registry) meanwhile
    before = _persistent_rdd_ids(spark)
    run_linkage_checkpointed(spark, pages, lex, str(tmp_path / "wd")).collect()
    assert _persistent_rdd_ids(spark) - before == set()

    before = _persistent_rdd_ids(spark)
    res = run_linkage(pages, lex, et, cleanup=True)
    res["clusters"].collect()
    product = res["clusters"]._jdf.queryExecution().analyzed().rdd().id()
    assert _persistent_rdd_ids(spark) - before == {product}


def test_entry_leaves_only_its_product_cached(spark):
    """The driver's flagship ``entry`` releases the run's cached
    intermediates (mentions, blocking base, edges) before the queries
    that follow it: only the cluster table's own local checkpoint
    stays."""
    import __spark_entry__

    before = _persistent_rdd_ids(spark)
    clusters = __spark_entry__.entry(spark)
    assert clusters.collect()
    new = _persistent_rdd_ids(spark) - before
    assert len(new) == 1, new
    assert new == {clusters._jdf.queryExecution().analyzed().rdd().id()}
