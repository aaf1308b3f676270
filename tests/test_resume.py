"""Checkpoint/resume: kill-after-stage-k resume must equal a fresh run
(destor recipe + destor.stat semantics, SURVEY.md section 5.2)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from destor_spark.plans.pipeline import run_checkpointed, run_pipeline


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def _assign_pdf(df):
    return df.toPandas().sort_values("url").reset_index(drop=True)


def test_resume_equals_fresh(spark, cfg, smoke_corpus, ckpt_dir):
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)

    fresh = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir + "_fresh", "rA")
    )

    # simulate a job killed after the signature+pairs stages: run fully,
    # then delete the later stages and resume
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rB")
    for stage in ("edges", "components", "assignments"):
        os.remove(os.path.join(ckpt_dir, f"{stage}.manifest.json"))
        shutil.rmtree(os.path.join(ckpt_dir, stage))
    resumed = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir, "rC"))

    pd.testing.assert_frame_equal(fresh, resumed, check_dtype=False)


def test_resume_pair_stages_with_substring(spark, cfg, smoke_corpus,
                                           ckpt_dir):
    """The durable pair stages resume like any other: delete both pair
    stages and everything downstream of them, and the resumed run must
    equal a fresh one."""
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)

    fresh = _assign_pdf(run_checkpointed(
        spark, pages, cfg, ckpt_dir + "_fresh", "rS0", use_substring=True
    ))
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rS1", use_substring=True)
    for stage in ("simhash_pairs", "substring_pairs", "edges", "components",
                  "assignments"):
        os.remove(os.path.join(ckpt_dir, f"{stage}.manifest.json"))
        shutil.rmtree(os.path.join(ckpt_dir, stage))
    resumed = _assign_pdf(run_checkpointed(
        spark, pages, cfg, ckpt_dir, "rS2", use_substring=True
    ))
    pd.testing.assert_frame_equal(fresh, resumed, check_dtype=False)
    # the in-memory runner runs the same stage list: batch == durable
    batch = _assign_pdf(
        run_pipeline(pages, cfg, use_substring=True).assignments
    )
    pd.testing.assert_frame_equal(
        fresh, batch[fresh.columns], check_dtype=False
    )


def test_failed_stage_waits_for_inflight_siblings(
    spark, cfg, smoke_corpus, ckpt_dir, monkeypatch
):
    """A stage that raises while its siblings are running: the error
    reaches the caller only after those siblings have finished (no
    Spark job still writing under ckpt_dir), no stage starts after the
    failure, the failed stage is not committed, and a rerun equals a
    fresh run."""
    import json
    import time

    from destor_spark.operators import lsh as lsh_op

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    fresh = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir + "_fresh", "rX0")
    )

    tracker = spark.sparkContext.statusTracker()
    seen_active = []

    def boom(*args, **kwargs):
        # raise only once a sibling stage has a Spark job running
        deadline = time.time() + 60
        while not tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.005)
        seen_active.append(bool(tracker.getActiveJobsIds()))
        raise RuntimeError("bucket_stats failed")

    monkeypatch.setattr(lsh_op, "bucket_stats_only", boom)
    with pytest.raises(RuntimeError, match="bucket_stats failed"):
        run_checkpointed(spark, pages, cfg, ckpt_dir, "rX1")
    assert seen_active == [True]
    assert tracker.getActiveJobsIds() == []
    monkeypatch.undo()

    def status(stage):
        p = os.path.join(ckpt_dir, f"{stage}.manifest.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["status"]

    assert status("bucket_stats") is None
    # the siblings in flight at the failure ran to their commit ...
    for stage in ("exact_edges", "candidate_pairs", "simhash_pairs"):
        assert status(stage) == "complete", stage
    # ... and nothing downstream of them was started
    for stage in ("verified_pairs", "edges", "components", "assignments"):
        assert status(stage) is None, stage
        assert not os.path.exists(os.path.join(ckpt_dir, stage)), stage

    rerun = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir, "rX2"))
    pd.testing.assert_frame_equal(fresh, rerun, check_dtype=False)


def test_manifest_counts_match_parquet(spark, cfg, smoke_corpus, ckpt_dir):
    """Stage manifests take rows / partition_rows from the parquet
    footers; they must equal a Spark count of the committed stage dir
    for every stage, including one with zero output rows (exact_edges
    over a corpus with no exact duplicates)."""
    import json

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd.drop_duplicates("text"))
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rN", use_substring=True)
    with open(os.path.join(ckpt_dir, "metrics.jsonl")) as f:
        stages = [json.loads(line)["stage"] for line in f]
    assert {"simhash_pairs", "substring_pairs", "exact_edges"} <= set(stages)
    for stage in stages:
        with open(os.path.join(ckpt_dir, f"{stage}.manifest.json")) as f:
            man = json.load(f)
        n = spark.read.parquet(os.path.join(ckpt_dir, stage)).count()
        assert man["rows"] == sum(man["partition_rows"].values()) == n, stage
        assert man["n_partitions"] == len(man["partition_rows"]), stage
        assert man["n_files"] >= 1 and man["data_size"] > 0, stage
        if stage == "exact_edges":
            assert n == 0
        if stage == "signatures":
            assert n == len(pages_pd.drop_duplicates("text"))


def test_metrics_lineage(spark, cfg, smoke_corpus, ckpt_dir):
    import json

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rM")
    metrics = [
        json.loads(line)
        for line in open(os.path.join(ckpt_dir, "metrics.jsonl"))
    ]
    stages = [m["stage"] for m in metrics]
    # content_hashes no longer a separate stage: sha2 rides in the
    # signatures text scan (r3 single-scan fusion)
    assert stages == [
        "signatures",
        "exact_edges",
        "candidate_pairs",
        "bucket_stats",
        "verified_pairs",
        "simhash_pairs",
        "edges",
        "components",
        "assignments",
    ]
    for m in metrics:
        assert m["rows"] >= 0 and m["wall_s"] > 0 and m["run_id"] == "rM"
    # per-partition lineage present in the stage manifest
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        man = json.load(f)
    assert sum(man["partition_rows"].values()) == man["rows"] == len(pages_pd)


def test_resume_recomputes_old_layout_signatures(spark, cfg, smoke_corpus,
                                                 ckpt_dir):
    """A checkpoint whose signatures stage predates the fused
    content_sha layout must be recomputed on resume, not loaded and
    crashed into at the exact pass's select (AnalysisException)."""
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)

    fresh = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir + "_f2", "rD")
    )

    # simulate the pre-r3 layout: complete signatures stage WITHOUT
    # content_sha, all later stages absent
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rE")
    sig_dir = os.path.join(ckpt_dir, "signatures")
    old = spark.read.parquet(sig_dir).drop("content_sha")
    old.write.mode("overwrite").parquet(sig_dir + "_old")
    shutil.rmtree(sig_dir)
    os.rename(sig_dir + "_old", sig_dir)
    for stage in ("exact_edges", "candidate_pairs", "bucket_stats",
                  "verified_pairs", "edges", "components", "assignments"):
        os.remove(os.path.join(ckpt_dir, f"{stage}.manifest.json"))
        shutil.rmtree(os.path.join(ckpt_dir, stage))

    resumed = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir, "rF"))
    pd.testing.assert_frame_equal(fresh, resumed, check_dtype=False)


def test_resume_recomputes_on_config_change(spark, smoke_corpus, ckpt_dir):
    """A rerun against the same ckpt_dir under a DIFFERENT DedupConfig
    must recompute, not resume: the stage manifests record a config
    fingerprint and completed() requires a match.  Regression: resume
    was config-blind, so --tau 0.5 after a killed --tau 0.71 run
    silently returned stale results."""
    import json

    from destor_spark.config import DedupConfig

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    a = run_checkpointed(
        spark, pages, DedupConfig(num_hashes=32, bands=8, rows=4, tau=0.6),
        ckpt_dir,
    ).toPandas()
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        fp1 = json.load(f)["context_fp"]
    assert fp1

    # different tau: every stage fingerprint mismatches -> recompute;
    # observable via the manifest's recorded fingerprint changing
    run_checkpointed(
        spark, pages, DedupConfig(num_hashes=32, bands=8, rows=4, tau=0.9),
        ckpt_dir,
    ).toPandas()
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        fp2 = json.load(f)["context_fp"]
    assert fp2 != fp1
    assert len(a) == len(pages_pd)


def test_corrupt_manifest_recomputes_not_crashes(
    spark, cfg, smoke_corpus, ckpt_dir
):
    """A manifest truncated by a crash mid-write marks its stage
    incomplete — the next run recomputes it instead of dying on
    JSONDecodeError at startup (the exact kill/resume path the module
    exists to survive)."""
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    a = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir))
    # truncate one manifest as a mid-write crash would
    mpath = os.path.join(ckpt_dir, "verified_pairs.manifest.json")
    with open(mpath, "w") as f:
        f.write('{"status": "comp')
    b = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir))
    pd.testing.assert_frame_equal(a, b)


def test_recompute_invalidates_manifest_before_overwrite(
    spark, tmp_path
):
    """A crash mid-recompute must not leave the PREVIOUS 'complete'
    manifest pointing at destroyed data: run_graph flips the manifest to
    'recomputing' before the data overwrite, so the old config's
    resume path recomputes instead of reading garbage."""
    import json

    from destor_spark.plans.checkpoint import Stage, StageRunner

    base = str(tmp_path / "ck")
    r1 = StageRunner(spark, base, run_id="r1", context_fp="cfgA")
    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    r1.run_graph([Stage("s", (), lambda: df)])["s"]
    assert r1.completed("s")

    # recompute under cfgB whose write FAILS mid-execution (a UDF
    # that raises on the first row — the crash-during-overwrite shape)
    from pyspark.sql import functions as F

    def _boom(x):
        raise RuntimeError("simulated crash mid-write")

    r2 = StageRunner(spark, base, run_id="r2", context_fp="cfgB")
    bad = spark.range(2).select(
        F.udf(_boom, "long")("id").alias("doc_id")
    )
    try:
        r2.run_graph([Stage("s", (), lambda: bad)])["s"]
    except Exception:
        pass
    # the stale cfgA manifest must be gone (status=recomputing)
    _, mpath = r2._paths("s")
    with open(mpath) as f:
        m = json.load(f)
    assert m.get("status") != "complete"
    assert not StageRunner(
        spark, base, run_id="r3", context_fp="cfgA"
    ).completed("s")
