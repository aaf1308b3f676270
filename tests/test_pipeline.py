"""End-to-end pipeline vs the pandas oracle: pair recall/precision and
exact assignment equality (FIXTURES.md section 3 gates)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from destor_spark.oracle import run_oracle
from destor_spark.plans.pipeline import run_pipeline


def _pair_set(df: pd.DataFrame) -> set[tuple[str, str]]:
    return {
        (min(a, b), max(a, b)) for a, b in zip(df["url_a"], df["url_b"])
    }


def _run_both(spark, cfg, pages):
    from destor_spark.operators.simhash import simhash_pairs

    sdf = spark.createDataFrame(pages)
    res = run_pipeline(sdf, cfg, use_simhash=True)
    spark_pairs = (
        _pair_set(res.verified_pairs.select("url_a", "url_b").toPandas())
        | _pair_set(res.exact_edges.toPandas())
        | _pair_set(simhash_pairs(res.signatures, cfg).toPandas())
    )
    spark_assign = (
        res.assignments.select("url", "cluster_id", "is_canonical")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    o = run_oracle(pages, cfg, use_simhash=True)
    return res, spark_pairs, spark_assign, o


@pytest.fixture(scope="module")
def smoke_run(spark, cfg, smoke_corpus):
    pages, truth = smoke_corpus
    return (*_run_both(spark, cfg, pages), truth)


def test_assignments_match_oracle(smoke_run):
    _, _, spark_assign, o, _ = smoke_run
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(spark_assign, oa, check_dtype=False)


def test_in_memory_barriers(smoke_run):
    """run_pipeline barriers exactly the multi-consumer stages:
    signatures (four consumers) and edges (read 4x by connected
    components); every other stage stays a lazy link."""
    res = smoke_run[0]
    assert set(os.listdir(res.mat_root)) == {"signatures", "edges"}


def test_pair_recall_and_precision(smoke_run):
    _, spark_pairs, _, o, _ = smoke_run
    oracle_pairs = _pair_set(
        o["dup_pairs"][o["dup_pairs"]["modality"] != "simhash"]
    )
    assert oracle_pairs, "oracle found no pairs — fixture broken"
    missing = oracle_pairs - spark_pairs
    recall = 1 - len(missing) / len(oracle_pairs)
    assert recall >= 0.99, f"recall {recall}: missing {list(missing)[:5]}"


def test_truth_classes(smoke_run):
    """Construction sanity: exact dups cluster together, templates do not."""
    _, _, spark_assign, _, truth = smoke_run
    m = spark_assign.merge(truth, on="url")
    cl = dict(zip(m["url"], m["cluster_id"]))
    for cls, must_cluster in [("exact", True), ("giant", True)]:
        sub = m[m["dup_class"] == cls]
        for g, grp in sub.groupby("group_id"):
            ids = {cl[u] for u in grp["url"]}
            if must_cluster:
                assert len(ids) == 1, f"{cls} group {g} split: {ids}"
    tmpl = m[m["dup_class"] == "template"]
    ids = [cl[u] for u in tmpl["url"]]
    # templated pages share boilerplate but are below tau: no mega-cluster
    assert pd.Series(ids).value_counts().max() <= 2


def test_empty_docs_cluster_only_exactly(smoke_run):
    _, _, spark_assign, _, truth = smoke_run
    m = spark_assign.merge(truth, on="url")
    emp = m[m["dup_class"] == "empty"]
    # empties dedup via the exact pass (raw text identity) only;
    # "" and "   " must remain in different clusters
    assert emp.groupby("cluster_id").size().max() <= (len(emp) + 1) // 2


def test_correctness_scale(spark, cfg, correct_corpus):
    pages, _ = correct_corpus
    _, spark_pairs, spark_assign, o = _run_both(spark, cfg, pages)
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(spark_assign, oa, check_dtype=False)
    oracle_pairs = _pair_set(o["dup_pairs"])
    inter = len(oracle_pairs & spark_pairs)
    assert inter / len(oracle_pairs) >= 0.99


def test_substring_pass_matches_oracle(spark, cfg):
    """Third modality: anchored-gram substring pairs, Spark == oracle."""
    from destor_spark.synth import make_corpus

    pages, truth = make_corpus(seed=21, n_docs=150)
    sdf = spark.createDataFrame(pages)
    res = run_pipeline(sdf, cfg, use_simhash=False, use_substring=True)
    o = run_oracle(pages, cfg, use_simhash=False, use_substring=True)
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    sa = (
        res.assignments.select("url", "cluster_id", "is_canonical")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(sa, oa, check_dtype=False)
    # substring-class groups must be connected by the substring pass
    m = sa.merge(truth, on="url")
    sub = m[m["dup_class"] == "substring"]
    assert len(sub) >= 2
    joined = {g: set(grp["cluster_id"]) for g, grp in sub.groupby("group_id")}
    n_connected = sum(1 for ids in joined.values() if len(ids) == 1)
    assert n_connected / len(joined) >= 0.9, joined


def test_recall_gate_20k(spark, cfg):
    """FIXTURES.md t2 scale: ~20k docs, dup-pair recall >= 0.99 vs the
    oracle AND exact assignment equality at the reference config."""
    from destor_spark.synth import make_corpus

    pages, _ = make_corpus(seed=42, n_docs=20000)
    _, spark_pairs, spark_assign, o = _run_both(spark, cfg, pages)
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(spark_assign, oa, check_dtype=False)
    oracle_pairs = _pair_set(o["dup_pairs"])
    assert oracle_pairs
    recall = len(oracle_pairs & spark_pairs) / len(oracle_pairs)
    precision = len(oracle_pairs & spark_pairs) / max(len(spark_pairs), 1)
    assert recall >= 0.99, recall
    assert precision >= 0.99, precision


def test_verify_pairs_null_safe_on_length_drift(spark, cfg):
    """Signature-length drift (e.g. a durable store written under a
    different num_hashes unioned with fresh sigs) must penalize the
    estimate, not null-poison it: zip_with pads the shorter array with
    NULL, and a plain == would make est_jaccard NULL -> the tau filter
    silently drops the pair with no error."""
    from destor_spark.operators.verify import verify_pairs

    sigs = spark.createDataFrame(
        [
            ("u1", list(range(128))),
            ("u2", list(range(128))),          # identical, full length
            ("u3", list(range(96))),           # 96/128 positions agree
        ],
        "url string, sig array<long>",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3")], "url_a string, url_b string"
    )
    out = {
        (r.url_a, r.url_b): r.est_jaccard
        for r in verify_pairs(pairs, sigs, cfg).collect()
    }
    # identical full-length pair scores exactly 1.0
    assert out[("u1", "u2")] == 1.0
    # drifted pair: 96 agreements / max(128, 96) = 0.75 >= tau 0.71 —
    # present (not NULL-dropped) and honestly penalized
    assert abs(out[("u1", "u3")] - 0.75) < 1e-12


def test_recrawl_corpus_engine_oracle_parity(spark, cfg):
    """Re-crawled urls (same url, multiple warc_ts rows) are ONE
    document on both engines: assignments are frame-equal, one row and
    one canonical decision per url, no degenerate pairs."""
    from destor_spark.synth import make_corpus

    pages, _ = make_corpus(seed=21, n_docs=300)
    # re-crawl 20 pages: duplicate their rows with a later ts and the
    # same text (snapshot), plus 5 with EDITED text (content drift)
    dup = pages.iloc[:20].copy()
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(days=30)
    drift = pages.iloc[20:25].copy()
    drift["warc_ts"] = drift["warc_ts"] + pd.Timedelta(days=60)
    drift["text"] = drift["text"] + " trailing edit"
    recrawled = pd.concat([pages, dup, drift], ignore_index=True)
    _, spark_pairs, spark_assign, o = _run_both(spark, cfg, recrawled)
    # one row per url on the engine side
    assert spark_assign["url"].is_unique
    assert len(spark_assign) == 300
    oa = (
        o["assignments"][["url", "cluster_id", "is_canonical"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(spark_assign, oa, check_dtype=False)
    # no self-pairs anywhere
    assert all(a != b for a, b in spark_pairs)
