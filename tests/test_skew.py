"""Skew handling: oversized LSH buckets must switch to the star
strategy (bounded work), and the result must still match the oracle —
the hot-bucket adversary from FIXTURES.md."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from destor_spark.config import DedupConfig
from destor_spark.oracle import run_oracle
from destor_spark.plans.pipeline import run_pipeline
from destor_spark.synth import BASE_TS, render_html


@pytest.fixture(scope="module")
def hot_corpus() -> pd.DataFrame:
    """150 near-identical docs (one giant dup family -> every band
    bucket has ~150 members > bucket_cap=64) + 50 unique docs."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i:03d}" for i in range(500)]
    base = [vocab[int(i)] for i in rng.integers(0, 500, size=300)]
    rows = []
    for i in range(150):
        toks = list(base)
        # one token tweak per doc keeps Jaccard ~0.99
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, 500))]
        rows.append((f"https://hot.test/{i:04d}", " ".join(toks)))
    for i in range(50):
        toks = [vocab[int(j)] for j in rng.integers(0, 500, size=200)]
        rows.append((f"https://uniq.test/{i:04d}", " ".join(toks)))
    df = pd.DataFrame(rows, columns=["url", "text"])
    df["warc_ts"] = pd.to_datetime(BASE_TS) + pd.to_timedelta(
        np.arange(len(df)), unit="s"
    )
    df["html"] = [render_html(t) for t in df["text"]]
    df["lang"] = "en"
    return df[["url", "warc_ts", "html", "text", "lang"]]


def test_star_strategy_engages_and_matches_oracle(spark, hot_corpus):
    cfg = DedupConfig()
    sdf = spark.createDataFrame(hot_corpus)
    res = run_pipeline(sdf, cfg, use_simhash=True)
    stats = res.bucket_stats.toPandas()
    assert (stats["strategy"] == "star").any(), "star strategy never engaged"
    assert stats.loc[stats["strategy"] == "star", "size"].max() >= 100

    # no quadratic blowup: pair count bounded by
    # sum(all_pairs: n*(n-1)/2) + sum(star: n-1) per bucket, across bands
    n_pairs = res.candidate_pairs.count()
    bound = int(
        (stats["size"] * (stats["size"] - 1) // 2)[
            stats["strategy"] == "all_pairs"
        ].sum()
        + (stats["size"] - 1)[stats["strategy"] == "star"].sum()
    )
    assert n_pairs <= bound

    o = run_oracle(hot_corpus, cfg, use_simhash=True)
    sa = (
        res.assignments.select("url", "cluster_id", "is_canonical")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(sa, oa, check_dtype=False)
    # the whole hot family must end up in ONE cluster (star keeps it connected)
    hot = sa[sa["url"].str.startswith("https://hot.test/")]
    assert hot["cluster_id"].nunique() == 1


def test_star_hot_flag_and_stats_only_parity(spark, hot_corpus):
    """bucket_hard_cap: buckets beyond it are flagged strategy=
    'star_hot' in bucket_stats while the PAIR rule stays identical to
    star; and bucket_stats_only (the one producer of bucket_stats,
    a count-only aggregate) returns exactly the bucket inventory of
    the membership relation, computed here in pandas."""
    from destor_spark.operators import lsh as lsh_op
    from destor_spark.plans.pipeline import signatures_stage

    sdf = spark.createDataFrame(hot_corpus)
    cfg = DedupConfig()
    sigs = signatures_stage(sdf, cfg)
    ex = lsh_op.explode_bands(sigs).localCheckpoint()

    hot = DedupConfig(bucket_hard_cap=100)
    pairs_b = lsh_op.bucket_pairs(ex, cfg)
    pairs_h = lsh_op.bucket_pairs(ex, hot)
    so_df = lsh_op.bucket_stats_only(ex, hot)
    sh = so_df.toPandas()
    assert (sh["strategy"] == "star_hot").any(), "flag never engaged"
    assert set(sh["strategy"]) <= {"all_pairs", "star", "star_hot"}
    # pair semantics unchanged by the flag
    assert pairs_b.exceptAll(pairs_h).count() == 0
    assert pairs_h.exceptAll(pairs_b).count() == 0
    # stats_only row-identical to the pandas inventory of ex, with
    # size as bigint (checkpointed stats tables are restored and
    # compared across runs)
    assert [(f.name, f.dataType.simpleString()) for f in so_df.schema] == [
        ("band", "int"), ("key", "bigint"), ("size", "bigint"),
        ("strategy", "string"),
    ]
    key = ["band", "key"]
    inv = ex.toPandas().groupby(key).size().rename("size").reset_index()
    inv = inv[inv["size"] >= 2]
    inv["strategy"] = np.where(
        inv["size"] <= hot.bucket_cap,
        "all_pairs",
        np.where(inv["size"] > hot.bucket_hard_cap, "star_hot", "star"),
    )
    a = sh.sort_values(key).reset_index(drop=True)
    b = inv.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["size"].to_numpy() == b["size"].to_numpy()).all()
    assert (a["strategy"].to_numpy() == b["strategy"].to_numpy()).all()
