"""Spark-free sanity tests of the pandas oracle itself on a handmade
corpus with known ground truth (guards the guard)."""

from __future__ import annotations

import pandas as pd

from destor_spark.config import DedupConfig
from destor_spark.oracle import run_oracle


def _pages(rows):
    df = pd.DataFrame(rows, columns=["url", "text"])
    df["warc_ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        range(len(df)), unit="s"
    )
    return df[["url", "warc_ts", "text"]]


BASE = " ".join(f"tok{i % 37}x{i % 11}" for i in range(300))
NEAR = BASE.replace("tok5x5", "changed", 1)
OTHER = " ".join(f"other{i % 41}y{i % 13}" for i in range(250))


def test_exact_and_near_cluster():
    pages = _pages(
        [
            ("u/a", BASE),
            ("u/b", BASE),          # exact dup of a
            ("u/c", NEAR),          # near dup of a
            ("u/d", OTHER),         # unrelated
            ("u/e", ""),            # empty
        ]
    )
    o = run_oracle(pages, DedupConfig(), use_simhash=True)
    cl = dict(zip(o["assignments"]["url"], o["assignments"]["cluster_id"]))
    assert cl["u/a"] == cl["u/b"] == cl["u/c"]
    assert cl["u/d"] != cl["u/a"]
    assert cl["u/e"] != cl["u/a"]
    canon = dict(
        zip(o["assignments"]["url"], o["assignments"]["is_canonical"])
    )
    assert canon["u/a"] and not canon["u/b"] and not canon["u/c"]
    mods = set(o["dup_pairs"]["modality"])
    assert "exact" in mods and "minhash" in mods


def test_empty_docs_pair_only_exactly():
    pages = _pages([("u/1", ""), ("u/2", ""), ("u/3", "   ")])
    o = run_oracle(pages, DedupConfig(), use_simhash=True)
    cl = dict(zip(o["assignments"]["url"], o["assignments"]["cluster_id"]))
    assert cl["u/1"] == cl["u/2"]      # identical raw text
    assert cl["u/3"] != cl["u/1"]      # different whitespace != dup
    assert set(o["dup_pairs"]["modality"]) == {"exact"}


def test_oracle_order_invariance():
    rows = [("u/a", BASE), ("u/b", BASE), ("u/c", NEAR), ("u/d", OTHER)]
    a = run_oracle(_pages(rows), DedupConfig(), use_simhash=False)
    b = run_oracle(_pages(rows[::-1]), DedupConfig(), use_simhash=False)
    pa = a["assignments"].sort_values("url").reset_index(drop=True)
    pb = b["assignments"].sort_values("url").reset_index(drop=True)
    # warc_ts differs by construction order, so compare cluster shape
    assert list(pa["cluster_id"] == pa["url"]) == list(
        pb["cluster_id"] == pb["url"]
    )
    assert (
        pa.groupby("cluster_id")["url"].apply(frozenset).sort_values().tolist()
        == pb.groupby("cluster_id")["url"].apply(frozenset).sort_values().tolist()
    )


def test_oracle_bucket_pairs_self_pair_guard():
    """Engine parity (lsh.py self-pair guard): a url present twice in
    one bucket under different warc_ts must not emit the degenerate
    (X, X) pair — in either the all-pairs or the star branch."""
    from destor_spark.oracle import _bucket_pairs, _order_map

    order = _order_map(
        ["u/a", "u/b", "u/c"], ["2024-01-01", "2024-01-02", "2024-01-03"]
    )
    # all-pairs branch: u/a twice in the bucket
    got = _bucket_pairs({(0, 1): ["u/a", "u/a", "u/b"]}, order, cap=64)
    assert ("u/a", "u/a") not in got
    assert ("u/a", "u/b") in got
    # star branch (cap exceeded): head duplicated
    got = _bucket_pairs(
        {(0, 1): ["u/a", "u/a", "u/b", "u/c"]}, order, cap=2
    )
    assert ("u/a", "u/a") not in got


def test_tokenize_ascii_whitespace_only(spark):
    """Oracle tokenization must match the engine's Java \\s (ASCII):
    NBSP and Unicode spaces are rendered characters the extractor
    preserves — they must NOT split tokens in the oracle either."""
    from pyspark.sql import functions as F

    import destor_spark.oracle as O
    from test_hash_parity import tokens_col

    for s in ["foo\xa0bar", "a b", "x y", "p \t\n q"]:
        engine = (
            spark.createDataFrame([(s,)], "text string")
            .select(tokens_col(F.col("text")).alias("t"))
            .collect()[0]["t"]
        )
        assert O.tokenize(s) == engine, s


def test_oracle_recrawled_url_semantics():
    """Duplicate-url (re-crawl) input: the oracle must (a) order a url
    by its EARLIEST warc_ts (min-wins, like the engine's min-struct),
    (b) never emit a degenerate (X, X) pair, (c) emit exactly ONE
    assignment row per url with one canonical per cluster."""
    import datetime

    ts = [datetime.datetime(2024, 1, d) for d in (1, 9, 5)]
    pages = pd.DataFrame(
        {
            "url": ["X", "X", "Y"],
            "warc_ts": [ts[0], ts[1], ts[2]],
            "text": ["same text here"] * 3,
        }
    )
    o = run_oracle(pages, DedupConfig(), use_simhash=False)
    dp = o["dup_pairs"]
    assert not ((dp["url_a"] == dp["url_b"]).any())
    a = o["assignments"]
    assert a["url"].is_unique and len(a) == 2
    # X@jan1 is the earliest copy -> X canonical, Y not
    by_url = a.set_index("url")
    assert bool(by_url.loc["X", "is_canonical"])
    assert not bool(by_url.loc["Y", "is_canonical"])


def test_oracle_auto_index_mirrors_engine():
    """Above the pigeonhole occupancy threshold the ENGINE switches to
    the combo simhash index (pipeline auto_index_config); the oracle
    must make the same switch, or under star-capping the two would
    bucket differently.  Gate: an auto cfg whose corpus exceeds the
    threshold produces the same simhash pair set as an EXPLICIT combo
    cfg."""
    from destor_spark.synth import make_corpus

    pages, _ = make_corpus(seed=5, n_docs=200)
    # width 2 -> threshold 16 * 4 = 64 live docs < 200 -> auto=combo
    cfg_auto = DedupConfig(simhash_bits=64, simhash_blocks=32)
    cfg_combo = DedupConfig(
        simhash_bits=64, simhash_blocks=32, simhash_combo_blocks=8
    )
    pa = run_oracle(pages, cfg_auto)["dup_pairs"]
    pc = run_oracle(pages, cfg_combo)["dup_pairs"]
    sa = {(r.url_a, r.url_b) for r in pa[pa["modality"] == "simhash"].itertuples()}
    sc = {(r.url_a, r.url_b) for r in pc[pc["modality"] == "simhash"].itertuples()}
    assert sa == sc and len(sa) > 0
