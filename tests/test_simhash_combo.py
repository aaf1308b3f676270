"""SimHash combination index (the 10^12-doc scale path): C(8,5)=56
tables of 40-bit keys instead of 4 tables of dense 16-bit blocks.
Must stay a COMPLETE candidate filter (verified pairs unchanged) and
keep exact Spark-vs-oracle parity.
"""

from __future__ import annotations

import pandas as pd
import pytest

from destor_spark.config import DedupConfig
from destor_spark.operators.simhash import index_tables, simhash_pairs
from destor_spark.oracle import run_oracle
from destor_spark.plans.pipeline import run_pipeline, signatures_stage
from destor_spark.synth import make_corpus

COMBO_CFG = DedupConfig(simhash_combo_blocks=8)


def test_combo_sets_shape():
    width, cs = index_tables(COMBO_CFG)
    assert width == 8
    assert len(cs) == 56  # C(8, 8-3)
    assert all(len(c) == 5 for c in cs)
    assert len(set(cs)) == 56
    # the default pigeonhole: 4 single-block tables of 16 bits
    assert index_tables(DedupConfig()) == (16, [(0,), (1,), (2,), (3,)])


def _pairs(df) -> set[frozenset]:
    return {frozenset((a, b)) for a, b in zip(df["url_a"], df["url_b"])}


def test_combo_verified_pairs_equal_pigeonhole(spark):
    """Both schemes are complete filters over the same Hamming ball,
    and the exact bit_count verify runs after either — so on a corpus
    with no star-capped buckets the verified pair sets are IDENTICAL."""
    pages, _ = make_corpus(seed=23, n_docs=200)
    sdf = spark.createDataFrame(pages)
    sigs = signatures_stage(sdf, DedupConfig())
    classic = _pairs(simhash_pairs(sigs, DedupConfig()).toPandas())
    combo = _pairs(simhash_pairs(sigs, COMBO_CFG).toPandas())
    assert classic, "fixture produced no simhash pairs"
    assert classic == combo


def test_combo_pipeline_matches_oracle(spark):
    """Full pipeline parity at the combo config (oracle mirrors the
    subset bucketing bit-for-bit)."""
    pages, _ = make_corpus(seed=23, n_docs=200)
    sdf = spark.createDataFrame(pages)
    res = run_pipeline(sdf, COMBO_CFG, use_simhash=True)
    sa = (
        res.assignments.select("url", "cluster_id", "is_canonical")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    o = run_oracle(pages, COMBO_CFG, use_simhash=True)
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(sa, oa, check_dtype=False)


def test_combo_config_validation():
    with pytest.raises(ValueError):
        DedupConfig(simhash_combo_blocks=7)  # must divide 64
    with pytest.raises(ValueError):
        DedupConfig(simhash_combo_blocks=2)  # radius 3 >= blocks


def test_auto_index_config_crossover():
    """Pigeonhole below the measured occupancy crossover, combo above;
    an explicit combo_blocks is always respected."""
    from destor_spark.operators.simhash import (
        AUTO_COMBO_BLOCKS,
        PIGEONHOLE_MAX_OCCUPANCY,
        auto_index_config,
    )

    cfg = DedupConfig()
    edge = PIGEONHOLE_MAX_OCCUPANCY * (1 << (cfg.simhash_bits // cfg.simhash_blocks))
    assert auto_index_config(cfg, edge).simhash_combo_blocks == 0
    picked = auto_index_config(cfg, edge + 1)
    assert picked.simhash_combo_blocks == AUTO_COMBO_BLOCKS
    # only the index physics changed; every pair-semantics knob is intact
    assert picked.simhash_bits == cfg.simhash_bits
    assert picked.simhash_radius == cfg.simhash_radius
    # explicit setting wins regardless of corpus size
    explicit = DedupConfig(simhash_combo_blocks=8)
    assert auto_index_config(explicit, 10).simhash_combo_blocks == 8
    # original cfg is never mutated
    assert cfg.simhash_combo_blocks == 0


def test_auto_index_config_wide_radius_no_crash():
    """radius >= AUTO_COMBO_BLOCKS must widen the combo block count
    (or stay pigeonhole), never crash on dataclasses.replace
    re-validation mid-pipeline."""
    from destor_spark.config import DedupConfig
    from destor_spark.operators.simhash import auto_index_config

    cfg = DedupConfig(simhash_blocks=16, simhash_radius=8)
    out = auto_index_config(cfg, n_live=10_000_000)
    assert out.simhash_combo_blocks == 0 or (
        out.simhash_combo_blocks > out.simhash_radius
    )
    # extreme radius: any auto choice must still satisfy
    # radius < combo_blocks <= bits (or stay pigeonhole)
    cfg2 = DedupConfig(
        simhash_bits=16, simhash_blocks=16, simhash_radius=15,
        simhash_combo_blocks=0,
    )
    out2 = auto_index_config(cfg2, n_live=10_000_000)
    assert out2.simhash_combo_blocks == 0 or (
        out2.simhash_radius < out2.simhash_combo_blocks <= out2.simhash_bits
    )
