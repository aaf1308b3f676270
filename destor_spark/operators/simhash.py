"""SimHash Hamming-ball pass (second dup modality).

Catches edits below word-shingle MinHash resolution.  The 64-bit
SimHash per document is computed over the SHINGLE-hash set inside the
signature UDF (operators/minhash.py, numpy kernel hashing.simhash64
shared with the oracle) — shingle-set SimHash keeps unrelated documents
far apart even under a Zipf token distribution, where token-frequency
SimHash degenerates (top words dominate every doc's vote vector).

Candidate generation by pigeonhole: with Hamming radius 3 and 4
disjoint 16-bit blocks, any pair within the ball agrees on at least one
whole block, so equality buckets on (block_id, block_value) are a
complete candidate filter.  Verification = bit_count(a ^ b) <= radius,
pure JVM.

destor analogue: a second sampling strategy plugged into the same
feature-index machinery (sampling strategies are swappable,
/root/reference/src/index/index.h:38-39); it reuses lsh.bucket_pairs.

Scale note: 16-bit block values over 10^12 docs make dense buckets;
the cap/star strategy in bucket_pairs bounds the work, and the
COMBINATION INDEX (cfg.simhash_combo_blocks, e.g. 8 blocks -> C(8,5)=56
tables of 40-bit keys, the scheme of Manku et al. WWW'07 "Detecting
Near-Duplicates for Web Crawling") is the built-in scale-up path: any
pair within radius r leaves >= blocks-r blocks untouched, so bucketing
every (blocks-r)-subset concatenation remains a complete candidate
filter while each table's key space grows from 2^16 to 2^40.
"""

from __future__ import annotations

import dataclasses
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig

# Crossover between the two candidate-index physical strategies,
# expressed as expected docs per pigeonhole bucket (n_live / 2^width).
# The pigeonhole's in-bucket all-pairs cost grows as occupancy^2 once
# the 16-bit key space saturates: measured on the synthetic corpus
# (BENCH.md r4 diagnosis), the simhash+edges stage is 35 s at 1M docs
# (occupancy ~15, local[8]) but 866 s at 2M (occupancy ~30) with 121 s
# GC pauses, and the 4M leg dies in-JVM — while the combo index (56
# exploded rows/doc but 40-bit keys) stays linear: 2.4M candidates and
# sub-second pauses at 2M.  Below the crossover the combo's constant
# factor loses (4x at 1M); switch while all-pairs cost is still small.
PIGEONHOLE_MAX_OCCUPANCY = 16
AUTO_COMBO_BLOCKS = 8


def auto_index_config(cfg: DedupConfig, n_live: int) -> DedupConfig:
    """Pick the candidate-index physical strategy from corpus size.

    Pair SEMANTICS are identical either way (both schemes are complete
    filters over the same Hamming ball and the exact bit_count verify
    runs after either — parity-gated in tests/test_simhash_combo.py);
    only the bucket-join physics differ.  An explicit
    cfg.simhash_combo_blocks is always respected;
    combo_blocks == 0 means "auto": classic pigeonhole until the
    expected per-bucket occupancy n_live / 2^width crosses
    PIGEONHOLE_MAX_OCCUPANCY, the Manku combination index beyond.

    destor analogue: index selection by expected scale is exactly the
    DDFS-vs-sampled-index fork (/root/reference/src/index/index.c:16-59
    picks the fingerprint index variant from config); here the engine
    picks it from the measured corpus instead.
    """
    if cfg.simhash_combo_blocks:
        return cfg
    width = cfg.simhash_bits // cfg.simhash_blocks
    if n_live <= PIGEONHOLE_MAX_OCCUPANCY * (1 << width):
        return cfg
    # the combo index needs radius < blocks; for an unusual config
    # with radius >= AUTO_COMBO_BLOCKS, widen the block count to the
    # smallest valid power-of-two-ish choice instead of crashing the
    # run mid-pipeline on dataclasses.replace re-validation (any
    # blocks in (radius, simhash_bits] keeps the filter complete)
    combo = AUTO_COMBO_BLOCKS
    while combo <= cfg.simhash_radius:
        combo *= 2
    if combo > cfg.simhash_bits:
        return cfg  # no valid combo split: stay on pigeonhole
    return dataclasses.replace(cfg, simhash_combo_blocks=combo)


def combo_sets(cfg: DedupConfig) -> list[tuple[int, ...]]:
    """Deterministic (blocks - radius)-subsets of block indices."""
    return list(
        combinations(
            range(cfg.simhash_combo_blocks),
            cfg.simhash_combo_blocks - cfg.simhash_radius,
        )
    )


def explode_blocks(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, warc_ts, simhash) -> (url, warc_ts, band, key) membership.

    Classic pigeonhole (simhash_combo_blocks == 0): one bucket per
    block, key = block value.  Combination index: one bucket per
    block-subset, key = the subset's block values concatenated
    LSB-first (width*(blocks-radius) bits in one long).
    """
    live = sigs.filter(F.col("n_shingles") > 0)  # empty docs: no sketch

    if not cfg.simhash_combo_blocks:
        width = cfg.simhash_bits // cfg.simhash_blocks
        mask = (1 << width) - 1
        blocks = F.array(
            *[
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias(f"b{i}")
                for i in range(cfg.simhash_blocks)
            ]
        )
        return (
            live.select(
                "url", "warc_ts", F.posexplode(blocks).alias("band", "key")
            )
            # offset band ids so SimHash buckets never merge with MinHash
            .withColumn("band", F.col("band") + F.lit(10_000))
        )

    width = cfg.simhash_bits // cfg.simhash_combo_blocks
    mask = (1 << width) - 1

    def _block(i: int):
        return F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
            F.lit(mask)
        )

    def _combo_key(combo: tuple[int, ...]):
        key = F.lit(0).cast("bigint")
        for pos, i in enumerate(combo):
            key = key.bitwiseOR(
                F.shiftleft(_block(i), pos * width).cast("bigint")
            )
        return key

    keys = F.array(*[_combo_key(c) for c in combo_sets(cfg)])
    return (
        live.select("url", "warc_ts", F.posexplode(keys).alias("band", "key"))
        # 10_100+: distinct namespace vs pigeonhole (10_000+) and MinHash
        .withColumn("band", F.col("band") + F.lit(10_100))
    )


def simhash_pairs(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate + verified pairs with Hamming distance <= radius.

    sigs: the signature table from pipeline.signatures_stage
    (url, warc_ts, ..., n_shingles, simhash).
    """
    from destor_spark.operators.lsh import bucket_pairs

    cand = bucket_pairs(explode_blocks(sigs, cfg), cfg)
    s = sigs.select("url", "simhash")
    a = s.select(F.col("url").alias("url_a"), F.col("simhash").alias("ha"))
    b = s.select(F.col("url").alias("url_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(a, "url_a")
        .join(b, "url_b")
        .filter(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            <= F.lit(cfg.simhash_radius)
        )
        .select("url_a", "url_b")
    )
