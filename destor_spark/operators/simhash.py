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


def index_tables(cfg: DedupConfig) -> tuple[int, list[tuple[int, ...]]]:
    """(block width, the block-index subset behind each bucket table).

    The pigeonhole is the combination index whose tables are single
    blocks: simhash_blocks tables of one block each.  The combination
    index (simhash_combo_blocks = c) has one table per deterministic
    (c - radius)-subset of its c blocks."""
    c = cfg.simhash_combo_blocks
    if not c:
        n = cfg.simhash_blocks
        return cfg.simhash_bits // n, [(i,) for i in range(n)]
    width = cfg.simhash_bits // c
    return width, list(combinations(range(c), c - cfg.simhash_radius))


def explode_blocks(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, warc_ts, simhash) -> (url, warc_ts, band, key) membership.

    One bucket per index table (index_tables): band = 10_000 + table
    index, key = the table's block values concatenated LSB-first
    (width bits each, one long), a single block as-is.  The offset
    keeps band ids apart from MinHash's should the two ever share a
    bucket_pairs call.
    """
    live = sigs.filter(F.col("n_shingles") > 0)  # empty docs: no sketch
    width, tables = index_tables(cfg)
    mask = (1 << width) - 1

    def _block(i: int):
        return F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
            F.lit(mask)
        )

    def _key(table: tuple[int, ...]):
        key = _block(table[0])
        for pos, i in enumerate(table[1:], 1):
            key = key.bitwiseOR(F.shiftleft(_block(i), pos * width))
        return key

    keys = F.array(*[_key(t) for t in tables])
    return live.select(
        "url", "warc_ts", F.posexplode(keys).alias("band", "key")
    ).withColumn("band", F.col("band") + F.lit(10_000))


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
