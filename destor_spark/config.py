"""Pipeline configuration.

destor selects its strategy space (chunking x sampling x segmenting x
selection x rewrite) from a text config (reference:
/root/reference/src/config.c:85-308, destor.config:27-109).  The Spark
engine mirrors that knob surface with one frozen dataclass; the default
values are the "reference config" that the pandas oracle and the Spark
pipeline must both run at for the recall >= 0.99 parity gate
(FIXTURES.md section 4).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (destor analogue: chunking, src/chunk_phase.c) ---
    shingle_size: int = 5          # words per shingle (k)
    # --- MinHash (destor analogue: min-fp sampling, sampling_method.c:12-76)
    num_hashes: int = 128          # signature length
    bands: int = 16                # LSH bands (b)
    rows: int = 8                  # rows per band (r); b*r == num_hashes
    seed: int = 42                 # hash seed everywhere (matches Spark xxhash64)
    # --- verification ---
    tau: float = 0.71              # Jaccard threshold ~ (1/b)^(1/r)
    # --- SimHash pass ---
    simhash_bits: int = 64
    simhash_radius: int = 3        # Hamming-ball radius
    simhash_blocks: int = 4        # pigeonhole blocks (radius < blocks)
    # combination index (the 10^12-doc scale path): split into THIS many
    # blocks and bucket on every (blocks - radius)-subset concatenation
    # — e.g. 8 blocks/radius 3 -> C(8,5)=56 tables with 40-bit keys,
    # ~2^24x more selective per bucket than a single 16-bit block.  Any
    # pair within the radius leaves >= blocks-radius blocks untouched,
    # so some subset matches exactly: still a COMPLETE candidate filter,
    # and the exact bit_count verify keeps the final pair semantics
    # identical to the pigeonhole path.  0 = classic pigeonhole.
    simhash_combo_blocks: int = 0
    # --- substring pass ---
    substring_len: int = 200       # L: min shared-substring length (chars)
    # --- skew handling (destor analogue: segment-size bounds
    #     segmenting_method.c:88-109 and capping cap_rewrite.c) ---
    bucket_cap: int = 64           # all-pairs above this switch to star pairing
    bucket_hard_cap: int = 100_000 # buckets above this are flagged
                                   # strategy='star_hot' in bucket_stats
                                   # (still star-paired; the flag is the
                                   # next run's salting/pre-split input)
    # canonical selection is FIXED to (warc_ts, url) ordering (destor:
    # first-copy-wins, kvstore_htable.c:44-53) — it is hardcoded at
    # every ordering site (exact.py, lsh.py, assign.py, oracle.py), so
    # it is deliberately NOT a config knob (a dead order_cols field
    # previously suggested otherwise and silently did nothing)
    # --- clustering ---
    max_cc_rounds: int = 50

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_hashes:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) != num_hashes "
                f"({self.num_hashes})"
            )
        if self.bucket_hard_cap < self.bucket_cap:
            # _strategy() tests `size <= bucket_cap` first; an inverted
            # pair would label (and ALL-PAIR!) hard-cap-sized buckets
            # as all_pairs and never flag star_hot — exactly the
            # blow-up the caps exist to prevent
            raise ValueError(
                f"bucket_hard_cap ({self.bucket_hard_cap}) must be >= "
                f"bucket_cap ({self.bucket_cap})"
            )
        if self.simhash_radius >= self.simhash_blocks:
            raise ValueError("pigeonhole needs radius < blocks")
        if self.simhash_bits % self.simhash_blocks:
            # same divisibility rule the combo path already enforces:
            # a non-dividing block count silently truncates width
            # (blocks=5 -> top 4 bits never bucketed; blocks=65 ->
            # width 0, the whole corpus in one bucket per block)
            raise ValueError("simhash_blocks must divide simhash_bits")
        if self.simhash_combo_blocks:
            if self.simhash_bits % self.simhash_combo_blocks:
                raise ValueError("combo blocks must divide simhash_bits")
            if self.simhash_radius >= self.simhash_combo_blocks:
                raise ValueError("combo index needs radius < blocks")


DEFAULT_CONFIG = DedupConfig()

# A cheap config for unit tests / the DuckDB-parity driver queries.
SMALL_CONFIG = DedupConfig(num_hashes=32, bands=8, rows=4, tau=0.6)
