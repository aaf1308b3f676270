"""Candidate-pair verification.

destor analogue: similarity lookup scores candidate segments by shared
feature count and keeps the top-k
(/root/reference/src/index/similarity_detection.c:49-126).  Here each
candidate pair is scored by estimated Jaccard — the fraction of equal
MinHash signature positions — entirely JVM-side (zip_with + aggregate
inside whole-stage codegen), and kept if >= tau.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig


def _est_jaccard(sig_a, sig_b):
    """Fraction of equal signature positions, null-safe.

    eqNullSafe, not ==: zip_with pads the shorter array with NULL when
    lengths differ (e.g. a durable signature store written under a
    different num_hashes unioned with fresh batch sigs), and a plain
    == would null-poison the aggregate — NULL est silently fails the
    tau filter, mass false negatives with no error.  Null-safe pads
    score 0 and the denominator is the LONGER length, so length drift
    honestly penalizes the estimate instead of erasing the pair.  With
    equal lengths (the invariant case) this is bit-identical to
    agree / num_hashes."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: x.eqNullSafe(y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # lit(1) floor: empty-vs-empty sigs never reach verify (LSH
    # excludes the n_shingles=0 sentinel), but ANSI mode turns an
    # impossible 0/0 into a job-killing error rather than NULL
    return agree / F.greatest(F.size(sig_a), F.size(sig_b), F.lit(1))


def verify_pairs(
    pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """pairs(url_a,url_b) x sigs(url,sig) -> (url_a,url_b,est_jaccard>=tau).

    Two hash joins against the signature table; the signature table is
    the larger side, so Spark shuffles pairs to it (or broadcasts pairs
    when the candidate set is small — AQE decides from runtime stats).
    """
    s = sigs.select("url", "sig")
    a = s.select(
        F.col("url").alias("url_a"), F.col("sig").alias("sig_a")
    )
    b = s.select(
        F.col("url").alias("url_b"), F.col("sig").alias("sig_b")
    )
    joined = pairs.join(a, "url_a").join(b, "url_b")
    scored = joined.select(
        "url_a",
        "url_b",
        _est_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
    )
    return scored.filter(F.col("est_jaccard") >= F.lit(cfg.tau))
