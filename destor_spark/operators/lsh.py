"""LSH banding -> bucket join -> candidate pairs, with explicit skew
handling.

destor analogue: the feature kv index + similarity lookup
(/root/reference/src/index/kvstore_htable.c:156-168,
/root/reference/src/index/similarity_detection.c:49-217).  destor does a
point lookup per feature; at Spark scale the "index" is the exploded
(band, bucket_key) relation itself and lookup becomes one shuffle that
co-locates every bucket's members (SURVEY.md J1-J3).

Skew strategy (SURVEY.md section 4 custom item 1; destor analogue:
segment-size bounds segmenting_method.c:88-109 and capping
cap_rewrite.c:44-107):

  * bucket size 1 .......... dropped before any pair work (inner join
                             against the >=2 size table)
  * 2 <= size <= bucket_cap  all-pairs inside the bucket, generated
                             JVM-side from a collect_list array (max
                             cap*(cap-1)/2 pairs per bucket)
  * size > bucket_cap ...... STAR pairing: every member pairs with the
                             bucket head (min (warc_ts, url)).  Linear
                             in bucket size, never materializes a giant
                             array, and keeps the cluster connected via
                             union-find transitivity.  The pandas
                             oracle applies the identical rule, so
                             assignment parity is preserved.

bucket_stats (band, key, size, strategy) is the per-bucket inventory
for lineage/metrics (destor jcr analogue), produced by
bucket_stats_only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig


def explode_bands(sigs: DataFrame) -> DataFrame:
    """(url, warc_ts, band_keys) -> (url, warc_ts, band, key).

    Empty documents (n_shingles == 0) carry sentinel signatures and are
    excluded here — destor's empty-segment sentinel feature
    (/root/reference/src/index/sampling_method.c:68-74) exists so that
    empties never match each other; we get the same effect by filtering.
    """
    return (
        sigs.filter(F.col("n_shingles") > 0)
        .select(
            "url",
            "warc_ts",
            F.posexplode("band_keys").alias("band", "key"),
        )
    )


def bucket_pairs(ex: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Generic bucketed pair generation with the cap/star skew strategy.

    ex: (url, warc_ts, band, key) membership relation.
    Returns pairs(url_a, url_b), distinct across buckets and
    url-normalized (url_a < url_b lexicographic — see _norm_pair;
    in-bucket ordering and star-head selection remain by (warc_ts,
    url), first-copy-wins).  The bucket inventory is
    bucket_stats_only's.

    One groupBy collects each bucket and the pairs are generated
    JVM-side from the sorted member array: 2 shuffles total.  A bucket
    materializes as one in-task array — fine up to millions of
    members, the regime the cap/star rule already targets.

    Shared by the MinHash band pass and the SimHash block pass — both
    are instances of destor's feature->segment-list index lookup
    (/root/reference/src/index/kvstore_htable.c:156-168).
    """
    grouped = (
        ex.groupBy("band", "key")
        .agg(
            F.array_sort(F.collect_list(F.struct("warc_ts", "url"))).alias(
                "ms"
            )
        )
        .filter(F.size("ms") >= 2)
    )
    pair_array = F.when(
        F.size("ms") <= cfg.bucket_cap, _combos(F.col("ms"))
    ).otherwise(_star(F.col("ms")))
    return (
        grouped.select(F.explode(pair_array).alias("p"))
        .select("p.url_a", "p.url_b")
        # a url present TWICE in one bucket (streaming store + re-crawl
        # of the same page, or duplicate input rows) would otherwise
        # emit the degenerate self-pair (X, X) — the member structs
        # differ on warc_ts, so i<j combination does not exclude it
        .filter(F.col("url_a") != F.col("url_b"))
        .select(*_norm_pair())
        .distinct()
    )


def _strategy(size_col, cfg: DedupConfig):
    """Per-bucket strategy label for bucket_stats: all_pairs below the
    cap, star above it, star_hot above cfg.bucket_hard_cap.  star_hot
    buckets are PAIRED identically to star (linear, head-connected) —
    the label is the promised hot-bucket log line, persisted with the
    run's bucket_stats lineage so the next run can salt or pre-split
    those keys (the destor-HAR pattern, har_rewrite.c:17-180)."""
    return (
        F.when(size_col <= cfg.bucket_cap, F.lit("all_pairs"))
        .when(size_col > cfg.bucket_hard_cap, F.lit("star_hot"))
        .otherwise(F.lit("star"))
    )


def bucket_stats_only(ex: DataFrame, cfg: DedupConfig) -> DataFrame:
    """bucket_stats(band, key, size, strategy): every bucket of >= 2
    members, the strategy bucket_pairs applies to it.

    The shuffle carries (band, key, partial_count) instead of
    member-struct arrays (map-side combine on a plain count): the
    bucket inventory never re-runs the collect_list groupBy, the
    job's largest shuffle, just to persist a tiny table."""
    sizes = (
        ex.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") >= 2)
    )
    return sizes.withColumn("strategy", _strategy(F.col("size"), cfg))


# Final pair orientation is URL-lexicographic (url_a < url_b),
# applied before distinct: per-bucket ordering is by (warc_ts, url),
# so a re-crawled url (two warc_ts values) could otherwise emit the
# SAME unordered pair in both orientations from different buckets —
# mirrored rows that distinct() cannot collapse (double verify work,
# inflated pair counts).  Star HEAD selection stays (warc_ts, url) —
# the oldest copy anchors the star (destor first-copy-wins) — only
# the emitted pair's column order is normalized.
def _norm_pair():
    # built lazily: F.least/greatest need an active SparkContext, so a
    # module-level tuple would break plain `import destor_spark...`
    return (
        F.least("url_a", "url_b").alias("url_a"),
        F.greatest("url_a", "url_b").alias("url_b"),
    )


def _combos(ms):
    """All i<j pairs of a sorted member-struct array, pure JVM."""
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(
                    x["url"].alias("url_a"), y["url"].alias("url_b")
                ),
            ),
        )
    )


def _star(ms):
    """head-to-member pairs (head = ms[0] = min (warc_ts, url))."""
    head = F.element_at(ms, 1)["url"]
    return F.transform(
        F.slice(ms, 2, F.size(ms)),
        lambda y: F.struct(head.alias("url_a"), y["url"].alias("url_b")),
    )


def candidate_pairs(
    sigs: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidates: explode bands, then bucketed pair gen.
    Returns (pairs, bucket_stats)."""
    ex = explode_bands(sigs)
    return bucket_pairs(ex, cfg), bucket_stats_only(ex, cfg)
