"""Corpus-curation operators for web-scale training-data pipelines.

The filters a Common-Crawl-style pipeline runs BETWEEN extraction and
near-dup clustering: within-document repetition scoring (the Gopher
rules), corpus-wide duplicated-segment detection (the CCNet
paragraph-hash pass, re-expressed over fixed word windows because the
synthetic corpus is single-paragraph), URL canonicalization for
crawl-level dedup, and SemDeDup-style semantic dedup over an embedding
column.

Every operator is built from JVM whole-stage-codegen expressions
(split / transform / explode / window) so each has an exactly
equivalent DuckDB SQL twin in destor_spark/queries.py — the same
portability rules as the rest of the query surface (md5 hashing,
integer ppm units, identical tie-breaks).

destor analogues: within-doc repetition ~ in-container duplicate check
(/root/reference/src/backup/filter_phase.c index-buffer hit path);
segment dedup ~ the whole chunk-fingerprint dedup loop restated at
segment granularity; URL canonicalization ~ the path normalization the
trace readers apply to file ids before hashing
(/root/reference/src/fsl/ reader key handling); semantic dedup ~
similarity-index lookup with a cosine predicate instead of feature
equality (/root/reference/src/index/similarity index lookups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from destor_spark.operators.textstats import tokens

# Gopher-style repetition thresholds (Rae et al. 2021, table A1 uses
# 0.18 for the top-2-gram character fraction; the duplicate-token cap
# is our whitespace-token restatement of the duplicate-line rule —
# calibrated to the synthetic corpus's small vocabulary, where the
# natural-text 0.30 would flag 85% of documents; 0.70 sits at its p99).
# Embedded verbatim in the oracle SQL — do not edit one side only.
TOP_BIGRAM_PPM_MAX = 180_000
DUP_TOKEN_PPM_MAX = 700_000

# Non-overlapping word-window width for the segment-dedup pass (the
# "paragraph" unit: the synthetic corpus has no newlines, so the
# segmenting is fixed-width — destor's fixed segmenting, G1).
SEGMENT_W = 8

# Tracking params stripped by URL canonicalization (lowercase match).
_TRACKING_RE = "^(utm_[a-z]+|ref|fbclid|gclid)="


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition scores + keep/flag decision (Gopher).

    dup_token_ppm   = 1e6 * (n_tokens - n_distinct_tokens) / n_tokens
    top_bigram_ppm  = 1e6 * max over bigrams with count >= 2 of
                      (count(bg) * length(bg)) / n_chars — characters
                      covered by the most character-heavy REPEATED
                      word 2-gram; 0 when no bigram repeats
    repetitive      = either score above its threshold

    Plan shape: one scan; bigrams explode into (doc_id, bg) and combine
    map-side before the single shuffle on doc_id; docs shorter than two
    tokens survive via the left join with both scores 0.  No Python, no
    window over the corpus — scales as a pair of hash aggregations.
    """
    w = tokens(F.col(text_col))
    base = df.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.length(text_col).alias("n_chars"),
        w.alias("_w"),
    )
    # size guard BEFORE sequence(): Spark's sequence(1, 0) descends to
    # [1, 0] rather than returning empty, so a 1-token doc must never
    # reach the transform (the left join below restores filtered docs).
    bigrams = (
        base.filter(F.size("_w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - 1),
                    lambda i: F.array_join(F.slice(F.col("_w"), i, 2), " "),
                )
            ).alias("bg"),
        )
    )
    # only REPEATED bigrams count (cnt >= 2): the Gopher rule scores the
    # characters covered by the most character-heavy repeated 2-gram; a
    # document whose every bigram is unique must score 0, not the
    # length of its longest bigram.
    top_bg = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .groupBy("doc_id")
        .agg(F.max(F.col("cnt") * F.length("bg")).alias("top_bg_chars"))
    )
    one_tok = F.greatest(F.col("n_tokens"), F.lit(1))
    one_chr = F.greatest(F.col("n_chars"), F.lit(1))
    dup_ppm = (
        F.round(F.lit(1_000_000) * (F.col("n_tokens") - F.col("n_distinct")) / one_tok)
        .cast("bigint")
    )
    bg_ppm = (
        F.round(
            F.lit(1_000_000)
            * F.coalesce(F.col("top_bg_chars"), F.lit(0))
            / one_chr
        ).cast("bigint")
    )
    return (
        base.drop("_w")
        .join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_ppm.alias("dup_token_ppm"),
            bg_ppm.alias("top_bigram_ppm"),
            (
                (dup_ppm > F.lit(DUP_TOKEN_PPM_MAX))
                | (bg_ppm > F.lit(TOP_BIGRAM_PPM_MAX))
            ).alias("repetitive"),
        )
    )


def _segments_from_tokens(base: DataFrame, w: int) -> DataFrame:
    """(doc_id, pos, seg, seg_hash) from a pre-tokenized frame holding
    (doc_id, _w): each non-overlapping w-word window.  Docs shorter
    than w words are dropped here (sequence(1, 0) DESCENDS in Spark, so
    the size guard must come first); callers left-join them back."""
    g = base.filter(F.size("_w") >= w)
    segs = F.transform(
        F.sequence(F.lit(1), F.floor(F.size("_w") / w).cast("int")),
        lambda i: F.array_join(F.slice(F.col("_w"), (i - 1) * w + 1, w), " "),
    )
    return g.select("doc_id", F.posexplode(segs).alias("pos", "seg")).select(
        "doc_id", (F.col("pos") + 1).alias("pos"), "seg",
        F.md5("seg").alias("seg_hash"),
    )


def doc_segments(df: DataFrame, text_col: str = "text", w: int = SEGMENT_W) -> DataFrame:
    """Explode each document into (doc_id, pos, seg_hash): md5 of each
    non-overlapping w-word window.  Docs shorter than w words yield no
    segments (the caller's left join restores them)."""
    return _segments_from_tokens(
        df.select("doc_id", tokens(F.col(text_col)).alias("_w")), w
    ).select("doc_id", "pos", "seg_hash")


def _first_instances(segs: DataFrame, carry_seg: bool = False) -> DataFrame:
    """The corpus-first instance of every segment hash, keep-first by
    (doc_id, pos) — via ONE map-side-combinable min aggregation, never
    a window or self-join on seg_hash.  This is the load-bearing scale
    decision: duplicated boilerplate segments are by definition the
    HOT keys, so a row_number window (all instances co-located on one
    reducer) melts exactly where the operator matters; min(struct)
    partial-aggregates each task's instances down to one row first."""
    cols = ("doc_id", "pos", "seg") if carry_seg else ("doc_id", "pos")
    out = segs.groupBy("seg_hash").agg(
        F.min(F.struct(*cols)).alias("_f")
    )
    return out.select(
        "seg_hash", *[F.col(f"_f.{c}").alias(c) for c in cols]
    )


def segment_dedup_stats(
    df: DataFrame, text_col: str = "text", w: int = SEGMENT_W
) -> DataFrame:
    """Corpus-wide duplicated-segment accounting, keep-first semantics
    (CCNet's paragraph-hash dedup over fixed word windows).

    A segment INSTANCE is a duplicate iff the same md5 occurs earlier
    in corpus order (doc_id, pos) — exactly destor's first-occurrence
    write decision restated per segment.  Skew-proof counting: a doc's
    duplicate count is n_segments minus the number of first instances
    it OWNS, so the hot seg_hash side never joins back against the
    instance relation — one combinable agg on seg_hash, two uniform
    aggs on doc_id.
    """
    segs = doc_segments(df, text_col, w)
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    owned = (
        _first_instances(segs)
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n_first"))
    )
    out = (
        df.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(owned, "doc_id", "left")
    )
    n_seg = F.coalesce(F.col("n_segments"), F.lit(0))
    n_dup = n_seg - F.coalesce(F.col("_n_first"), F.lit(0))
    return out.select(
        "doc_id",
        n_seg.alias("n_segments"),
        n_dup.alias("n_dup_segments"),
        F.round(F.lit(1_000_000) * n_dup / F.greatest(n_seg, F.lit(1)))
        .cast("bigint")
        .alias("dup_seg_ppm"),
    )


def remove_duplicate_segments(
    df: DataFrame, text_col: str = "text", w: int = SEGMENT_W
) -> DataFrame:
    """CCNet's actual dedup step: REBUILD each document with its
    corpus-duplicated segments removed (keep-first by (doc_id, pos),
    same rule as segment_dedup_stats), the trailing <w-word remainder
    always kept.  Returns (doc_id, n_kept_segments, clean_text).

    For a single-space-tokenized document with no duplicated segments
    the reconstruction is byte-identical to the input (test-pinned) —
    the destor restore-path guarantee (byte-equal reconstruction from
    kept chunks) restated at segment granularity.

    Plan: one map-side-combinable min agg on seg_hash (_first_instances
    — no window, no self-join, so boilerplate hot hashes cannot melt a
    reducer), one doc_id aggregation whose per-doc state is the
    kept-segment list (bounded by the document's own length), one left
    join back onto the single-tokenize token spine.  No corpus-wide
    sort, no Python.
    """
    base = df.select(
        "doc_id",
        tokens(F.col(text_col)).alias("_w"),
    ).withColumn("_nseg", F.floor(F.size("_w") / w).cast("int"))
    segs = _segments_from_tokens(base, w)
    kept = (
        _first_instances(segs, carry_seg=True)
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "seg"))).alias("_ks")
        )
    )
    kept_str = F.when(
        F.col("_ks").isNotNull(),
        F.array_join(F.transform(F.col("_ks"), lambda x: x["seg"]), " "),
    ).otherwise(F.lit(""))
    tail_str = F.array_join(
        F.slice(
            F.col("_w"),
            F.col("_nseg") * w + 1,
            F.greatest(F.size("_w") - F.col("_nseg") * w, F.lit(0)),
        ),
        " ",
    )
    clean = F.array_join(
        F.filter(F.array(kept_str, tail_str), lambda x: x != F.lit("")), " "
    )
    return (
        base.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_ks").isNotNull(), F.size("_ks"))
            .otherwise(F.lit(0))
            .alias("n_kept_segments"),
            clean.alias("clean_text"),
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL for crawl-level dedup, as a pure Column
    expression (regexp/split/sort builtins shared verbatim with the
    DuckDB oracle; no lookahead so Java regex and RE2 agree):

      1. drop the fragment
      2. scheme normalized to https (crawl dedup treats the schemes as
         one resource)
      3. host lowercased, default :80/:443 ports and any run of
         leading www. prefixes stripped (one pass must be a fixed
         point — idempotence is property-gated)
      4. path: trailing slash stripped
      5. query: tracking params (utm_*, ref, fbclid, gclid) dropped,
         the rest sorted bytewise and re-joined

    Degenerate inputs never merge unrelated documents: protocol-
    relative urls (//host/p) parse like scheme'd ones; a url with NO
    extractable host (empty, path-only, query-only) canonicalizes to
    its own fragment-stripped raw string (empty -> NULL) instead of
    collapsing to a shared constant — pre-r5 every such url became the
    literal 'https://' and one url_dup_group, silently removing every
    document with a missing/odd url as a "duplicate".
    """
    no_frag = F.regexp_replace(url, "#.*", "")
    after = F.regexp_replace(no_frag, "^([A-Za-z][A-Za-z0-9+.-]*:)?//", "")
    hostport = F.lower(F.regexp_extract(after, "^([^/?]+)", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, ":(80|443)$", ""), r"^(www\.)+", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(after, r"^[^/?]+([^?]*)", 1), "/+$", ""
    )
    query = F.regexp_extract(after, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit(""))
            & ~p.rlike(_TRACKING_RE),
        )
    )
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )
    return F.when(host == F.lit(""), F.nullif(no_frag, F.lit(""))).otherwise(
        canon
    )


def url_dup_groups(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Group documents by canonical URL; emit groups with >1 member
    (url_canon, n_docs, rep_doc_id = smallest doc_id).  One hash
    aggregation on the canonical string — uniform keys, scale-safe."""
    return (
        df.select("doc_id", canonical_url(F.col(url_col)).alias("url_canon"))
        .filter(F.col("url_canon").isNotNull())  # empty urls never group
        .groupBy("url_canon")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# PII patterns shared verbatim with the DuckDB oracle (no lookahead /
# backreferences, so Java regex and RE2 agree).  Scrub order is fixed:
# emails first (they contain dots and digits), then phones, then IPv4.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column) -> list[Column]:
    """(n_emails, n_phones, n_ips) match counts for a text column."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_RE), F.lit(0))).alias("n_ips"),
    ]


def scrub_pii(text: Column) -> Column:
    """Redact emails -> <EMAIL>, phones -> <PHONE>, IPv4 -> <IP>, in
    that fixed order (a phone/IP inside an already-redacted email can
    never double-fire).  Pure regexp_replace — JVM codegen, and the
    DuckDB twin applies the identical three passes with the 'g' flag.

    destor analogue: none — destor treats payloads as opaque bytes;
    this is the redaction stage a training-data pipeline inserts
    between extraction and tokenization.
    """
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")


# Decontamination gram width: 13 tokens is the published convention
# (GPT-3 appendix C / PaLM / Llama use 8-13-token collision windows).
DECON_N = 13


def decontamination_flags(
    docs: DataFrame, benchmark: DataFrame, n: int = DECON_N
) -> DataFrame:
    """Train/test decontamination: flag every training document that
    shares ANY n-token gram with the benchmark relation.

    benchmark: DataFrame with a `text` column (the held-out eval set).
    Returns (doc_id, n_hits, contaminated) where n_hits counts the
    DISTINCT benchmark grams the doc collides with.

    Scale shape: the benchmark side is small by construction (eval sets
    are millions of grams, not trillions), so its distinct gram-hash
    set BROADCASTS and the probe is a map-side hash join on the
    exploded corpus grams — one corpus scan, no corpus shuffle except
    the per-doc count agg.  destor analogue: the in-memory fingerprint
    index probed per chunk (/root/reference/src/index/index.c lookup
    path) with the index roles reversed (small reference set, huge
    probe stream).
    """

    def _grams(df: DataFrame, id_cols: list[str]) -> DataFrame:
        toks = tokens(F.col("text"))
        base = df.select(*id_cols, toks.alias("_w")).filter(
            F.size("_w") >= n  # sequence(1, 0) descends in Spark
        )
        g = F.transform(
            F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
            lambda i: F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")),
        )
        return base.select(
            *id_cols, F.explode(F.array_distinct(g)).alias("g")
        )

    bench_grams = _grams(benchmark, []).distinct()
    hits = (
        _grams(docs, ["doc_id"])
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def curation_decisions(
    docs: DataFrame, url: Column, near_pairs: DataFrame
) -> DataFrame:
    """Single-pass curation verdict per document with fixed precedence:

        removed_exact      md5(text) seen at a smaller doc_id
        removed_url_dup    canonical URL seen at a smaller doc_id
        removed_near_dup   appears as doc_b in near_pairs (doc_a < doc_b
                           by the pair generator's convention)
        removed_repetitive Gopher repetition flag
        kept               none of the above

    Cascades are deliberately not re-resolved (a URL-dup's keeper may
    itself be an exact dup): production curation stages run
    independently and union their removal sets.  Plan: two keep-first
    passes (min-agg on the key + anti-join on the uniform doc_id — no
    window, see _keep_first_removals), the pair relation's own
    shuffle, then broadcast-sized left joins onto the doc spine.
    destor analogue: the filter-phase decision enum
    (/root/reference/src/backup/filter_phase.c) — one labeled verdict
    per chunk, here per document.
    """

    def _keep_first_removals(keyed: DataFrame, flag: str) -> DataFrame:
        # skew-proof keep-first: every doc carries exactly one key, so
        # the removal set is the doc spine minus the keeper set — one
        # map-side-combinable min per key, one anti-join on the UNIFORM
        # doc_id (never a window / join on the hot duplicate key).
        # NULL keys (null text, empty url) mean "no basis to call this
        # a duplicate" — exclude them, or every null-keyed doc past the
        # first would be removed as a dup of the others.
        keyed = keyed.filter(F.col("k").isNotNull())
        keepers = keyed.groupBy("k").agg(F.min("doc_id").alias("doc_id"))
        return (
            keyed.select("doc_id")
            .join(keepers, "doc_id", "left_anti")
            .select("doc_id", F.lit(1).alias(flag))
        )

    exact_rm = _keep_first_removals(
        docs.select("doc_id", F.md5("text").alias("k")), "f_exact"
    )
    url_rm = _keep_first_removals(
        docs.select("doc_id", canonical_url(url).alias("k")), "f_url"
    )
    near_rm = (
        near_pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(1))
    )
    rep = repetition_features(docs).select(
        "doc_id", F.col("repetitive").cast("int").alias("f_rep")
    )
    decision = (
        F.when(F.col("f_exact") == 1, F.lit("removed_exact"))
        .when(F.col("f_url") == 1, F.lit("removed_url_dup"))
        .when(F.col("f_near") == 1, F.lit("removed_near_dup"))
        .when(F.col("f_rep") == 1, F.lit("removed_repetitive"))
        .otherwise(F.lit("kept"))
    )
    return (
        docs.select("doc_id")
        .join(exact_rm, "doc_id", "left")
        .join(url_rm, "doc_id", "left")
        .join(near_rm, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            decision.alias("decision"),
            (decision == "kept").cast("int").alias("kept"),
        )
    )


def semantic_dup_flags(
    emb: DataFrame,
    n_cells: int = 16,
    tau_micro: int = 850_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF-cell-partitioned keep-first.

    Vectors are assigned to their nearest md5-sampled IVF centroid by
    operators/ann.ivf_assign's map-side numpy scan over the collected
    ivf_centroids quantizer (the same quantizer and assignment the ANN
    query uses, so the cell restriction is already oracle-proven);
    within a cell, a vector is a semantic duplicate iff an EARLIER
    (smaller id) cell-mate has integer micro-cosine >= tau_micro, and
    dup_of is the smallest such id (-1 when none — no NULLs so the
    driver value-hash can't drift on NaN/None formatting).

    Scale shape: candidate pairs exist only inside a cell, so the
    quadratic verify is bounded per cell exactly like an LSH bucket —
    at 10^12 docs, n_cells grows ~sqrt(N) and the hot-cell guard is the
    same cap/star rule the LSH pass uses; this fixture-sized variant
    keeps the plain within-cell self-join the oracle mirrors.
    """
    import numpy as np

    from destor_spark.operators.ann import (
        _fold_dot_cross,
        _fold_norms,
        _half_up_micro,
        ivf_assign,
        ivf_centroids,
    )

    cents_pd = ivf_centroids(emb, n_cells, id_col, vec_col).toPandas()
    cells = ivf_assign(emb, cents_pd, 1, "vid", id_col, vec_col)
    m = cells.join(
        emb.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("_v")
        ),
        "vid",
    )

    # r6: the within-cell quadratic verify runs as one numpy kernel per
    # cell (exact-fold dot/norm kernels from operators/ann.py — the
    # doubles and the HALF_UP micro-rounding are bit-identical to the
    # former zip_with/aggregate expression per pair; see the ann.py
    # kernel block).  The r5 expression self-join scored ~12M
    # interpreted per-pair folds at sf1 (8 s); the kernel does the same
    # pairwise matrix in vectorized float64.  Pair semantics unchanged:
    # a vector is a duplicate iff an earlier (smaller id) SAME-LENGTH
    # cell-mate has micro-cosine >= tau — cross-length pairs score
    # msim 0 in the expression form (zip_with null-pads -> NULL dot ->
    # coalesce 0 < tau), so grouping by vector length drops only pairs
    # that could never pass tau.
    def cell_kernel(pdf):
        import pandas as pd

        vids = pdf["vid"].to_numpy()
        order = np.argsort(vids, kind="stable")
        vids = vids[order]
        vecs = pdf["_v"].to_numpy()[order]
        cell_vals = pdf["cell"].to_numpy()[order]
        n = vids.shape[0]
        dup_of = np.full(n, -1, dtype=np.int64)
        lens = np.array(
            [-1 if v is None else len(v) for v in vecs], dtype=np.int64
        )
        for L in np.unique(lens):
            if L <= 0:
                continue
            gi = np.flatnonzero(lens == L)
            if gi.size < 2:
                continue
            V = np.asarray(
                [np.asarray(vecs[i], dtype=np.float64) for i in gi]
            )
            norms = _fold_norms(V)
            dots = _fold_dot_cross(V, V)
            denom = norms[:, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / denom)
            msim = _half_up_micro(cos)
            gv = vids[gi]
            # strict id inequality (not index order): duplicate input
            # ids must not pair with themselves, matching a_id < b_id
            ok = (msim >= tau_micro) & (gv[:, None] < gv[None, :])
            has = ok.any(axis=0)
            first = np.argmax(ok, axis=0)
            dup_of[gi[has]] = gv[first[has]]
        return pd.DataFrame(
            {
                "vid": vids,
                "cell": cell_vals,
                "dup_of": dup_of,
                "is_dup": dup_of != -1,
            }
        )

    vid_type = dict(
        (f.name, f.dataType.simpleString()) for f in emb.schema.fields
    )[id_col]
    return m.groupBy("cell").applyInPandas(
        cell_kernel,
        schema=(
            f"vid {vid_type}, cell {vid_type}, dup_of bigint, "
            "is_dup boolean"
        ),
    )
