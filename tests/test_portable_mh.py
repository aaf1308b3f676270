"""Parity gates for the fused portable-MinHash operator
(operators/portable_mh.py) vs the r5 expression formulation it
replaces — frame equality, including the adversarial tokenization
cases (multi-space, tabs INSIDE tokens under the split-on-' ' rule,
unicode, short docs, empty, null)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import destor_spark.queries as Q
from destor_spark.operators.portable_mh import (
    minhash_hex_from_text,
    pipeline_sigs_from_text,
)
from destor_spark.operators.textstats import tokens

ADVERSARIAL = [
    (1, "plain five word doc here ok"),
    (2, "double  space   run\tand tab-inside token keeps going fine"),
    (3, "  leading and trailing spaces  padded out to enough words  "),
    (4, "short doc"),  # < K tokens -> excluded / sentinel
    (5, ""),
    (6, None),
    (7, "uniéode tökens 中文 mixed byte widths "
        "across the shingle window"),
    (8, "a a a a a a a a"),  # all-identical tokens (distinct collapse)
    (9, " ".join(f"w{i % 7}" for i in range(40))),
    (10, "exactly five tokens right here"),
]


@pytest.fixture(scope="module")
def adv_docs(spark):
    pdf = pd.DataFrame(ADVERSARIAL, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf)


def _shingles(toks, k=Q.K):
    """distinct word-k-gram strings; caller guarantees size>=k."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def _md5_minima(sh):
    """array<string> shingles -> md5-string minima, NUM_MH perms."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(Q.NUM_MH - 1)),
        lambda p: F.array_min(
            F.transform(
                sh, lambda s: F.md5(F.concat(p.cast("string"), F.lit(":"), s))
            )
        ),
    )


def _portable_minhash(sh_df):
    """(doc_id, sh) -> (doc_id, mh)."""
    return sh_df.select("doc_id", _md5_minima(F.col("sh")).alias("mh"))


def _expr_mh(docs):
    """The r5 expression formulation (ground truth)."""
    d = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    sh = d.filter(F.size("w") >= Q.K).select(
        "doc_id", _shingles(F.col("w")).alias("sh")
    )
    return _portable_minhash(sh)


def _sorted_pdf(df):
    return (
        df.toPandas().sort_values("doc_id").reset_index(drop=True)
    )


def test_mh_parity_adversarial(spark, adv_docs):
    want = _sorted_pdf(_expr_mh(adv_docs))
    got = _sorted_pdf(
        minhash_hex_from_text(adv_docs, Q.NUM_MH, Q.K)
    ).rename(columns={"mh": "mh"})
    assert list(want["doc_id"]) == list(got["doc_id"])
    for a, b in zip(want["mh"], got["mh"]):
        assert list(a) == list(b)


def test_mh_parity_fixture_sf(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = _sorted_pdf(_expr_mh(docs))
    got = _sorted_pdf(minhash_hex_from_text(docs, Q.NUM_MH, Q.K))
    assert list(want["doc_id"]) == list(got["doc_id"])
    for a, b in zip(want["mh"], got["mh"]):
        assert list(a) == list(b)


def _expr_kgrams(docs, k):
    """The r5 expression formulation of the exploded distinct k-gram
    relation (ground truth for exploded_kgrams_from_text)."""
    d = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    return d.filter(F.size("w") >= k).select(
        "doc_id", F.explode(_shingles(F.col("w"), k)).alias("s")
    )


def _sorted_rows(df):
    return sorted(map(tuple, df.toPandas().itertuples(index=False)))


@pytest.mark.parametrize("k", [5, 7])
def test_kgrams_parity_adversarial(spark, adv_docs, k):
    from destor_spark.operators.portable_mh import exploded_kgrams_from_text

    want = _sorted_rows(_expr_kgrams(adv_docs, k))
    got = _sorted_rows(exploded_kgrams_from_text(adv_docs, k))
    assert want == got


def test_kgrams_digest_join_equivalence(spark, adv_docs):
    """Digest mode is an exact identity stand-in: the digest relation's
    per-key doc-sets equal the string relation's (bijective key
    mapping), so every join/group/count downstream is unchanged."""
    import hashlib

    from destor_spark.operators.portable_mh import exploded_kgrams_from_text

    for k in (5, 7):
        s_rows = exploded_kgrams_from_text(adv_docs, k).toPandas()
        d_rows = exploded_kgrams_from_text(
            adv_docs, k, digests=True
        ).toPandas()
        want = sorted(
            (int(r.doc_id), hashlib.md5(r.s.encode()).digest())
            for r in s_rows.itertuples()
        )
        got = sorted(
            (int(r.doc_id), bytes(r.s)) for r in d_rows.itertuples()
        )
        assert want == got


def test_kgrams_parity_fixture(spark):
    from destor_spark.operators.portable_mh import exploded_kgrams_from_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.select("doc_id", "text")
    want = _sorted_rows(_expr_kgrams(docs, Q.K))
    got = _sorted_rows(exploded_kgrams_from_text(docs, Q.K))
    assert want == got


def _expr_pipeline_sigs(pages):
    toks = tokens(F.col("text"))
    sh = F.when(F.size(toks) >= Q.K, _shingles(toks)).otherwise(
        F.array().cast("array<string>")
    )
    raw = pages.select(
        "url",
        "warc_ts",
        F.sha2(F.col("text"), 256).alias("content_sha"),
        sh.alias("sh"),
    )
    sigs = raw.select(
        "url",
        "warc_ts",
        "content_sha",
        _md5_minima(F.col("sh")).alias("sig"),
        F.size("sh").alias("n_shingles"),
    )
    return sigs.withColumn(
        "band_keys",
        F.transform(
            F.sequence(F.lit(0), F.lit(Q.MH_BANDS - 1)),
            lambda b: F.array_join(
                F.slice(F.col("sig"), b * Q.MH_ROWS + 1, Q.MH_ROWS), "|"
            ),
        ),
    )


def test_pipeline_sigs_parity(spark):
    pages = Q._pipeline_pages(spark, "/root/testdata/sf0.001")
    want = (
        _expr_pipeline_sigs(pages)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    got = (
        pipeline_sigs_from_text(
            pages, Q.NUM_MH, Q.MH_BANDS, Q.MH_ROWS, Q.K
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert list(want.columns) == list(got.columns)
    assert list(want["url"]) == list(got["url"])
    assert list(want["content_sha"]) == list(got["content_sha"])
    assert list(want["n_shingles"]) == list(got["n_shingles"])
    for a, b in zip(want["sig"], got["sig"]):
        assert list(a) == list(b)
    for a, b in zip(want["band_keys"], got["band_keys"]):
        assert list(a) == list(b)


def test_pipeline_sigs_parity_adversarial(spark, adv_docs):
    pages = adv_docs.select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("url"),
        F.timestamp_seconds(F.col("doc_id") + F.lit(1_700_000_000)).alias(
            "warc_ts"
        ),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    want = (
        _expr_pipeline_sigs(pages)
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    got = (
        pipeline_sigs_from_text(
            pages, Q.NUM_MH, Q.MH_BANDS, Q.MH_ROWS, Q.K
        )
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    assert list(want["n_shingles"]) == list(got["n_shingles"])
    for a, b in zip(want["sig"], got["sig"]):
        assert list(a) == list(b)
    for a, b in zip(want["band_keys"], got["band_keys"]):
        assert list(a) == list(b)
