"""xxh64 + tokenization parity between the pure-Python oracle path and
Spark's JVM built-ins — the foundation of every downstream parity gate."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from destor_spark.hashing import xxh64_str
from destor_spark.oracle import _TokenHasher, tokenize

# Java \s is ASCII-only — oracle.tokenize mirrors this with
# re.compile(r"\s+", re.ASCII); a Python Unicode \s would also split
# on \xa0/U+2000-range spaces, which the extractor deliberately
# preserves as rendered characters
TOKEN_SPLIT_RE = r"\s+"


def tokens_col(text):
    """JVM tokenizer reference: text -> array<string> of non-empty
    whitespace-separated tokens (split/filter in codegen)."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def with_token_hashes(df, text_col="text", out_col="token_hashes"):
    """JVM token-hash reference: xxhash64 (seed 42) of every token."""
    return df.withColumn(
        out_col,
        F.transform(tokens_col(F.col(text_col)), lambda t: F.xxhash64(t)),
    )


SAMPLES = [
    "",
    "a",
    "abc",
    "hello world",
    "x" * 7,
    "y" * 8,
    "z" * 31,
    "w" * 32,
    "W" * 33,
    "mixed é中文 bytes ✓",
    "q" * 100,
    "tab\tsep  multi   space\nnewline",
    " leading and trailing ",
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for s in SAMPLES:
        assert xxh64_str(s) == got[s], repr(s)


def test_token_hashes_match_oracle(spark):
    texts = SAMPLES + ["one two three four five six", "  ", "a  b"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = with_token_hashes(df).collect()
    th = _TokenHasher()
    for r in rows:
        expect = th(tokenize(r["text"])).tolist()
        assert list(r["token_hashes"]) == expect, repr(r["text"])


def test_token_hasher_cache_consistent():
    th = _TokenHasher()
    a = th(["foo", "bar", "foo"])
    b = th(["foo", "bar", "foo"])
    assert np.array_equal(a, b)
    assert a[0] == a[2] != a[1]
