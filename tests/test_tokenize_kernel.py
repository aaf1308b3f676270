"""Parity gates for the fused tokenize+xxh64 kernel and the mapInArrow
signature stage (r5: replaces the interpreted JVM split+transform path).

Three layers:
  1. kernel vs scalar reference — tokenize_spans/xxh64_tokens against
     re.split + the parity-tested pure-Python xxh64 (which
     tests/test_hash_parity.py pins against Spark's JVM xxhash64);
  2. property test over adversarial strings (hypothesis);
  3. Spark-level: with_signatures_from_text output equals the pandas
     oracle's doc_signature over tokenize + xxh64 on a corpus with
     nulls, empties, unicode, exotic whitespace and >=32-byte tokens.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from destor_spark import hashing as H

# Java \s (Spark F.split semantics): ASCII whitespace only.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ref_tokens(doc: str) -> list[str]:
    return [t for t in _JAVA_WS.split(doc) if t != ""]


def _pack(docs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    enc = [d.encode("utf-8") for d in docs]
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    off = np.zeros(len(docs) + 1, dtype=np.int64)
    off[1:] = np.cumsum([len(e) for e in enc])
    return buf, off


TRICKY = [
    "hello world",
    "",
    "   ",
    "\t\n\x0b\x0c\r",
    "a",
    " leading and trailing  ",
    "tab\tsep\nnl\x0bvt\x0cff\rcr",
    "unicode café  nbsp-is-not-ws töken",
    "x" * 31,
    "y" * 32,  # >= 32: scalar xxh64 path
    "z" * 100,
    "one " + "w" * 40 + " two",
    "m" * 7,
    "n" * 8,
    "o" * 9,
    "p" * 15,
    "q" * 16,
    "r" * 24,
    "s" * 25,
    "中文 文本 mixed",
    "   unicode line separators are token bytes",
]


def test_tokenize_spans_matches_java_split():
    buf, off = _pack(TRICKY)
    starts, lengths, counts = H.tokenize_spans(buf, off)
    got = [
        buf[s : s + ln].tobytes().decode("utf-8")
        for s, ln in zip(starts, lengths)
    ]
    ref = [t for d in TRICKY for t in _ref_tokens(d)]
    assert got == ref
    assert list(counts) == [len(_ref_tokens(d)) for d in TRICKY]


def test_xxh64_tokens_matches_scalar():
    buf, off = _pack(TRICKY)
    starts, lengths, _ = H.tokenize_spans(buf, off)
    got = H.xxh64_tokens(buf, starts, lengths)
    ref = np.array(
        [
            H.xxh64(buf[s : s + ln].tobytes())
            for s, ln in zip(starts, lengths)
        ],
        dtype=np.uint64,
    ).reshape(got.shape)
    assert np.array_equal(got, ref)


def test_xxh64_tokens_every_length():
    """Every span length 0..64 exercises each lane/tail combination."""
    docs = ["A" * k for k in range(1, 65)]
    buf, off = _pack(docs)
    starts, lengths, _ = H.tokenize_spans(buf, off)
    assert list(lengths) == list(range(1, 65))
    got = H.xxh64_tokens(buf, starts, lengths)
    ref = np.array(
        [H.xxh64(b"A" * k) for k in range(1, 65)], dtype=np.uint64
    )
    assert np.array_equal(got, ref)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=1, max_codepoint=0x2FFF
            ),
            max_size=120,
        ),
        max_size=8,
    )
)
def test_tokenize_xxh64_property(docs):
    buf, off = _pack(docs)
    hashes, counts = H.tokenize_xxh64(buf, off)
    ref_toks = [t for d in docs for t in _ref_tokens(d)]
    assert list(counts) == [len(_ref_tokens(d)) for d in docs]
    ref = np.array(
        [H.xxh64(t.encode("utf-8")) for t in ref_toks], dtype=np.uint64
    )
    assert np.array_equal(hashes, ref.reshape(hashes.shape))


@pytest.fixture(scope="module")
def spark():
    from destor_spark.session import build_session

    s = build_session(app="test-tokenize-kernel", master="local[4]",
                      shuffle_partitions=4)
    yield s


def test_fused_stage_equals_legacy_path(spark):
    """with_signatures_from_text == the oracle's doc_signature over
    tokenize + xxh64, row for row (the fused Arrow stage changes the
    tokenize path only physically — same signatures, bands, counts,
    simhashes)."""
    from destor_spark.config import SMALL_CONFIG
    from destor_spark.operators.minhash import (
        doc_signature,
        with_signatures_from_text,
    )
    from destor_spark.oracle import _TokenHasher, tokenize

    rows = [(f"u{i:03d}", d) for i, d in enumerate(TRICKY)]
    rows.append(("u_null", None))
    df = spark.createDataFrame(rows, "url string, text string")

    fused = with_signatures_from_text(df, SMALL_CONFIG)

    mh = H.minhash_params(SMALL_CONFIG.num_hashes, SMALL_CONFIG.seed)
    th = _TokenHasher()
    want = {}
    for url, text in rows:
        sig, bk, n, sim = doc_signature(
            th(tokenize(text)), SMALL_CONFIG, *mh
        )
        want[url] = (sig.tolist(), bk.tolist(), n, int(sim))

    cols = ["url", "sig", "band_keys", "n_shingles", "simhash"]
    got = {
        r["url"]: (r["sig"], r["band_keys"], r["n_shingles"], r["simhash"])
        for r in fused.select(cols).collect()
    }
    assert set(got) == set(want)
    for url in want:
        assert got[url] == want[url], url
    assert fused.schema["n_shingles"].dataType.simpleString() == "int"
    assert fused.schema["simhash"].dataType.simpleString() == "bigint"
