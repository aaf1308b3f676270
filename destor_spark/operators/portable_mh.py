"""Portable (md5-hex) MinHash signatures as one vectorized Arrow stage.

The SQL-portable query family (queries.py) defines a document signature
as ``sig[p] = min over shingles s of md5(p || ':' || s)`` with shingles
= distinct space-joined word K-grams — md5-hex strings because that is
the hash family the DuckDB oracle evaluates identically.  The r5
formulation evaluated this as JVM expressions: ``transform(sequence(0,
15), p -> array_min(transform(sh, s -> md5(concat(p, ':', s)))))`` —
16 Md5 expression calls per shingle, each instantiating a MessageDigest
and materializing a 32-char hex string.  At sf1 (50k docs, ~150
shingles each) that is ~10^8 md5 calls and dominated every
portable-minhash query.

This operator computes bit-identical signatures in one ``mapInArrow``
stage over the raw text column:

  * tokenize on single spaces (the portable ``split(text, ' ')`` rule,
    NOT java \\s — a byte LUT over the Arrow buffer, zero per-token
    objects);
  * build the normalized token stream (tokens joined by single spaces)
    once per batch, so every shingle is a (start, len) slice of one
    shared buffer;
  * run the vectorized MD5 kernel (destor_spark/md5np.py) over all
    (prefix, shingle-slice) messages of the batch — 64 lane-parallel
    rounds per block, no per-message work;
  * per (doc, p) the lexicographic-minimum digest via two
    ``np.minimum.reduceat`` passes (hex order == byte order).

Distinctness note: ``array_distinct`` in the expression form cannot
change any minimum (min over a multiset == min over its support), so
the kernel hashes every shingle POSITION and skips the dedup.  The
pipeline's ``n_shingles`` (used only as an ``> 0`` gate downstream) is
still emitted as the DISTINCT count, derived from digest uniqueness —
exact unless two distinct shingles of one document collide in md5,
the same identification the whole query surface already makes (e.g.
``exact_dup_groups`` groups by ``md5(text)``).

Parity gates: tests/test_portable_mh.py pins frame equality against
the expression formulation on the driver fixtures plus adversarial
texts (multi-space, tabs-inside-tokens, unicode, empty, null).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from destor_spark import md5np
from destor_spark.hashing import tokenize_spans

# split(text, ' ') splits on SINGLE SPACES only: 0x20 is the one
# delimiter byte (java \s would also split tabs/newlines — different
# tokens).  UTF-8 multi-byte sequences never contain 0x20.
_SPACE_LUT = np.zeros(256, dtype=bool)
_SPACE_LUT[0x20] = True


def _batch_text_np(texts):
    """Arrow string array -> (uint8 buffer, int64 offsets[n+1])."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ta = texts
    if ta.null_count:
        ta = pc.fill_null(ta, "")
    ta = ta.cast(pa.large_string())
    n = len(ta)
    off = np.frombuffer(
        ta.buffers()[1], dtype=np.int64, count=n + 1 + ta.offset
    )[ta.offset:]
    data_buf = ta.buffers()[2]
    buf = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, np.uint8)
    )
    return buf, off


def _shingle_slices(buf: np.ndarray, off: np.ndarray, k: int):
    """Normalized token stream + shingle spans for one batch.

    Returns (nb, s_start, s_len, npos, n_tok_per_doc):
      nb        — uint8 buffer of all tokens joined by single spaces
                  (one trailing space per token, never read);
      s_start/s_len — spans of every shingle position (doc-major,
                  position order) within nb;
      npos      — shingle positions per doc (0 when tokens < k);
      counts    — tokens per doc.
    """
    starts, lengths, counts = tokenize_spans(buf, off, lut=_SPACE_LUT)
    n_docs = off.shape[0] - 1
    n_tok = starts.shape[0]
    tok0 = np.zeros(n_docs + 1, np.int64)
    np.cumsum(counts, out=tok0[1:])
    out_off = np.zeros(n_tok + 1, np.int64)
    np.cumsum(lengths + 1, out=out_off[1:])
    total_out = int(out_off[-1])
    if total_out:
        tok_of = np.repeat(np.arange(n_tok, dtype=np.int64), lengths + 1)
        pos_in = np.arange(total_out, dtype=np.int64) - out_off[tok_of]
        is_sp = pos_in == lengths[tok_of]
        src = starts[tok_of] + pos_in
        np.minimum(src, max(buf.size - 1, 0), out=src)
        nb = np.where(
            is_sp, np.uint8(32), buf[src] if buf.size else np.uint8(0)
        ).astype(np.uint8)
    else:
        nb = np.empty(0, np.uint8)
    npos = np.where(counts >= k, counts - k + 1, 0)
    sh0 = np.zeros(n_docs + 1, np.int64)
    np.cumsum(npos, out=sh0[1:])
    total_sh = int(sh0[-1])
    doc_of_sh = np.repeat(np.arange(n_docs, dtype=np.int64), npos)
    i_in_doc = np.arange(total_sh, dtype=np.int64) - sh0[doc_of_sh]
    first_tok = tok0[doc_of_sh]
    s_start = out_off[first_tok + i_in_doc]
    s_end = out_off[first_tok + i_in_doc + k] - 1
    return nb, s_start, s_end - s_start, npos, counts


def _doc_minhash_hex(
    nb: np.ndarray,
    s_start: np.ndarray,
    s_len: np.ndarray,
    seg_starts: np.ndarray,
    num_mh: int,
) -> list[list[str]]:
    """Per participating doc: [hex(min md5('p:'+s)) for p in 0..num_mh).

    seg_starts: start offsets of each participating doc's shingle run
    within the flattened span arrays (ascending, first == 0).
    """
    n_seg = seg_starts.shape[0]
    out: list[list[str]] = [[None] * num_mh for _ in range(n_seg)]
    # one padded-matrix build per prefix LENGTH, 16 compression passes
    # (construction was ~75% of the per-prefix kernel cost)
    digs = md5np.md5_digests_prefixes(
        nb, s_start, s_len, [f"{p}:".encode() for p in range(num_mh)]
    )
    for p in range(num_mh):
        dig = digs[p]
        win = md5np.segmented_min_digest(dig, seg_starts)
        hexes = md5np.digests_to_hex(dig[win])
        for j in range(n_seg):
            out[j][p] = hexes[j]
    return out


def _distinct_counts(nb, s_start, s_len, seg_starts) -> np.ndarray:
    """Distinct-shingle count per participating doc via p=0 digest
    uniqueness (exact unless md5 collides within one document)."""
    dig = md5np.md5_digests(nb, s_start, s_len)
    hi = dig[:, :8].view(">u8")[:, 0].astype(np.uint64)
    lo = dig[:, 8:].view(">u8")[:, 0].astype(np.uint64)
    n = hi.shape[0]
    seg_id = np.zeros(n, dtype=np.int64)
    if seg_starts.shape[0] > 1:
        seg_id[seg_starts[1:]] = 1
        np.cumsum(seg_id, out=seg_id)
    order = np.lexsort((lo, hi, seg_id))
    sh, sl, ss = hi[order], lo[order], seg_id[order]
    new = np.ones(n, dtype=bool)
    new[1:] = (ss[1:] != ss[:-1]) | (sh[1:] != sh[:-1]) | (sl[1:] != sl[:-1])
    return np.bincount(
        ss[new], minlength=seg_starts.shape[0]
    ).astype(np.int64)


def minhash_hex_from_text(
    df: DataFrame,
    num_mh: int,
    k: int,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
) -> DataFrame:
    """(ids..., text) -> (ids..., mh array<string>) for docs with at
    least k tokens — the fused equivalent of the expression chain
    (split on ' ', distinct k-shingles, per-permutation md5 minima)
    kept as the parity reference in tests/test_portable_mh.py."""
    import pyarrow as pa

    sel = df.select(*id_cols, text_col)
    keep = [f for f in sel.schema.fields if f.name != text_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", mh array<string>"
    names = [f.name for f in keep] + ["mh"]

    def gen(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col))
            buf, off = _batch_text_np(texts)
            nb, s_start, s_len, npos, _counts = _shingle_slices(buf, off, k)
            part = np.flatnonzero(npos > 0)
            sh0 = np.zeros(npos.shape[0] + 1, np.int64)
            np.cumsum(npos, out=sh0[1:])
            seg_starts = sh0[part]
            mh = _doc_minhash_hex(nb, s_start, s_len, seg_starts, num_mh)
            idx = pa.array(part, type=pa.int64())
            cols = [
                rb.column(rb.schema.get_field_index(f.name)).take(idx)
                for f in keep
            ]
            cols.append(pa.array(mh, type=pa.list_(pa.string())))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return sel.mapInArrow(gen, out_schema)


def exploded_kgrams_from_text(
    df: DataFrame,
    k: int,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
    out_col: str = "s",
    digests: bool = False,
) -> DataFrame:
    """(ids..., text) -> (ids..., s) — one row per DISTINCT space-joined
    word k-gram per document (docs with >= k tokens), the fused
    equivalent of ``explode(array_distinct(transform(...)))`` over
    ``split(text, ' ')`` tokens.

    The r5 expression chain built every k-gram via interpreted
    higher-order functions (transform + slice + array_join +
    array_distinct), allocating a UTF8String per gram — measured 16 s
    for one pass over sf1 (50k docs), and the hot-df aggregation re-ran
    the whole lineage a second time.  Here the batch's k-grams are
    (start, len) slices of one shared normalized token buffer, built
    with the same numpy machinery as the minhash kernel, and the
    per-document distinct is decided on md5 digests of the gram bytes
    (exact unless two DIFFERENT grams of one document collide in md5 —
    the same identification the query surface makes everywhere md5 is
    the join key, e.g. exact_dup_groups / segment hashes).

    digests=False: the output column carries the gram STRING (exact
    byte copy; only the dedup decision uses the digest).
    digests=True: the output column carries the 16-byte md5 DIGEST
    instead (BinaryType).  Valid whenever the consumer uses the gram
    only as an IDENTITY (equality joins / group keys / df counts —
    every pair query here: no output ever contains a gram), the same
    md5-as-key move `decontamination` already ships; ~2-3x fewer key
    bytes through every downstream shuffle and byte-array instead of
    string comparisons.  Exact under the identification above.
    Parity: tests/test_portable_mh.py::test_kgrams_parity*.
    """
    import pyarrow as pa

    sel = df.select(*id_cols, text_col)
    keep = [f for f in sel.schema.fields if f.name != text_col]
    out_type = "binary" if digests else "string"
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + f", {out_col} {out_type}"
    names = [f.name for f in keep] + [out_col]

    def gen(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col))
            buf, off = _batch_text_np(texts)
            nb, s_start, s_len, npos, _counts = _shingle_slices(buf, off, k)
            n_sh = s_start.shape[0]
            if n_sh == 0:
                continue
            doc_of = np.repeat(
                np.arange(npos.shape[0], dtype=np.int64), npos
            )
            dig = md5np.md5_digests(nb, s_start, s_len)
            hi = dig[:, :8].view(">u8")[:, 0].astype(np.uint64)
            lo = dig[:, 8:].view(">u8")[:, 0].astype(np.uint64)
            order = np.lexsort((lo, hi, doc_of))
            dd, hh, ll = doc_of[order], hi[order], lo[order]
            first = np.ones(n_sh, dtype=bool)
            first[1:] = (
                (dd[1:] != dd[:-1]) | (hh[1:] != hh[:-1]) | (ll[1:] != ll[:-1])
            )
            kept = order[first]
            nk = kept.shape[0]
            if digests:
                flat = np.ascontiguousarray(dig[kept]).reshape(-1)
                out_off = (
                    np.arange(nk + 1, dtype=np.int32) * np.int32(16)
                )
                s_arr = pa.Array.from_buffers(
                    pa.binary(),
                    nk,
                    [None, pa.py_buffer(out_off), pa.py_buffer(flat)],
                )
            else:
                ks, kl = s_start[kept], s_len[kept]
                out_off = np.zeros(nk + 1, dtype=np.int64)
                np.cumsum(kl, out=out_off[1:])
                tot = int(out_off[-1])
                gather = (
                    np.arange(tot, dtype=np.int64)
                    + np.repeat(ks - out_off[:-1], kl)
                )
                data = nb[gather] if tot else np.empty(0, np.uint8)
                s_arr = pa.Array.from_buffers(
                    pa.large_string(),
                    nk,
                    [None, pa.py_buffer(out_off), pa.py_buffer(data)],
                ).cast(pa.string())
            idx = pa.array(doc_of[kept], type=pa.int64())
            cols = [
                rb.column(rb.schema.get_field_index(f.name)).take(idx)
                for f in keep
            ]
            cols.append(s_arr)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return sel.mapInArrow(gen, out_schema)


def pipeline_sigs_from_text(
    pages: DataFrame, num_mh: int, bands: int, rows: int, k: int
) -> DataFrame:
    """(url, warc_ts, text) -> the flagship pipeline's portable
    signature relation: (url, warc_ts, content_sha, sig, n_shingles,
    band_keys), bit-identical to the r5 expression formulation:

      content_sha  = sha2(text, 256)
      sig          = [min md5(p:':'+shingle)]*num_mh, all-NULL when the
                     doc has < k tokens (array_min over empty -> NULL)
      n_shingles   = distinct shingle count (0 when < k tokens)
      band_keys    = '|'-joined sig slices per band; for sig-less docs
                     array_join skips NULLs -> '' per band
    """
    import pyarrow as pa

    sel = pages.select("url", "warc_ts", text_col := "text")
    out_schema = (
        "url string, warc_ts timestamp, content_sha string, "
        "sig array<string>, n_shingles int, band_keys array<string>"
    )

    def gen(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col))
            buf, off = _batch_text_np(texts)
            n_docs = off.shape[0] - 1
            nb, s_start, s_len, npos, _counts = _shingle_slices(buf, off, k)
            part = np.flatnonzero(npos > 0)
            sh0 = np.zeros(n_docs + 1, np.int64)
            np.cumsum(npos, out=sh0[1:])
            seg_starts = sh0[part]
            mh_part = _doc_minhash_hex(
                nb, s_start, s_len, seg_starts, num_mh
            )
            ndist_part = (
                _distinct_counts(nb, s_start, s_len, seg_starts)
                if part.size
                else np.empty(0, np.int64)
            )
            nsh = np.zeros(n_docs, dtype=np.int32)
            sig = [[None] * num_mh for _ in range(n_docs)]
            for j, d in enumerate(part):
                sig[d] = mh_part[j]
                nsh[d] = ndist_part[j]
            band_keys = [
                [
                    "|".join(
                        x for x in s[b * rows : b * rows + rows]
                        if x is not None
                    )
                    for b in range(bands)
                ]
                for s in sig
            ]
            # content_sha over the raw text bytes (sha2(text, 256))
            shas = []
            for d in range(n_docs):
                lo_b, hi_b = int(off[d]), int(off[d + 1])
                shas.append(
                    hashlib.sha256(buf[lo_b:hi_b].tobytes()).hexdigest()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("url")),
                    rb.column(rb.schema.get_field_index("warc_ts")),
                    pa.array(shas, type=pa.string()),
                    pa.array(sig, type=pa.list_(pa.string())),
                    pa.array(nsh, type=pa.int32()),
                    pa.array(band_keys, type=pa.list_(pa.string())),
                ],
                names=[
                    "url", "warc_ts", "content_sha",
                    "sig", "n_shingles", "band_keys",
                ],
            )

    return sel.mapInArrow(gen, out_schema)
