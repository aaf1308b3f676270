"""MinHash signatures + LSH band keys as one Arrow-vectorized stage.

destor analogue: min-fingerprint feature sampling per segment
(index_sampling_min, /root/reference/src/index/sampling_method.c:12-76)
— each of num_hashes permutations keeps its minimum shingle hash; a
band of r rows folds into one bucket key (the "feature" that the kv
index would store, /root/reference/src/index/kvstore_htable.c:156-168).

One mapInArrow pass per document batch: tokenize + xxh64, shingle-mix
(rolling polynomial over token hashes), MinHash permutations, band-key
folding — all numpy uint64 from destor_spark.hashing, shared verbatim
with the pandas oracle, so Spark-vs-oracle signature equality is by
construction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from destor_spark import hashing as H
from destor_spark.config import DedupConfig

SIG_SCHEMA = (
    "sig array<bigint>, band_keys array<bigint>, n_shingles int, "
    "simhash bigint"
)


def doc_signature(
    token_hashes: np.ndarray, cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """(sig int64[num_hashes], band_keys int64[bands], n_shingles, simhash).

    SimHash is computed over the SHINGLE-hash set, not raw tokens:
    with a Zipf vocabulary unrelated documents share the top-frequency
    tokens, so token-level frequency-weighted SimHash collapses
    unrelated pages into one Hamming ball; shingles are near-unique
    across unrelated docs and still robust to sub-shingle noise.
    """
    sh = H.shingle_hashes(H.to_unsigned(token_hashes), cfg.shingle_size)
    sig = H.minhash_signature(sh, a, b)
    bk = H.band_keys(sig, cfg.bands, cfg.rows)
    return H.to_signed(sig), H.to_signed(bk), int(sh.shape[0]), H.simhash64(sh)


# ---------------------------------------------------------------------------
# fused text -> signature stage (mapInArrow, zero per-token objects)
# ---------------------------------------------------------------------------

def _sig_batch_arrays(
    texts, cfg: DedupConfig, a: np.ndarray, b: np.ndarray
):
    """pa.Array of strings -> (sig, band_keys, n_shingles, simhash)
    pyarrow arrays for the batch.

    Tokenize + xxh64 run over the Arrow value buffer in one numpy pass
    (hashing.tokenize_xxh64) — no Python str, no JVM array objects; the
    per-document MinHash/SimHash kernels then take zero-copy uint64
    views of the shared token-hash array.
    """
    import pyarrow as pa

    ta = texts
    if ta.null_count:
        # imported here, not at the top: `import pyarrow` alone does
        # not bind pa.compute (a fresh worker failed on its first null
        # text), and the module costs every worker memory it otherwise
        # never needs
        import pyarrow.compute as pc

        ta = pc.fill_null(ta, "")
    ta = ta.cast(pa.large_string())
    n = len(ta)
    # offsets buffer is int64[n+1] starting at the array's slice offset
    off = np.frombuffer(ta.buffers()[1], dtype=np.int64, count=n + 1 + ta.offset)[
        ta.offset :
    ]
    data_buf = ta.buffers()[2]
    buf = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, np.uint8)
    )
    token_hashes, counts = H.tokenize_xxh64(buf, off)
    tok_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=tok_off[1:])

    num, bands = cfg.num_hashes, cfg.bands
    sig_mat = np.empty((n, num), dtype=np.uint64)
    band_mat = np.empty((n, bands), dtype=np.uint64)
    n_shingles = np.empty(n, dtype=np.int32)
    simhashes = np.empty(n, dtype=np.int64)
    for i in range(n):
        th = token_hashes[tok_off[i] : tok_off[i + 1]]
        sh = H.shingle_hashes(th, cfg.shingle_size)
        sig_mat[i] = H.minhash_signature(sh, a, b)
        band_mat[i] = H.band_keys(sig_mat[i], bands, cfg.rows)
        n_shingles[i] = sh.shape[0]
        simhashes[i] = H.simhash64(sh)

    list_off = lambda w: pa.array(
        np.arange(n + 1, dtype=np.int32) * np.int32(w)
    )
    sig_arr = pa.ListArray.from_arrays(
        list_off(num), pa.array(H.to_signed(sig_mat).reshape(-1))
    )
    band_arr = pa.ListArray.from_arrays(
        list_off(bands), pa.array(H.to_signed(band_mat).reshape(-1))
    )
    return sig_arr, band_arr, pa.array(n_shingles), pa.array(simhashes)


def with_signatures_from_text(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text"
) -> DataFrame:
    """text -> sig/band_keys/n_shingles/simhash in ONE Arrow stage.

    Replaced (r5) the JVM split + F.transform(xxhash64) + pandas-UDF chain:
    higher-order functions are interpreted (not codegen'd) and box
    every token hash — profiled at 1M docs/8 cores, the tokenize+
    signature stage billed 30-50% of executor run time to GC.  The
    fused kernel produces bit-identical signatures (same xxh64 algebra,
    parity-gated in tests/test_tokenize_kernel.py) with no per-token
    allocation on either side of the Arrow boundary.

    All non-text columns pass through untouched; the text column is
    consumed (the signature stage's output feeds joins, never needs
    raw text back).
    """
    import pyarrow as pa

    a, b = H.minhash_params(cfg.num_hashes, cfg.seed)
    keep = [f for f in df.schema.fields if f.name != text_col]
    keep_names = [f.name for f in keep]
    # appending SIG_SCHEMA itself: the stage's signature columns are
    # declared once, beside doc_signature (the oracle's kernel)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + (", " if keep else "") + SIG_SCHEMA

    def gen(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col))
            sig_arr, band_arr, nsh_arr, sim_arr = _sig_batch_arrays(
                texts, cfg, a, b
            )
            cols = [
                rb.column(rb.schema.get_field_index(k)) for k in keep_names
            ]
            yield pa.RecordBatch.from_arrays(
                cols + [sig_arr, band_arr, nsh_arr, sim_arr],
                names=keep_names
                + ["sig", "band_keys", "n_shingles", "simhash"],
            )

    return df.mapInArrow(gen, out_schema)
