"""Content-defined chunking kernels — destor's C2-C5 chunker family.

Numpy re-derivations of the public algorithms destor ships:

  * Rabin CDC        (LBFS rabinpoly; reference src/chunking/rabin_chunking.c:249-276)
  * normalized Rabin (two masks around avg size;          ":283-320")
  * TTTD             (HP two-thresholds-two-divisors;     ":322-361")
  * AE               (asymmetric extremum, Zhang INFOCOM; src/chunking/ae_chunking.c:25-54)

Parity contract: every kernel here returns EXACTLY the chunk sequence
the reference's per-call semantics produce (tests/test_cdc.py checks
against direct scalar transliterations under hypothesis, plus the
shift-invariance property CDC exists for: a duplicated byte span yields
identical chunks once the window re-synchronizes).

Vectorization: the LBFS rolling-fingerprint recurrence
``fp' = ((fp << 8) | m) ^ T[fp >> shift]`` (and the window-exit removal
``fp ^= U[om]``) is GF(2)-LINEAR in the byte inputs — T and U are
built by polynomial multiplication mod an irreducible poly, and the
``(p << 8) | m`` / ``| (j << xshift)`` compositions OR disjoint bit
ranges, so XOR-additivity holds end to end.  Therefore the fingerprint
of a full 48-byte window is a pure XOR of 48 per-position byte
contributions::

    FP[g] = XOR_{j=0..47} W[j][ data[g-j] ]

which numpy evaluates as 48 fancy-indexed XOR passes over the whole
document — no per-byte Python.  The reference resets fp/window at
every chunk start and begins sliding at local offset min_size-1
(rabin_chunking.c:262-268), so the first 47 break checks of each chunk
see a partially-filled (zero-padded) window; those ≤47 positions are
walked with the scalar recurrence (zero bytes contribute nothing:
U[0] == 0), after which the per-chunk state equals the pure
sliding-window value and cut search becomes a binary search over the
precomputed candidate positions.  Cost per document: 48 vectorized
table passes + O(#chunks · 47) scalar steps + O(#chunks · log #cands).

At 100 TB this runs inside mapInPandas Arrow batches
(operators/cdc.py): embarrassingly parallel per document, no shuffle
until the chunk-fingerprint aggregation.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

_M64 = 0xFFFFFFFFFFFFFFFF

# destor's compile-time constants (rabin_chunking.c:6-7,27-29)
RABIN_POLY = 0xBFE6B8A5BF378D83
BREAKMARK = 0x78
WINSIZE = 48

# destor's runtime defaults (src/destor.c:87-89)
DEF_MIN = 1024
DEF_AVG = 8192
DEF_MAX = 65536


# --------------------------------------------------------------------------
# GF(2) polynomial arithmetic for the table build (public LBFS rabinpoly
# construction; semantics of rabin_chunking.c:80-160 with C's mod-2^64
# shift truncation reproduced via explicit masking).
# --------------------------------------------------------------------------

def _polymod(nh: int, nl: int, d: int) -> int:
    k = d.bit_length() - 1
    d = (d << (63 - k)) & _M64
    if nh:
        if nh & (1 << 63):
            nh ^= d
        for i in range(62, -1, -1):
            if nh & (1 << i):
                nh ^= d >> (63 - i)
                nl ^= (d << (i + 1)) & _M64
    for i in range(63, k - 1, -1):
        if nl & (1 << i):
            nl ^= d >> (63 - i)
    return nl


def _polymult(x: int, y: int) -> tuple[int, int]:
    ph, pl = 0, y if (x & 1) else 0
    for i in range(1, 64):
        if x & (1 << i):
            ph ^= y >> (64 - i)
            pl ^= (y << i) & _M64
    return ph, pl


def _polymmult(x: int, y: int, d: int) -> int:
    h, l = _polymult(x, y)
    return _polymod(h, l, d)


@lru_cache(maxsize=4)
def _tables(poly: int) -> tuple[np.ndarray, np.ndarray, int]:
    """(T, U, shift) — the append/remove tables of rabin_chunking.c:181-233.

    T[j] folds the 8 bits leaving the 64-bit accumulator back in mod
    poly (calcT, :183-209); U[j] is the contribution of a byte exiting
    the 48-byte window (window_init, :216-233) so XORing it removes
    that byte.  U[0] == 0, which is why zero-padded partial windows
    need no removals.
    """
    xshift = poly.bit_length() - 1
    shift = xshift - 8
    T1 = _polymod(0, 1 << xshift, poly)
    T = np.array(
        [(_polymmult(j, T1, poly) | ((j << xshift) & _M64)) & _M64
         for j in range(256)],
        dtype=np.uint64,
    )
    sizeshift = 1
    for _ in range(1, WINSIZE):
        sizeshift = (((sizeshift << 8) ^ int(T[sizeshift >> shift])) & _M64)
    U = np.array(
        [_polymmult(j, sizeshift, poly) for j in range(256)], dtype=np.uint64
    )
    return T, U, shift


@lru_cache(maxsize=4)
def _window_tables(poly: int) -> np.ndarray:
    """W[j][v]: fingerprint contribution of byte value v at distance j
    from the window end (j=0 → the newest byte).

    Built OPERATIONALLY: run the scalar recurrence over a 48-byte
    window that is all zeros except position 47-j holding v, for all
    256 v at once (one numpy lane per value).  GF(2)-linearity then
    gives FP(window) = XOR_j W[j][byte at distance j] for any content —
    asserted against the scalar slide in tests/test_cdc.py.
    """
    T, _U, shift = _tables(poly)
    vals = np.arange(256, dtype=np.uint64)
    W = np.empty((WINSIZE, 256), dtype=np.uint64)
    sh8 = np.uint64(8)
    shn = np.uint64(shift)
    for j in range(WINSIZE):
        fp = np.zeros(256, dtype=np.uint64)
        for step in range(WINSIZE):
            m = vals if step == WINSIZE - 1 - j else np.uint64(0)
            fp = ((fp << sh8) | m) ^ T[(fp >> shn)]
        W[j] = fp
    return W


def window_fps(data: np.ndarray, poly: int = RABIN_POLY) -> np.ndarray:
    """FP[i] = fingerprint of the 48-byte window ending at byte 47+i
    (inclusive), for every full-window position in ``data`` (uint8)."""
    n = data.size
    if n < WINSIZE:
        return np.empty(0, dtype=np.uint64)
    W = _window_tables(poly)
    out = W[0][data[WINSIZE - 1:]].copy()
    for j in range(1, WINSIZE):
        out ^= W[j][data[WINSIZE - 1 - j: n - j]]
    return out


# --------------------------------------------------------------------------
# The chunk walks.  All return a uint64 array of chunk END offsets
# (exclusive); np.diff(cuts, prepend=0) gives chunk sizes.
# --------------------------------------------------------------------------

def _partial_scan(data, s, lo_i, hi_i, T, shift, checks):
    """Scalar walk over the ≤47 zero-padded-window checks of one chunk.

    Slides bytes data[s+lo_i-1 .. s+hi_i-2] (reference loop
    rabin_chunking.c:268-275 with i in [lo_i, hi_i)); ``checks(fp, i)``
    returns a cut offset or None and may carry variant state (TTTD's
    backup mark) via closure.
    """
    fp = 0
    for i in range(lo_i, hi_i):
        fp = (((fp << 8) | data[s + i - 1]) ^ int(T[fp >> shift])) & _M64
        c = checks(fp, i)
        if c is not None:
            return c
    return None


def _cand_positions(fps: np.ndarray, mask: int, magic: int) -> np.ndarray:
    """Global byte positions g (window END, inclusive) matching the
    break test, from the window_fps array (index i ↔ g = i + 47)."""
    return np.flatnonzero((fps & np.uint64(mask)) == np.uint64(magic)) + WINSIZE - 1


def _first_in(cand: np.ndarray, lo: int, hi: int) -> int | None:
    """First candidate g with lo <= g <= hi, else None."""
    k = int(np.searchsorted(cand, lo))
    if k < cand.size and cand[k] <= hi:
        return int(cand[k])
    return None


def rabin_cuts(
    data: bytes,
    min_size: int = DEF_MIN,
    avg_size: int = DEF_AVG,
    max_size: int = DEF_MAX,
    poly: int = RABIN_POLY,
) -> np.ndarray:
    """Standard Rabin CDC (rabin_chunk_data, rabin_chunking.c:249-276).

    Per chunk: skip min_size, slide from local byte min_size-1, cut at
    the first i with (fp & (avg_size-1)) == 0x78, cap at max_size;
    remainders <= min_size are one chunk.
    """
    n = len(data)
    mask = avg_size - 1
    T, _U, shift = _tables(poly)
    arr = np.frombuffer(data, dtype=np.uint8) if n else np.empty(0, np.uint8)
    cand = _cand_positions(window_fps(arr, poly), mask, BREAKMARK)
    cuts = []
    s = 0
    while n - s > min_size:
        end = min(n - s, max_size)
        hi_partial = min(end, min_size + WINSIZE - 1)

        def chk(fp, i):
            return i if (fp & mask) == BREAKMARK else None

        cut = _partial_scan(data, s, min_size, hi_partial, T, shift, chk)
        if cut is None and end > min_size + WINSIZE - 1:
            g = _first_in(cand, s + min_size + WINSIZE - 2, s + end - 2)
            if g is not None:
                cut = g - s + 1
        if cut is None:
            cut = end
        s += cut
        cuts.append(s)
    if s < n:
        cuts.append(n)
    return np.array(cuts, dtype=np.int64)


def normalized_rabin_cuts(
    data: bytes,
    min_size: int = DEF_MIN,
    avg_size: int = DEF_AVG,
    max_size: int = DEF_MAX,
    poly: int = RABIN_POLY,
) -> np.ndarray:
    """Normalized Rabin (normalized_rabin_chunk_data, :283-320): a
    LOOSER mask (2·avg-1) below avg size, a TIGHTER one (avg/2-1)
    above, pulling the size distribution toward avg."""
    n = len(data)
    small_mask = avg_size * 2 - 1
    large_mask = avg_size // 2 - 1
    T, _U, shift = _tables(poly)
    arr = np.frombuffer(data, dtype=np.uint8) if n else np.empty(0, np.uint8)
    fps = window_fps(arr, poly)
    cand_s = _cand_positions(fps, small_mask, BREAKMARK)
    cand_l = _cand_positions(fps, large_mask, BREAKMARK)
    cuts = []
    s = 0
    while n - s > min_size:
        end = min(n - s, max_size)
        hi_partial = min(end, min_size + WINSIZE - 1)

        def chk(fp, i):
            m = small_mask if i < avg_size else large_mask
            return i if (fp & m) == BREAKMARK else None

        cut = _partial_scan(data, s, min_size, hi_partial, T, shift, chk)
        if cut is None and end > min_size + WINSIZE - 1:
            lo_i = min_size + WINSIZE - 1  # first full-window check index
            # small-mask region: i in [lo_i, min(avg_size, end) - 1]
            if lo_i < avg_size:
                hi_i = min(avg_size, end) - 1
                g = _first_in(cand_s, s + lo_i - 1, s + hi_i - 1)
                if g is not None:
                    cut = g - s + 1
            # large-mask region: i in [max(lo_i, avg_size), end - 1]
            if cut is None and end - 1 >= avg_size:
                g = _first_in(cand_l, s + max(lo_i, avg_size) - 1, s + end - 2)
                if g is not None:
                    cut = g - s + 1
        if cut is None:
            cut = end
        s += cut
        cuts.append(s)
    if s < n:
        cuts.append(n)
    return np.array(cuts, dtype=np.int64)


def tttd_cuts(
    data: bytes,
    min_size: int = DEF_MIN,
    avg_size: int = DEF_AVG,
    max_size: int = DEF_MAX,
    poly: int = RABIN_POLY,
) -> np.ndarray:
    """TTTD (tttd_chunk_data, :322-361): main divisor avg-1, backup
    divisor avg/2-1; remember the LAST backup match and fall back to it
    when no main match lands before max_size."""
    n = len(data)
    main_mask = avg_size - 1
    back_mask = avg_size // 2 - 1
    T, _U, shift = _tables(poly)
    arr = np.frombuffer(data, dtype=np.uint8) if n else np.empty(0, np.uint8)
    fps = window_fps(arr, poly)
    cand_b = _cand_positions(fps, back_mask, BREAKMARK)
    # main matches are a subset of backup matches (0x78 < avg/2)
    is_main = (
        (fps[(cand_b - (WINSIZE - 1)).astype(np.int64)] & np.uint64(main_mask))
        == np.uint64(BREAKMARK)
    ) if cand_b.size else np.empty(0, bool)
    cand_m = cand_b[is_main]
    cuts = []
    s = 0
    while n - s > min_size:
        end = min(n - s, max_size)
        hi_partial = min(end, min_size + WINSIZE - 1)
        state = {"m": 0}

        def chk(fp, i):
            if (fp & back_mask) == BREAKMARK:
                if (fp & main_mask) == BREAKMARK:
                    return i
                state["m"] = i
            return None

        cut = _partial_scan(data, s, min_size, hi_partial, T, shift, chk)
        if cut is None and end > min_size + WINSIZE - 1:
            lo_g = s + min_size + WINSIZE - 2
            hi_g = s + end - 2
            g = _first_in(cand_m, lo_g, hi_g)
            if g is not None:
                cut = g - s + 1
            else:
                # last backup match in range (scan exhausted; :356-359)
                k = int(np.searchsorted(cand_b, hi_g, side="right")) - 1
                if k >= 0 and cand_b[k] >= lo_g:
                    state["m"] = int(cand_b[k]) - s + 1
        if cut is None:
            cut = state["m"] if state["m"] else end
        s += cut
        cuts.append(s)
    if s < n:
        cuts.append(n)
    return np.array(cuts, dtype=np.int64)


def _be64_values(arr: np.ndarray) -> np.ndarray:
    """V[g] = big-endian uint64 read at byte offset g (g <= n-8) —
    ae_chunking.c's my_memcmp comparator values (:9-19)."""
    n = arr.size
    if n < 8:
        return np.empty(0, dtype=np.uint64)
    out = np.zeros(n - 7, dtype=np.uint64)
    for j in range(8):
        out = (out << np.uint64(8)) | arr[j: n - 7 + j]
    return out


def ae_cuts(
    data: bytes,
    avg_size: int = DEF_AVG,
    max_size: int = DEF_MAX,
) -> np.ndarray:
    """AE chunking (ae_chunk_data, ae_chunking.c:32-54).

    Cut window_size bytes after the last running-extremum update, where
    the extremum comparator is the big-endian u64 at each offset and
    TIES UPDATE (my_memcmp never returns 0).  Two reference quirks kept
    faithfully: (1) the max_size test is `curr == p + max_size` inside
    the non-update branch, so an update landing exactly there lets the
    chunk overshoot max_size; (2) no min_size, and tails shorter than
    window_size + 8 are one chunk.

    Per chunk the walk is vectorized: prefix-minimum over the value
    slice marks the update positions; a cut is the first update whose
    following gap exceeds window_size (plus the max_size rule).
    """
    n = len(data)
    window = int(avg_size / (np.e - 1))
    arr = np.frombuffer(data, dtype=np.uint8) if n else np.empty(0, np.uint8)
    V = _be64_values(arr)
    cuts = []
    s = 0
    while True:
        rem = n - s
        if rem <= window + 8:
            if rem > 0:
                cuts.append(n)
            break
        end_idx = n - 8  # last curr the reference dereferences (:37)
        hi = min(end_idx, s + max_size + window + 1)  # overshoot headroom
        while True:
            seg = V[s: hi + 1]
            pm = np.minimum.accumulate(seg)
            upd = np.empty(seg.size, dtype=bool)
            upd[0] = True  # max starts at p (chunk start)
            upd[1:] = seg[1:] <= pm[:-1]
            idx = np.flatnonzero(upd) + s
            nxt = np.append(idx[1:], hi + 1)
            # a cut at idx+window is only VERIFIED if the slice covers
            # that far (an update just past hi would pre-empt it)
            ok = (nxt - idx > window) & (idx + window <= hi)
            c_w = int(idx[ok][0]) + window if ok.any() else None
            ms = s + max_size
            c_m = ms if (ms <= end_idx and ms <= hi and not (
                ms - s < upd.size and upd[ms - s])) else None
            if c_w is None and c_m is None and hi < end_idx:
                hi = min(end_idx, 2 * hi - s)  # widen and re-walk
                continue
            break
        cand = [c for c in (c_w, c_m) if c is not None]
        if cand:
            s = min(cand)
            cuts.append(s)
        else:
            cuts.append(n)
            break
    return np.array(cuts, dtype=np.int64)


CUTTERS = {
    "rabin": rabin_cuts,
    "normalized": normalized_rabin_cuts,
    "tttd": tttd_cuts,
    "ae": ae_cuts,
}
