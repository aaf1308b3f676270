"""Pure pandas/numpy reference implementation of the whole pipeline.

FIXTURES.md section 3: golden outputs come from this oracle, run at the
identical config; the Spark pipeline must reach dup-pair recall >= 0.99
and matching cluster assignments.  Parity is by construction: the
oracle calls the same numpy kernels (hashing.py, minhash.doc_signature)
the Spark Arrow UDFs call, tokenizes with the same ASCII-whitespace
rule as the fused kernel (hashing.tokenize_xxh64) and the JVM
whitespace split (tests/test_hash_parity.py), and applies the
identical bucket cap/star and canonical-selection rules.

destor analogue: restore as the correctness oracle — backup then
restore must reproduce inputs byte-identically
(/root/reference/src/do_restore.c:110-186); plus the trace round-trip
(/root/reference/src/trace_phase.c:96-142) where replaying recorded
hashes must yield identical dedup stats.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import numpy as np
import pandas as pd

from destor_spark import hashing as H
from destor_spark.config import DedupConfig
from destor_spark.operators.minhash import doc_signature

# ASCII \s ONLY: the engine tokenizes with Java \s (F.split) and the
# ASCII-whitespace Arrow kernel (hashing.tokenize_xxh64), and the
# extractor deliberately PRESERVES \xa0/Unicode spaces as rendered
# characters — a Python Unicode \s here would split on them and
# silently desync oracle signatures from the engine's on any page
# containing &nbsp;
_WS = re.compile(r"\s+", re.ASCII)


def tokenize(text: str | None) -> list[str]:
    if not text:
        return []
    return [t for t in _WS.split(text) if t != ""]


class _TokenHasher:
    """xxh64 per unique token, memoized (Zipf vocab -> big hit rate)."""

    def __init__(self) -> None:
        self.cache: dict[str, int] = {}

    def __call__(self, tokens: list[str]) -> np.ndarray:
        c = self.cache
        out = np.empty(len(tokens), dtype=np.int64)
        for i, t in enumerate(tokens):
            h = c.get(t)
            if h is None:
                h = H.xxh64_str(t)
                c[t] = h
            out[i] = h
        return out


class _DSU:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent
        root = x
        while p.get(root, root) != root:
            root = p[root]
        while p.get(x, x) != root:
            p[x], x = root, p[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # root = lexicographic min, matching Spark CC cluster ids
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo
            self.parent.setdefault(lo, lo)


def _order_map(urls, tss) -> dict:
    """url -> its MINIMUM (warc_ts, url) sort key.  min-wins, not
    last-write-wins: a re-crawled url (two rows, two warc_ts) must
    order by its EARLIEST crawl, exactly like the engine's
    F.min(struct(warc_ts, url)) / row_number over (warc_ts, url)."""
    order: dict = {}
    for u, ts in zip(urls, tss):
        k = (ts, u)
        if u not in order or k < order[u]:
            order[u] = k
    return order


def _bucket_pairs(
    buckets: dict, order: dict, cap: int
) -> set[tuple[str, str]]:
    """Mirror of operators/lsh.bucket_pairs: all-pairs <= cap, else
    star to the bucket head (min (warc_ts, url)); emitted pairs are
    url-normalized (url_a < url_b lexicographic) like the engine."""
    pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        ms = sorted(members, key=lambda u: order[u])
        if len(ms) <= cap:
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    # same self-pair guard as the engine (lsh.py): a
                    # url present twice in one bucket under different
                    # warc_ts must not emit the degenerate (X, X)
                    if ms[i] != ms[j]:
                        pairs.add(
                            (min(ms[i], ms[j]), max(ms[i], ms[j]))
                        )
        else:
            head = ms[0]
            for m in ms[1:]:
                if head != m:
                    pairs.add((min(head, m), max(head, m)))
    return pairs


def run_oracle(
    pages: pd.DataFrame,
    cfg: DedupConfig,
    use_simhash: bool = True,
    use_substring: bool = False,
) -> dict:
    """Returns dict with dup_pairs, assignments, signatures, simhash.

    pages: DataFrame(url, warc_ts, text, ...).
    """
    a, b = H.minhash_params(cfg.num_hashes, cfg.seed)
    th = _TokenHasher()

    urls = pages["url"].tolist()
    texts = pages["text"].tolist()
    tss = pages["warc_ts"].tolist()

    token_hashes = [th(tokenize(t)) for t in texts]
    sigs, bandkeys, nshingles, simhashes = [], [], [], []
    for arr in token_hashes:
        s, bk, n, sh = doc_signature(arr, cfg, a, b)
        sigs.append(s)
        bandkeys.append(bk)
        nshingles.append(n)
        simhashes.append(sh)

    order = _order_map(urls, tss)

    # --- exact pass (raw text identity, sha256) ---
    exact_groups: dict[str, list[str]] = defaultdict(list)
    for u, t in zip(urls, texts):
        exact_groups[
            hashlib.sha256((t or "").encode("utf-8")).hexdigest()
        ].append(u)
    exact_pairs: set[tuple[str, str]] = set()
    for g in exact_groups.values():
        if len(g) >= 2:
            gs = sorted(g, key=lambda u: order[u])
            head = gs[0]
            for m in gs[1:]:
                # self-pair guard (a url ingested twice with the same
                # text), matching the engine's url_a != url_b filter
                if head != m:
                    exact_pairs.add((head, m))

    # --- MinHash LSH pass ---
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    for u, bk, n in zip(urls, bandkeys, nshingles):
        if n == 0:
            continue
        for band, key in enumerate(bk.tolist()):
            buckets[(band, key)].append(u)
    cand = _bucket_pairs(buckets, order, cfg.bucket_cap)

    sig_by_url = dict(zip(urls, sigs))
    minhash_pairs: set[tuple[str, str]] = set()
    est: dict[tuple[str, str], float] = {}
    for ua, ub in cand:
        j = H.est_jaccard(sig_by_url[ua], sig_by_url[ub])
        if j >= cfg.tau:
            minhash_pairs.add((ua, ub))
            est[(ua, ub)] = j

    # --- SimHash pass ---
    simhash_pairs: set[tuple[str, str]] = set()
    if use_simhash:
        # mirror the ENGINE's index auto-selection (pipeline.py calls
        # auto_index_config from the measured live count): without
        # this, a >~1M-doc oracle run would bucket by pigeonhole while
        # the engine buckets by the combo index — under bucket_cap
        # star-pairing the two schemes emit different candidate sets,
        # so the parity gate would silently compare different
        # algorithms exactly in the regime it exists to check
        from destor_spark.operators.simhash import (
            auto_index_config,
            index_tables,
        )

        cfg = auto_index_config(
            cfg, sum(1 for n in nshingles if n > 0)
        )
        # the index tables of simhash.explode_blocks, bit for bit
        width, tables = index_tables(cfg)
        mask = (1 << width) - 1
        sbuckets: dict[tuple[int, int], list[str]] = defaultdict(list)
        for u, sh, n in zip(urls, simhashes, nshingles):
            if n == 0:
                continue
            us = sh & 0xFFFFFFFFFFFFFFFF
            for ti, table in enumerate(tables):
                key = 0
                for pos, i in enumerate(table):
                    key |= ((us >> (i * width)) & mask) << (pos * width)
                sbuckets[(10_000 + ti, key)].append(u)
        scand = _bucket_pairs(sbuckets, order, cfg.bucket_cap)
        sh_by_url = dict(zip(urls, simhashes))
        for ua, ub in scand:
            x = (sh_by_url[ua] ^ sh_by_url[ub]) & 0xFFFFFFFFFFFFFFFF
            if bin(x).count("1") <= cfg.simhash_radius:
                simhash_pairs.add((ua, ub))

    # --- substring pass (anchored exact grams, mirrors operators/substring) ---
    substring_pairs: set[tuple[str, str]] = set()
    if use_substring:
        from destor_spark.operators.substring import (
            ANCHOR_W,
            _anchor_win,
            _gram_len,
        )

        glen = _gram_len(cfg)
        win = _anchor_win(cfg)
        gbuckets: dict[tuple[int, int], list[str]] = defaultdict(list)
        for u, t in zip(urls, texts):
            # same anchored-gram kernel as the Spark operator (shared
            # hash primitive, like xxh64_str elsewhere in this oracle);
            # candidate parity is by construction, pair correctness is
            # still independently arbitrated by the exact span check
            # below.
            for g in H.anchored_gram_keys(
                t or "", glen, win, ANCHOR_W
            ).tolist():
                gbuckets[(20_000, g)].append(u)
        # verification: the shared anchored gram proves ~L-2*stride
        # chars; require a true span >= L with the SAME kernel the
        # Spark verify UDF calls (operators/substring.substring_pairs).
        text_by_url = dict(zip(urls, texts))
        substring_pairs = {
            (ua, ub)
            for ua, ub in _bucket_pairs(gbuckets, order, cfg.bucket_cap)
            if H.has_common_substring(
                text_by_url[ua] or "",
                text_by_url[ub] or "",
                cfg.substring_len,
            )
        }

    # --- union-find + assignments ---
    dsu = _DSU()
    for ua, ub in exact_pairs | minhash_pairs | simhash_pairs | substring_pairs:
        dsu.union(ua, ub)
    # membership over UNIQUE urls: a re-crawled url is one document
    # with two rows — emitting it twice would double its assignment
    # row and double-flag it canonical (the engine's row-level
    # canonical selection keeps one row per url via row_number)
    uniq_urls = list(dict.fromkeys(urls))
    cluster = {u: dsu.find(u) for u in uniq_urls}

    members: dict[str, list[str]] = defaultdict(list)
    for u in uniq_urls:
        members[cluster[u]].append(u)
    rows = []
    for cid, ms in members.items():
        canon = min(ms, key=lambda u: order[u])
        for u in ms:
            rows.append((u, cid, u == canon, len(ms)))
    assignments = pd.DataFrame(
        rows, columns=["url", "cluster_id", "is_canonical", "cluster_size"]
    ).sort_values("url").reset_index(drop=True)

    dup_rows = (
        [(ua, ub, "exact", 1.0) for ua, ub in exact_pairs]
        + [(ua, ub, "minhash", est[(ua, ub)]) for ua, ub in minhash_pairs]
        + [(ua, ub, "simhash", float("nan")) for ua, ub in simhash_pairs]
        + [(ua, ub, "substring", float("nan")) for ua, ub in substring_pairs]
    )
    dup_pairs = pd.DataFrame(
        dup_rows, columns=["url_a", "url_b", "modality", "jaccard"]
    )
    return {
        "dup_pairs": dup_pairs,
        "assignments": assignments,
        "signatures": dict(zip(urls, sigs)),
        "band_keys": dict(zip(urls, bandkeys)),
        "simhash": dict(zip(urls, simhashes)),
        "n_shingles": dict(zip(urls, nshingles)),
    }
