"""Seeded benchmark inputs and their cached pandas-oracle answers.

Inputs are a pure function of (workload, seed); the program only ever
sees the generated parquet files.  The oracle (`oracle.run_oracle`)
runs once per (workload, seed, program source) outside every timed
window and is cached next to the inputs, keyed by a fingerprint of the
program's source so an edited program never reads a stale answer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    n_docs: int
    use_substring: bool = False
    unique_only: bool = False  # keep only the synth "filler" class
    n_files: int = 1  # stream: equal warc_ts-ordered files, 1 per trigger

# stream warm-up: the first docs of the first file, one trigger
WARMUP_DOCS = 100


# Sizes are set by the run budget (a fresh JVM, three set-ups, a
# warm-up and two timed batch jobs must fit in about a minute on 4
# cores), not by what the program can handle: at these sizes Spark's
# per-stage fixed cost is a large share of every wall, which a later
# change may legitimately attack too.
WORKLOADS = {
    w.name: w
    for w in (
        # every pair-producing layer does real work: ~45% of docs in
        # dup groups, a giant cluster, a hot-shingle group, substring on
        Workload("batch_dupheavy", "batch", 1000, use_substring=True),
        # zero dup groups: signatures dominate, pair layers find nothing
        # (the bypass workload for pair/shuffle changes).  Run by hand:
        # not in BENCHMARK.json, for time (README.md, "Workloads")
        Workload("batch_unique", "batch", 2000, unique_only=True),
        # micro-batches against a band/signature store that each batch
        # both reads and rewrites
        Workload("stream_incremental", "stream", 600, n_files=2),
    )
}


def program_fingerprint(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "destor_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def make_pages(w: Workload, seed: int) -> pd.DataFrame:
    from destor_spark.synth import make_corpus

    if not w.unique_only:
        pages, _ = make_corpus(seed, w.n_docs)
        return pages
    # the filler class is ~35% of a stock corpus; generate enough of
    # it and keep the first n_docs filler rows (already shuffled)
    pages, truth = make_corpus(seed, int(w.n_docs / 0.3) + 64)
    filler = pages[(truth["dup_class"] == "filler").to_numpy()]
    if len(filler) < w.n_docs:
        raise RuntimeError(f"only {len(filler)} filler docs generated")
    return filler.head(w.n_docs).reset_index(drop=True)


@dataclass
class Inputs:
    workload: Workload
    path: str  # parquet file (batch) or input dir (stream)
    warmup_path: str  # input of the untimed warm-up job
    n_docs: int
    oracle_assign: pd.DataFrame  # url, cluster_id, is_canonical (batch)
    oracle_pairs: pd.DataFrame  # url_a, url_b: oracle dup pairs
    oracle_sigs: dict  # url -> signature (stream precision check)


def _write_inputs(w: Workload, seed: int, d: str) -> None:
    from destor_spark.config import DedupConfig
    from destor_spark.oracle import run_oracle

    pages = make_pages(w, seed)
    cfg = DedupConfig()
    if w.kind == "batch":
        pages.to_parquet(os.path.join(d, "pages.parquet"), index=False)
        o = run_oracle(pages, cfg, use_simhash=True,
                       use_substring=w.use_substring)
        o["assignments"][["url", "cluster_id", "is_canonical"]].to_parquet(
            os.path.join(d, "oracle_assign.parquet"), index=False
        )
        pairs = o["dup_pairs"]
    else:
        pages = pages.sort_values(["warc_ts", "url"]).reset_index(drop=True)
        in_dir = os.path.join(d, "in")
        os.makedirs(in_dir)
        bounds = np.linspace(0, len(pages), w.n_files + 1).astype(int)
        for i in range(w.n_files):
            p = os.path.join(in_dir, f"part{i:03d}.parquet")
            pages.iloc[bounds[i]:bounds[i + 1]].to_parquet(p, index=False)
            # the file source orders a backlog by modification time
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        os.makedirs(os.path.join(d, "warmup"))
        pages.head(WARMUP_DOCS).to_parquet(
            os.path.join(d, "warmup", "part000.parquet"), index=False
        )
        # the stream runs the MinHash branch only; its recall base is
        # the oracle's MinHash pairs
        o = run_oracle(pages, cfg, use_simhash=False)
        pairs = o["dup_pairs"][o["dup_pairs"]["modality"] == "minhash"]
        pd.DataFrame(
            {"url": list(o["signatures"]),
             "sig": [s.tolist() for s in o["signatures"].values()]}
        ).to_parquet(os.path.join(d, "oracle_sigs.parquet"), index=False)
    pairs[["url_a", "url_b"]].to_parquet(
        os.path.join(d, "oracle_pairs.parquet"), index=False
    )


def prepare(root: str, cache_dir: str, w: Workload, seed: int) -> Inputs:
    key = f"{w.name}-n{w.n_docs}-f{w.n_files}-s{seed}-{program_fingerprint(root)}"
    d = os.path.join(cache_dir, key)
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_inputs(w, seed, tmp)
        os.replace(tmp, d)  # atomic: a killed run leaves only .tmp dirs
    assign = None
    sigs = {}
    if w.kind == "batch":
        path = warmup = os.path.join(d, "pages.parquet")
        assign = pd.read_parquet(os.path.join(d, "oracle_assign.parquet"))
        n = len(assign)
    else:
        path = os.path.join(d, "in")
        warmup = os.path.join(d, "warmup")
        s = pd.read_parquet(os.path.join(d, "oracle_sigs.parquet"))
        sigs = {u: np.asarray(v, dtype=np.int64) for u, v in zip(s["url"], s["sig"])}
        n = len(s)
    return Inputs(
        workload=w,
        path=path,
        warmup_path=warmup,
        n_docs=n,
        oracle_assign=assign,
        oracle_pairs=pd.read_parquet(os.path.join(d, "oracle_pairs.parquet")),
        oracle_sigs=sigs,
    )
