"""The jobs a run times, their correctness checks, and the traced
layer-by-layer composition.

Untimed checks run after each job: batch assignments must equal the
pandas oracle's exactly on (url, cluster_id, is_canonical); stream
pairs must each carry the oracle signatures' estimated Jaccard, at or
above tau.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from perfbench import spans
from perfbench.host import tree_mb

ASSIGN_COLS = ["url", "cluster_id", "is_canonical"]


class CheckFailed(Exception):
    """The program ran but its output disagrees with the oracle."""


def connected_share(pairs: pd.DataFrame, edges) -> float:
    """Share of `pairs` (url_a, url_b) whose endpoints `edges` connects
    (union-find over the edge list)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    if len(pairs) == 0:
        return 1.0
    hit = sum(find(a) == find(b) for a, b in zip(pairs["url_a"], pairs["url_b"]))
    return hit / len(pairs)


def check_batch(got: pd.DataFrame, inp) -> float:
    """Raises CheckFailed unless assignments equal the oracle's; returns
    pair_recall (share of oracle dup pairs placed in one cluster)."""
    g = got[ASSIGN_COLS].sort_values("url").reset_index(drop=True)
    o = inp.oracle_assign[ASSIGN_COLS].sort_values("url").reset_index(drop=True)
    if len(g) != len(o) or not g.astype(str).equals(o.astype(str)):
        diff = len(set(map(tuple, g.astype(str).values))
                   ^ set(map(tuple, o.astype(str).values)))
        raise CheckFailed(
            f"assignments differ from the oracle: {len(g)} vs {len(o)} rows, "
            f"{diff} rows in the symmetric difference"
        )
    cid = dict(zip(g["url"], g["cluster_id"]))
    p = inp.oracle_pairs
    if len(p) == 0:
        return 1.0
    same = [cid.get(a) == cid.get(b) for a, b in zip(p["url_a"], p["url_b"])]
    return float(np.mean(same))


def check_stream(state_dir: str, inp, tau: float) -> tuple[float, int]:
    """Raises CheckFailed unless every stored pair is a true MinHash
    pair under the oracle signatures; returns (pair_recall, n_pairs)."""
    pair_dir = os.path.join(state_dir, "pairs")
    if not os.path.isdir(pair_dir):
        raise CheckFailed("stream wrote no pair store")
    pairs = pd.read_parquet(pair_dir)
    for a, b, est in zip(pairs["url_a"], pairs["url_b"], pairs["est_jaccard"]):
        sa, sb = inp.oracle_sigs.get(a), inp.oracle_sigs.get(b)
        if sa is None or sb is None:
            raise CheckFailed(f"pair ({a}, {b}) names an unknown url")
        want = float((sa == sb).mean())
        if abs(want - est) > 1e-9 or want < tau:
            raise CheckFailed(f"pair ({a}, {b}) est {est} vs oracle {want}")
    recall = connected_share(inp.oracle_pairs, zip(pairs["url_a"], pairs["url_b"]))
    return recall, len(pairs)


def batch_job(spark, pages, inp, cfg, ckpt: str) -> dict:
    """One run_checkpointed job, as `cli.py` runs it."""
    from destor_spark.plans.pipeline import run_checkpointed

    t0 = time.perf_counter()
    assign = run_checkpointed(
        spark, pages, cfg, ckpt,
        use_simhash=True, use_substring=inp.workload.use_substring,
    )
    wall = time.perf_counter() - t0
    got = assign.select(*ASSIGN_COLS).toPandas()
    return {"wall": wall, "assign": got, "state_mb": tree_mb(ckpt)}


def checkpoint_manifests(ckpt: str) -> tuple[float, int]:
    size = files = 0
    for p in glob.glob(os.path.join(ckpt, "*.manifest.json")):
        with open(p) as f:
            m = json.load(f)
        size += m.get("data_size", 0)
        files += m.get("n_files", 0)
    return size / spans.MB, files


def stream_job(spark, in_dir: str, n_batches: int, cfg, state: str,
               listener) -> dict:
    from destor_spark.streaming.dedup_stream import run_incremental_dedup

    t0 = time.perf_counter()
    run_incremental_dedup(spark, in_dir, state, cfg, files_per_trigger=1)
    wall = time.perf_counter() - t0
    prog = listener.wait_for(n_batches)
    return {
        "wall": wall,
        "progress": prog,
        "trigger_s": [r["duration_ms"]["triggerExecution"] / 1000.0 for r in prog],
        "state_mb": tree_mb(state),
    }


class StreamListener:
    """Attach a StreamSpanListener for the life of one stream job."""

    def __init__(self, spark, snapshot=None):
        self.spark = spark
        self.listener = spans.StreamSpanListener(snapshot)

    def __enter__(self):
        self.spark.streams.addListener(self.listener)
        return self.listener

    def __exit__(self, *exc):
        self.spark.streams.removeListener(self.listener)


def traced_batch(spark, pages, inp, cfg, out: str, slots: int) -> dict:
    """run_checkpointed's layer sequence composed by hand, one span per
    layer, each layer's output forced with a parquet write (the same
    barrier run_checkpointed puts after every stage).  Returns the
    assignments (for the drift guard), the spans and the traced wall."""
    from pyspark.sql import functions as F

    from destor_spark.operators import assign as assign_op
    from destor_spark.operators import cluster as cluster_op
    from destor_spark.operators import exact as exact_op
    from destor_spark.operators import lsh as lsh_op
    from destor_spark.operators import simhash as simhash_op
    from destor_spark.operators import substring as substring_op
    from destor_spark.operators import verify as verify_op
    from destor_spark.plans.pipeline import signatures_stage

    sc = spark.sparkContext
    done: dict[str, spans.Span] = {}

    def force(df, tag):
        path = os.path.join(out, tag)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def layer(name, fn):
        with spans.Span(sc, name, slots) as s:
            res = fn()
        s.read()
        done[name] = s
        return res

    t0 = time.perf_counter()
    sigs = layer("signatures", lambda: force(
        signatures_stage(pages, cfg, with_sha=True), "signatures"))
    exact = layer("exact", lambda: force(
        exact_op.exact_pairs(sigs.select("url", "warc_ts", "content_sha")),
        "exact"))
    cand = layer("lsh", lambda: (
        force(lsh_op.candidate_pairs(sigs, cfg)[0], "candidates"),
        force(lsh_op.bucket_stats_only(lsh_op.explode_bands(sigs), cfg),
              "bucket_stats"),
    ))[0]
    verified = layer("verify", lambda: force(
        verify_op.verify_pairs(cand, sigs, cfg), "verified"))

    def simhash():
        n_live = sigs.filter(F.col("n_shingles") > 0).count()
        sim_cfg = simhash_op.auto_index_config(cfg, n_live)
        return force(simhash_op.simhash_pairs(sigs, sim_cfg), "simhash")

    frames = [exact, verified.select("url_a", "url_b"), layer("simhash", simhash)]
    if inp.workload.use_substring:
        frames.append(layer("substring", lambda: force(
            substring_op.substring_pairs(
                pages.select("url", "warc_ts", "text"), cfg),
            "substring")))

    def union():
        u = frames[0]
        for e in frames[1:]:
            u = u.unionByName(e)
        return force(u.distinct(), "edges")

    edges = layer("edges", union)
    comps = layer("cluster", lambda: force(
        cluster_op.connected_components(edges, cfg.max_cc_rounds),
        "components"))
    assign = layer("assign", lambda: force(
        assign_op.assignments(pages, comps), "assignments"))
    wall = time.perf_counter() - t0

    # counts read after the traced window, so they cost no traced wall
    counts = {
        "lsh.candidates": cand.count(),
        "cluster.edges_in": edges.count(),
        "cluster.components": comps.select("cluster_id").distinct().count(),
        "cluster.jobs": done["cluster"].n_jobs,
    }
    strat = dict(
        spark.read.parquet(os.path.join(out, "bucket_stats"))
        .groupBy("strategy").count().collect()
    )
    for s in ("all_pairs", "star", "star_hot"):
        counts[f"lsh.buckets_{s}"] = strat.get(s, 0)
    if inp.workload.use_substring:
        counts["substring.candidates"] = substring_op.candidate_substring_pairs(
            pages.select("url", "warc_ts", "text"), cfg
        ).count()
    return {
        "wall": wall,
        "assign": assign.select(*ASSIGN_COLS).toPandas(),
        "spans": done,
        "counts": counts,
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path
