"""Every metric the benchmark reports: name, unit, which way is better,
and (end-to-end only) the bound by which it may worsen.  BENCHMARK.json
at the repo root lists the same table; tests/test_spans.py checks the
two agree."""

from __future__ import annotations

from perfbench.data import WORKLOADS

# (name, unit, better, bound)
END_TO_END = [
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("microbatch_p50_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("state_mb", "MB", "lower", 0.1),
    ("pair_recall", "ratio", "higher", 0.02),
]

# common set, one per Spark span.  Shuffle fetch wait is reported once
# per run (spark.fetch_wait_s): on one host every block is local.
SPAN_METRICS = {
    "wall_s": ("s", "lower"),
    "util": ("ratio", "higher"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "failed_tasks": ("count", "lower"),
    "rows_out": ("count", "lower"),
}
SPAN_LAYERS = (
    "signatures", "exact", "lsh", "verify", "simhash", "substring",
    "edges", "cluster", "assign", "stream",
)
EXTRAS = [
    ("lsh.candidates", "count", "lower"),
    ("lsh.buckets_all_pairs", "count", "lower"),
    ("lsh.buckets_star", "count", "lower"),
    ("lsh.buckets_star_hot", "count", "lower"),
    ("verify.yield", "ratio", "higher"),  # base: lsh.candidates
    ("substring.candidates", "count", "lower"),
    ("substring.yield", "ratio", "higher"),  # base: substring.candidates
    ("simhash.pairs", "count", "higher"),
    ("cluster.edges_in", "count", "lower"),
    ("cluster.components", "count", "lower"),
    ("cluster.jobs", "count", "lower"),
    ("checkpoint.mb", "MB", "lower"),
    ("checkpoint.files", "count", "lower"),
]
# progress-event durations per trigger, name -> durationMs key
STREAM_DURATIONS = {
    "batch_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
}
# store sizes after each trigger, name -> dir under the state dir
STREAM_STORES = {
    "band_store": "band_store",
    "sig_store": "signatures",
    "pair_store": "pairs",
}
TAIL = [
    ("stream.pairs", "count", "higher"),
    ("spark.fetch_wait_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),  # base: trace.untraced_s
    ("trace.untraced_s", "s", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [
        (f"{layer}.{m}", unit, better)
        for layer in SPAN_LAYERS
        for m, (unit, better) in SPAN_METRICS.items()
    ]
    out += EXTRAS
    for b in range(WORKLOADS["stream_incremental"].n_files):
        out += [(f"stream.{k}.{b}", "s", "lower") for k in STREAM_DURATIONS]
        out += [(f"stream.{k}_mb.{b}", "MB", "lower") for k in STREAM_STORES]
    return out + TAIL


def units() -> dict[str, str]:
    u = {name: unit for name, unit, _, _ in END_TO_END}
    u.update({name: unit for name, unit, _ in per_layer()})
    return u
