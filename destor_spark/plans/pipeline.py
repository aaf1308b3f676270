"""End-to-end dedup pipeline orchestration.

destor's backup job is 6 pipelined phases over bounded queues
(do_backup.c:32-41); here each phase is a Spark stage group with a
parquet barrier between them (SURVEY.md section 3.1 "Spark
restatement").

The pipeline is declared once, as the stage list `dedup_stages`:

  pages ─┬─> signatures ─┬─> exact_edges ───────────────────────┐
         │               ├─> candidate_pairs ─> verified_pairs ─┤
         │               ├─> bucket_stats
         │               └─> [simhash_pairs] ───────────────────┤
         └─> [substring_pairs] ─────────────────────────────────┴─> edges
                                    edges ─> components ─> assignments

Two runners execute that one list:

  * `run_checkpointed` hands it to StageRunner.run_graph: every stage
    durable, so a killed job resumes from the stages that committed.
    A stage starts as soon as its inputs have committed, so
    `substring_pairs` overlaps `signatures`, and `exact_edges`,
    `candidate_pairs`, `bucket_stats` and `simhash_pairs` start
    together once `signatures` commits.
  * `run_stages` runs it in memory, lazily and in definition order,
    with an ephemeral barrier on IN_MEMORY_BARRIERS only.  It backs
    `run_pipeline` (tests, benchmarks) and the flagship query.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field, fields
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig
from destor_spark.operators import assign as assign_op
from destor_spark.operators import cluster as cluster_op
from destor_spark.operators import exact as exact_op
from destor_spark.operators import lsh as lsh_op
from destor_spark.operators import minhash as minhash_op
from destor_spark.operators import simhash as simhash_op
from destor_spark.operators import substring as substring_op
from destor_spark.operators import verify as verify_op
from destor_spark.plans.checkpoint import Barriers, Stage, StageRunner


@dataclass
class PipelineResult:
    signatures: DataFrame
    exact_edges: DataFrame
    candidate_pairs: DataFrame
    verified_pairs: DataFrame
    bucket_stats: DataFrame
    assignments: DataFrame
    barriers: Barriers = field(repr=False)

    @property
    def mat_root(self) -> str:
        return self.barriers.root

    def cleanup(self) -> None:
        """Delete this run's stage-barrier parquet dirs.  Call once every
        member DataFrame is fully consumed — they read from these files.
        (Long-lived processes invoking run_pipeline repeatedly would
        otherwise accumulate intermediates until interpreter exit.)"""
        self.barriers.close()


def signatures_stage(
    pages: DataFrame, cfg: DedupConfig, with_sha: bool = False
) -> DataFrame:
    """with_sha=True additionally computes content_sha in the SAME text
    scan (sha2 is JVM codegen alongside tokenize), so the exact pass
    needs no second pass over the raw text — at 100 TB that second
    scan is the single largest avoidable IO in the job."""
    keyed = pages.select("url", "warc_ts", "text")
    # the Arrow UDF is the CPU-bound stage: if the input arrives in
    # fewer FILES than the cluster has slots (small local files, or a
    # freshly compacted table), spread it with an explicit round-robin
    # repartition; on a well-partitioned 100 TB table (thousands of
    # files) this is a no-op.
    #
    # Why file count and NOT an estimated split count (bytes /
    # maxPartitionBytes): parquet can only split at row-group
    # boundaries, so "this 2 GB file yields 250 8-MB splits" is a
    # fiction — with ~15 MB row groups half the scheduled splits read
    # nothing and the scan's real task layout is skewed to row-group
    # starts; the CPU-bound UDF stage inherits that skew.  Measured
    # A/B at local[8], 1M docs, single 2 GB file (alternating order,
    # both heap sizes): no-repartition 243.7 / 232.4 s vs repartition
    # 176.7 / 201.0 s — the bounded one-time shuffle of the (url, ts,
    # text) projection wins by 15-30%.
    spark = pages.sparkSession
    want = spark.sparkContext.defaultParallelism * 2
    if len(keyed.inputFiles()) < want:
        keyed = keyed.repartition(want)
    if with_sha:
        keyed = exact_op.with_content_hash(keyed)
    # fused text -> signatures in one Arrow stage (r5): the former
    # split + F.transform(xxhash64) JVM path was interpreted (no
    # codegen for higher-order functions) and boxed every token hash —
    # event-log profile at 1M docs billed 30-50% of the stage's run
    # time to GC.  Signatures are bit-identical (parity-gated).
    return minhash_op.with_signatures_from_text(keyed, cfg)


def _simhash_edges(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """SimHash pairs over the signatures barrier.  One cheap count over
    the materialized barrier (n_shingles column only) picks the
    candidate-index physics; pair semantics are identical either way
    (auto_index_config docstring)."""
    n_live = sigs.filter(F.col("n_shingles") > 0).count()
    sim_cfg = simhash_op.auto_index_config(cfg, n_live)
    return simhash_op.simhash_pairs(sigs, sim_cfg)


def dedup_stages(
    pages: DataFrame,
    cfg: DedupConfig,
    use_simhash: bool = True,
    use_substring: bool = False,
    signatures: DataFrame | None = None,
) -> list[Stage]:
    """The dedup pipeline, declared once (module docstring graph).

    signatures: a signature table to use instead of signatures_stage,
    with the same columns (the flagship query's SQL-portable md5
    family)."""
    pair_stages = ["exact_edges", "verified_pairs"]
    stages = [
        # ONE text scan: content_sha rides in the signature stage (see
        # signatures_stage docstring); the signatures table then feeds
        # the exact self-join without re-reading raw text.
        Stage(
            "signatures",
            (),
            (lambda: signatures)
            if signatures is not None
            else lambda: signatures_stage(pages, cfg, with_sha=True),
            # pre-r3 checkpoints have a complete signatures stage
            # WITHOUT content_sha (it lived in a separate content_hashes
            # stage); resuming one would fail at the exact pass's select
            required_cols=("url", "warc_ts", "content_sha"),
        ),
        Stage(
            "exact_edges",
            ("signatures",),
            lambda sigs: exact_op.exact_pairs(
                sigs.select("url", "warc_ts", "content_sha")
            ),
        ),
        Stage(
            "candidate_pairs",
            ("signatures",),
            lambda sigs: lsh_op.bucket_pairs(lsh_op.explode_bands(sigs), cfg),
        ),
        # bucket_stats persisted per run: the destor-HAR pattern — this
        # run's hot-bucket inventory informs the next run's salting and
        # is part of the per-partition lineage (har_rewrite.c:17-180
        # inherits the previous backup's sparse-container list the same
        # way).
        Stage(
            "bucket_stats",
            ("signatures",),
            lambda sigs: lsh_op.bucket_stats_only(
                lsh_op.explode_bands(sigs), cfg
            ),
        ),
        Stage(
            "verified_pairs",
            ("candidate_pairs", "signatures"),
            lambda pairs, sigs: verify_op.verify_pairs(pairs, sigs, cfg),
        ),
    ]
    if use_simhash:
        stages.append(
            Stage(
                "simhash_pairs",
                ("signatures",),
                lambda sigs: _simhash_edges(sigs, cfg),
            )
        )
        pair_stages.append("simhash_pairs")
    if use_substring:
        stages.append(
            Stage(
                "substring_pairs",
                (),
                lambda: substring_op.substring_pairs(
                    pages.select("url", "warc_ts", "text"), cfg
                ),
            )
        )
        pair_stages.append("substring_pairs")
    return stages + [
        # the exact ∪ verified ∪ [simhash] ∪ [substring] edge relation,
        # deduplicated
        Stage(
            "edges",
            tuple(pair_stages),
            lambda *frames: functools.reduce(
                DataFrame.unionByName,
                [e.select("url_a", "url_b") for e in frames],
            ).distinct(),
        ),
        Stage(
            "components",
            ("edges",),
            lambda edges: cluster_op.connected_components(
                edges, cfg.max_cc_rounds
            ),
        ),
        Stage(
            "assignments",
            ("components",),
            lambda comps: assign_op.assignments(pages, comps),
        ),
    ]


# The stages run_stages barriers.  Eagerly: a lazy stage consumed by
# several subtrees of one action recomputes its whole lineage per
# subtree (~2x wall measured at 50k docs); destor's phases are the same
# hard barriers between queues (do_backup.c:32-41).
#   * signatures has four consumers (exact, LSH, verify, simhash).
#   * edges: connected components references the edge relation 4x
#     (sym union + m-join).  Without a barrier each reference drags the
#     full upstream — at 4M docs/local[8] the ~6.3 GB simhash key-table
#     exchange ran THREE times as concurrent AQE query stages, ~90 s of
#     the 8-core leg's wall.  A ~100 B/edge parquet barrier makes the
#     fan-out O(edges), deterministically, at every scale.
# Every other stage is a single-consumer link (the edges barrier
# materializes the chain once): barriering candidate_pairs and
# verified_pairs bought no recompute protection and cost two parquet
# write+read cycles — r6 A/B, min of 2 alternating: 4.68 -> 3.47 s at
# 5k docs, 8.55 -> 6.91 s at 50k without them.  A caller consuming an
# unbarriered stage recomputes it from the signatures barrier.
IN_MEMORY_BARRIERS = ("signatures", "edges")


def run_stages(
    stages: list[Stage], barrier: Callable[[DataFrame, str], DataFrame]
) -> dict[str, DataFrame]:
    """In-memory runner: each stage's fn in definition order, lazily,
    with barrier(df, name) on IN_MEMORY_BARRIERS only."""
    out: dict[str, DataFrame] = {}
    for st in stages:
        df = st.fn(*(out[i] for i in st.inputs))
        if st.name in IN_MEMORY_BARRIERS:
            df = barrier(df, st.name)
        out[st.name] = df
    return out


def run_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    use_simhash: bool = True,
    use_substring: bool = False,
) -> PipelineResult:
    """dedup_stages in memory, barriers in a per-run Barriers dir
    (mat_root), removed at once if a stage fails."""
    b = Barriers(pages.sparkSession)
    try:
        out = run_stages(
            dedup_stages(pages, cfg, use_simhash, use_substring), b
        )
    except BaseException:
        b.close()
        raise
    keep = {f.name for f in fields(PipelineResult)} - {"barriers"}
    return PipelineResult(barriers=b, **{k: out[k] for k in keep})


def config_fingerprint(
    cfg: DedupConfig, use_simhash: bool, use_substring: bool
) -> str:
    """Stable fingerprint of every parameter that determines stage
    outputs, recorded in each stage manifest: resuming a checkpoint
    under a DIFFERENT config must recompute, not silently return
    results computed under the old parameters."""
    import dataclasses
    import hashlib
    import json

    payload = json.dumps(
        {
            "cfg": dataclasses.asdict(cfg),
            "use_simhash": bool(use_simhash),
            "use_substring": bool(use_substring),
        },
        sort_keys=True,
        default=list,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    ckpt_dir: str,
    run_id: str = "r0",
    use_simhash: bool = True,
    use_substring: bool = False,
) -> DataFrame:
    """dedup_stages with every stage durable: resume from the stages
    that committed (destor recipe semantics); StageRunner.run_graph
    starts each stage as soon as its inputs have committed."""
    sr = StageRunner(
        spark,
        ckpt_dir,
        run_id,
        context_fp=config_fingerprint(cfg, use_simhash, use_substring),
    )
    stages = dedup_stages(pages, cfg, use_simhash, use_substring)
    return sr.run_graph(stages)["assignments"]
