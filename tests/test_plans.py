"""Physical-plan assertions: the optimizations we rely on must be
visible in .explain output (column pruning, filter pushdown, broadcast
joins) — SURVEY.md section 4 'what Catalyst gives us for free' made
checkable."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from destor_spark.plans.checkpoint import _session_base

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_signature_scan(spark, cfg, tmp_path):
    """The signature stage must never read html (the heavy column)."""
    from destor_spark.plans.pipeline import signatures_stage
    from destor_spark.synth import make_corpus

    p = str(tmp_path / "pages.parquet")
    make_corpus(3, 50)[0].to_parquet(p, index=False)
    pages = spark.read.parquet(p)
    plan = _plan(signatures_stage(pages, cfg))
    assert "html" not in plan, plan[:800]
    assert "ReadSchema" in plan


def test_filter_pushdown_parquet(spark):
    q = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # pruned read schema: only the two referenced columns
    assert "l_extendedprice" not in plan


def test_broadcast_join_dims(spark):
    from destor_spark.queries import q_join_enrich

    plan = _plan(q_join_enrich(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2, plan[:1200]


def test_ann_broadcast_no_shuffle(spark):
    """Brute-force top-k scores the corpus in ONE numpy mapInArrow scan
    (the collected query matrix rides in the task closure): no join of
    the corpus at all — r5's shape was a BroadcastNestedLoopJoin with
    interpreted per-pair folds, r6 emits per-batch local top-k rows so
    only ~batches*k*q rows reach the ranking window's exchange."""
    from destor_spark.operators.ann import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = brute_force_topk(emb, emb.filter("vec_id % 100 = 0"), k=5)
    plan = _plan(q)
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # corpus is never joined, only scanned


def test_champion_plan_shape(spark):
    """Champion selection is one feature join + one repartition(q) +
    one python map stage — no per-rank re-aggregation, no broadcast of
    a corpus-sized query list."""
    from destor_spark.queries import q_champion_segments

    plan = _plan(q_champion_segments(spark, SF))
    assert "MapInPandas" in plan
    # one exchange introduced by repartition("q") + the feature join's
    # exchanges; crucially NO iterative chain of k aggregates
    assert plan.count("MapInPandas") == 1


def test_cfl_window_is_partitioned(spark):
    """The container-packing window runs per source shard — a global
    (empty partitionBy) running sum would serialize 10^12 canonicals
    through one task."""
    from destor_spark.queries import q_cfl_monitor

    plan = _plan(q_cfl_monitor(spark, SF))
    assert "partitionBy" not in plan  # physical plan spells it Window [...]
    # the normalized form is unambiguous: a windowspecdefinition whose
    # partition expression list STARTS with `source` (a global window
    # would spell windowspecdefinition(canon_id... with no partition key)
    norm = plan.lower().replace(" ", "").replace("#", "")
    assert "windowspecdefinition(source" in norm


def test_single_text_scan_in_pipeline(spark, cfg, tmp_path):
    """r3 fusion: the signature stage computes content_sha in the same
    scan (sha2 present in the signature plan), so the exact pass needs
    no second text scan."""
    from destor_spark.plans.pipeline import signatures_stage
    from destor_spark.synth import make_corpus

    p = str(tmp_path / "pages2.parquet")
    make_corpus(3, 50)[0].to_parquet(p, index=False)
    pages = spark.read.parquet(p)
    plan = _plan(signatures_stage(pages, cfg, with_sha=True))
    assert "sha2" in plan
    assert "html" not in plan


def _barrier_dirs(spark) -> Counter:
    """Barrier name -> how many live Barriers dirs under the session
    base hold a barrier of that name."""
    base = _session_base(spark)
    return Counter(
        name
        for d in os.listdir(base)
        for name in os.listdir(os.path.join(base, d))
    )


def _tree(root: str) -> set[str]:
    """Every dir under root, relative to it."""
    return {os.path.relpath(dp, root) for dp, _, _ in os.walk(root)}


def test_query_barriers_do_not_accumulate_run_dirs(spark):
    """Repeated driver-query invocations must hold ONE live barrier dir
    per tag (each new Barriers replaces the tag's previous one after it
    commits), not a fresh dir per call — a long-lived driver would
    otherwise leak intermediates until exit."""
    from destor_spark import queries
    from destor_spark.queries import q_ngram_jaccard_pairs

    q_ngram_jaccard_pairs(spark, SF).count()
    first = dict(queries._SLOTS)
    n_dirs = len(os.listdir(_session_base(spark)))
    q_ngram_jaccard_pairs(spark, SF).count()
    q_ngram_jaccard_pairs(spark, SF).count()
    # the query's slots moved to new dirs, and the dir count did not grow
    assert any(queries._SLOTS[k] is not b for k, b in first.items())
    assert len(os.listdir(_session_base(spark))) == n_dirs
    live = _barrier_dirs(spark)
    assert {t: live[t] for _, t in queries._SLOTS} == {
        t: 1 for _, t in queries._SLOTS
    }


def test_query_barrier_previous_generation_survives_until_commit(spark):
    """A barrier DataFrame from invocation N-1 must stay readable while
    invocation N is still being computed — here N is computed FROM
    N-1's files; after N commits, N-1's dir is gone (bounded disk)."""
    from destor_spark.queries import _barrier

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    first = _barrier(df, "gen_probe")
    assert first.count() == 100
    second = _barrier(first.filter("id < 50"), "gen_probe")
    assert second.count() == 50
    assert _barrier_dirs(spark)["gen_probe"] == 1


def test_query_barrier_failed_write_keeps_previous(spark):
    """A query-barrier write that fails removes its own dir at once and
    leaves the tag's previous barrier live and readable."""
    from destor_spark.queries import _barrier

    first = _barrier(spark.range(100), "fail_probe")
    before = _tree(_session_base(spark))
    bad = spark.range(100).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        _barrier(bad, "fail_probe")
    assert _tree(_session_base(spark)) == before
    assert first.count() == 100


def test_run_pipeline_failure_leaves_no_barrier_dir(spark, cfg, monkeypatch):
    """A run_pipeline whose connected components stage raises removes
    the barriers it already wrote (signatures, edges) before the error
    reaches the caller."""
    from destor_spark.operators import cluster as cluster_op
    from destor_spark.plans.pipeline import run_pipeline
    from destor_spark.synth import make_corpus

    def _boom(*args):
        raise RuntimeError("components failed")

    monkeypatch.setattr(cluster_op, "connected_components", _boom)
    pages = spark.createDataFrame(make_corpus(5, 60)[0])
    before = _tree(_session_base(spark))
    with pytest.raises(RuntimeError, match="components failed"):
        run_pipeline(pages, cfg)
    assert _tree(_session_base(spark)) == before


def test_barrier_reread_schema_equals_inferred(spark, cfg, tmp_path):
    """Barriers re-read with the schema just written instead of paying a
    schema-inference job.  That schema must equal what inference over
    the written files returns, types and nullability included: a
    signatures barrier (array<bigint>, string) plus a struct column and
    a non-nullable column, through write_barrier and through Barriers."""
    from destor_spark.plans.checkpoint import Barriers, write_barrier
    from destor_spark.plans.pipeline import signatures_stage
    from destor_spark.synth import make_corpus

    pages = spark.createDataFrame(make_corpus(5, 60)[0])
    sigs = signatures_stage(pages, cfg, with_sha=True).select(
        "*",
        F.struct("warc_ts", "url").alias("head"),
        F.lit(1).alias("one"),
    )
    assert not sigs.schema["one"].nullable
    types = {f.name: f.dataType.simpleString() for f in sigs.schema.fields}
    assert types["sig"] == "array<bigint>"
    assert types["head"].startswith("struct<")
    assert types["url"] == "string"

    root = str(tmp_path)
    got = write_barrier(sigs, os.path.join(root, "sigs"))
    assert got.schema == spark.read.parquet(os.path.join(root, "sigs")).schema
    assert got.count() == 60

    with Barriers(spark) as b:
        got = b(sigs, "schema_probe")
        path = os.path.join(b.root, "schema_probe")
        assert got.schema == spark.read.parquet(path).schema
        assert b.rows("schema_probe") == 60
    assert not os.path.exists(b.root)


def test_ivf_assign_is_map_side(spark):
    """IVF cell assignment must compile to one MapInArrow over the
    corpus scan with NO exchange at all (the property that makes
    assignment O(N) map work at 10^12 rows): the centroids arrive as
    the collected quantizer, not as a joined relation."""
    from destor_spark.operators.ann import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=16)
    plan = _plan(ivf_assign(emb, cents.toPandas(), nprobe=1))
    assert "MapInArrow" in plan and "FileScan parquet" in plan, plan[:1500]
    assert "Exchange" not in plan, plan[:1500]


def test_curation_plans_prune_and_broadcast(spark):
    """The curation family must read only (doc_id, text), choose
    broadcast joins over sort-merge, and never read the unused corpus
    columns (lang/source/n_chars are not needed by any of them)."""
    import destor_spark.queries as Q

    for name in (
        "gopher_repetition",
        "segment_dedup_stats",
        "decontamination",
        "url_dup_groups",
        "segment_clean_corpus",
    ):
        plan = _plan(Q.QUERIES[name](spark, SF))
        assert "SortMergeJoin" not in plan, (name, plan[:800])
        # a parquet READ renders "n_chars:" in ReadSchema; a derived
        # alias renders "n_chars#NN" — so this catches regressions
        # without tripping on the queries' own output aliases
        for col in ("lang", "n_chars", "source"):
            assert f"{col}:" not in plan, (name, col)


def test_decontamination_benchmark_side_broadcasts(spark):
    """The benchmark gram set must be the broadcast side — the corpus
    probe stays map-side (no corpus-wide shuffle before the join)."""
    import destor_spark.queries as Q

    plan = _plan(Q.QUERIES["decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
