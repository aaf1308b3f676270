"""Status-store reader, correctness checks and the metric table.

Run from the repo root:  python3 -m pytest perfbench/tests -q
"""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from perfbench import jobs, spans
from perfbench.metrics import END_TO_END, per_layer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _span(spark, name, fn):
    with spans.Span(spark.sparkContext, name, slots=2) as s:
        fn()
    s.read()
    return s


def test_map_only_span_reads_no_shuffle(spark, tmp_path):
    s = _span(spark, "map", lambda: spark.range(1000).selectExpr("id * 2 AS x")
              .write.parquet(str(tmp_path / "m")))
    assert s.n_jobs >= 1
    assert s.metrics["shuffle_write_mb"] == 0
    assert s.metrics["rows_out"] == 1000
    assert s.metrics["wall_s"] > 0
    assert s.metrics["failed_tasks"] == 0


def test_groupby_span_reads_shuffle_bytes(spark, tmp_path):
    s = _span(spark, "grp", lambda: spark.range(10000)
              .groupBy((F.col("id") % 7).alias("k")).count()
              .write.parquet(str(tmp_path / "g")))
    assert s.metrics["shuffle_write_mb"] > 0
    assert s.metrics["rows_out"] == 7
    assert s.metrics["task_skew"] >= 1.0
    assert 0 < s.metrics["util"]


def test_spans_bill_only_their_own_jobs(spark, tmp_path):
    a = _span(spark, "a", lambda: spark.range(100).write.parquet(str(tmp_path / "a")))
    spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
    b = _span(spark, "b", lambda: spark.range(50).write.parquet(str(tmp_path / "b")))
    assert a.metrics["rows_out"] == 100 and b.metrics["rows_out"] == 50
    assert a.metrics["shuffle_write_mb"] == 0 == b.metrics["shuffle_write_mb"]


def test_skipped_and_unknown_stages_are_left_out(spark):
    df = spark.range(10000).groupBy((F.col("id") % 5).alias("k")).count()

    def twice():
        df.collect()
        df.collect()  # reuses the first job's shuffle: a SKIPPED stage

    s = _span(spark, "skip", twice)
    jobs_ = spans.jobs_by_group(spark.sparkContext, {s.group})
    all_stages = [sid for _, sids in jobs_ for sid in sids]
    assert s.totals["stages"] < len(set(all_stages))
    # a stage id the store never saw is ignored, not an error
    t = spans.stage_totals(spark.sparkContext, [10**6])
    assert t["stages"] == 0 and t["task_skew"] == 1.0


class _Inp:
    def __init__(self, assign, pairs):
        self.oracle_assign = assign
        self.oracle_pairs = pairs


def test_check_batch_rejects_any_assignment_difference():
    o = pd.DataFrame({"url": ["a", "b", "c"], "cluster_id": ["a", "a", "c"],
                      "is_canonical": [True, False, True]})
    pairs = pd.DataFrame({"url_a": ["a"], "url_b": ["b"]})
    inp = _Inp(o, pairs)
    assert jobs.check_batch(o.sample(frac=1, random_state=1), inp) == 1.0
    bad = o.copy()
    bad.loc[1, "cluster_id"] = "b"
    bad.loc[1, "is_canonical"] = True
    with pytest.raises(jobs.CheckFailed):
        jobs.check_batch(bad, inp)


def test_connected_share_counts_transitive_links():
    pairs = pd.DataFrame({"url_a": ["a", "a", "x"], "url_b": ["c", "b", "y"]})
    assert jobs.connected_share(pairs, [("a", "b"), ("b", "c")]) == pytest.approx(2 / 3)


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == [tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [tuple(m) for m in per_layer()]
    assert len(bench["per_layer"]) <= 128
