"""Parity gates for the exact-fold numpy ANN kernels vs the expression
formulations (zip_with/aggregate cosine) they replace.

The kernels claim BIT-identical doubles (same IEEE op sequence as the
JVM zip_with/aggregate folds), so the gates assert exact frame
equality — msim values included, not just rankings — on the driver
fixture plus adversarial vectors (zero vectors, ragged lengths,
nulls).  The expression references live here, not in production:
_expr_topk (brute-force top-k) and _expr_cells (IVF assignment)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from destor_spark.operators import ann

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _pdf(df):
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def _dbl(c):
    return F.transform(c, lambda x: x.cast("double"))


def _expr_msim(a, b):
    """Expression micro-cosine over the double-cast vectors."""
    return (
        F.round(ann.cosine_sim(_dbl(a), _dbl(b)) * 1_000_000).cast("bigint")
    )


def _expr_topk(emb, queries, k, exclude_self=True):
    """Expression brute-force top-k: crossJoin, per-pair expression
    cosine in micro-units, the production ranking window."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = q.crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return ann._rank_topk(
        scored.select(
            "query_id", "neighbor_id",
            _expr_msim(F.col("qv"), F.col("cv")).alias("msim"),
        ),
        k,
    )


def _expr_cells(emb, cents, nprobe, alias):
    """Expression IVF assignment: every vector's nprobe best centroids
    by (msim DESC, centroid_id ASC)."""
    w = Window.partitionBy(alias).orderBy(
        F.desc("am"), F.asc("centroid_id")
    )
    return (
        emb.select(F.col("vec_id").alias(alias), "embedding")
        .crossJoin(cents)
        .select(
            alias, "centroid_id",
            _expr_msim(F.col("embedding"), F.col("cvec")).alias("am"),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select(alias, F.col("centroid_id").alias("cell"))
    )


def _cells_pdf(df, alias):
    return (
        df.toPandas().sort_values([alias, "cell"]).reset_index(drop=True)
    )


def test_brute_force_np_equals_expr(spark, emb):
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = _pdf(ann.brute_force_topk(emb, queries, k=10))
    want = _pdf(_expr_topk(emb, queries, k=10))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_brute_force_np_adversarial(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.5, 0.5, 0.0]),
        (2, [0.0, 0.0, 0.0]),        # zero vector -> cosine 0
        (3, [1.0, 0.0]),             # ragged -> msim 0 vs 3-dim queries
        (4, [-1.0, 0.0, 0.0]),       # negative cosine
        (5, [0.3, -0.2, 0.9]),
        (6, [1.0, 0.0, 0.0]),        # exact twin of 0 -> msim 1000000
        (7, None),                   # null -> msim 0 everywhere
        (8, []),                     # empty -> msim 0 everywhere
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # every query shape scores in the one kernel path: uniform 3-dim,
    # all rows (ragged/null/empty queries mixed in), only the
    # degenerate queries, and an empty query set
    for queries in (
        emb.filter(F.col("vec_id") < 2),
        emb,
        emb.filter(F.col("vec_id").isin(3, 7, 8)),
        emb.filter(F.col("vec_id") < 0),
    ):
        got = _pdf(ann.brute_force_topk(emb, queries, k=5))
        want = _pdf(_expr_topk(emb, queries, k=5))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_ivf_assign_np_equals_expr(spark, emb):
    cents = ann.ivf_centroids(emb, 8)
    want = _cells_pdf(_expr_cells(emb, cents, 3, "vid"), "vid")
    got = _cells_pdf(ann.ivf_assign(emb, cents.toPandas(), 3, "vid"), "vid")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _expr_ivf_topk(emb, queries, n_cells, nprobe, k, exclude_self=True):
    """Expression IVF top-k: _expr_cells candidates re-ranked by the
    expression cosine."""
    cents = ann.ivf_centroids(emb, n_cells)
    corpus_cells = _expr_cells(emb, cents, 1, "neighbor_id")
    query_cells = _expr_cells(queries, cents, nprobe, "query_id")
    cand = query_cells.join(corpus_cells, "cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = cand.select("query_id", "neighbor_id").distinct()
    scored = (
        cand.join(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
            ),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id", "neighbor_id",
            _expr_msim(F.col("qv"), F.col("cv")).alias("msim"),
        )
    )
    return ann._rank_topk(scored, k)


def test_ivf_topk_np_equals_expr_path(spark, emb):
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = _pdf(ann.ivf_topk(emb, queries, n_cells=8, nprobe=3, k=10))
    want = _pdf(_expr_ivf_topk(emb, queries, 8, 3, 10))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_null_vec_id_equals_expr(spark):
    """A NULL vec_id stays a NULL id through the numpy kernels (it used
    to reach Spark as a NaN double under a bigint schema and fail the
    job): brute_force_topk, ivf_topk and ivf_assign equal their
    expression references, with and without exclude_self.  The NULL
    row's vector ties row 0's, so the neighbor_id ASC (NULLs first)
    tie-break decides the k=1 answers."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.6, 0.8, 0.0]),
        (None, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ann.ivf_centroids(emb, 3)
    got = _cells_pdf(ann.ivf_assign(emb, cents.toPandas(), 2, "vid"), "vid")
    want = _cells_pdf(_expr_cells(emb, cents, 2, "vid"), "vid")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    for exclude_self in (True, False):
        for k in (1, 3):
            got = _pdf(
                ann.brute_force_topk(emb, emb, k, exclude_self=exclude_self)
            )
            want = _pdf(_expr_topk(emb, emb, k, exclude_self))
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
            got = _pdf(
                ann.ivf_topk(
                    emb, emb, n_cells=3, nprobe=2, k=k,
                    exclude_self=exclude_self,
                )
            )
            want = _pdf(_expr_ivf_topk(emb, emb, 3, 2, k, exclude_self))
            pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_ivf_full_probe_with_null_id_equals_brute_force(spark):
    """A NULL-id corpus row never becomes a centroid (md5(NULL) sorts
    last, as in the DuckDB quantizer), so with every cell probed
    ivf_topk finds exactly the brute-force neighbours.  A NULL
    centroid_id used to strand its whole cell (the `cell` equi-join
    never matches NULL), here losing neighbour 0."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (None, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert ann.ivf_centroids(emb, 2).toPandas().centroid_id.notna().all()
    queries = emb.filter(F.col("vec_id") == 1)
    got = _pdf(ann.ivf_topk(emb, queries, n_cells=2, nprobe=2, k=3))
    want = _pdf(ann.brute_force_topk(emb, queries, k=3))
    assert list(want.neighbor_id) == [0, 3]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_pairwise_msim_np_equals_expr(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),     # exact twin -> 1e6
        (1, [0.5, 0.5, 0.0], [0.2, -0.4, 0.9]),
        (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),     # zero norm -> 0
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),          # ragged -> 0
        (4, [1.0, 0.0], [0.6, 0.8]),               # 2-dim group
        (5, [-1.0, 2.0, -3.0], [4.0, -5.0, 6.0]),  # negative cosine
    ]
    pdf = pd.DataFrame(rows, columns=["pid", "va", "vb"])
    df = spark.createDataFrame(pdf)
    got = (
        ann.pairwise_msim_np(df, "va", "vb")
        .toPandas().sort_values("pid").reset_index(drop=True)
    )
    want = (
        df.select(
            "pid",
            (
                F.round(ann.cosine_sim(F.col("va"), F.col("vb")) * 1_000_000)
                .cast("bigint")
                .alias("msim")
            ),
        )
        .toPandas().sort_values("pid").reset_index(drop=True)
    )
    assert list(got["msim"]) == list(want["msim"])


def test_srp_near_dup_pairs_matches_brute(spark, emb):
    """The kernel-verified bucketed pairs still equal the brute-force
    relation on the fixture (the bucketed query's oracle contract)."""
    from pyspark.sql import functions as FF

    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(FF.col("vec_id") < 8).select(
            (FF.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    got = (
        ann.srp_near_dup_pairs(planted, dim=64)
        .toPandas().sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    )
    a = planted.select(FF.col("vec_id").alias("vec_a"),
                       FF.col("embedding").alias("ea"))
    b = planted.select(FF.col("vec_id").alias("vec_b"),
                       FF.col("embedding").alias("eb"))
    va = FF.transform(FF.col("ea"), lambda x: x.cast("double"))
    vb = FF.transform(FF.col("eb"), lambda x: x.cast("double"))
    brute = (
        a.crossJoin(b)
        .filter(FF.col("vec_a") < FF.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            FF.round(ann.cosine_sim(va, vb) * 1_000_000)
            .cast("bigint").alias("msim"),
        )
        .filter(FF.col("msim") >= 990_000)
        .toPandas().sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, brute, check_dtype=False)


def test_fold_kernels_match_python_fold():
    rng = np.random.default_rng(5)
    A = rng.standard_normal((17, 9))
    B = rng.standard_normal((13, 9))

    def py_fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x * y)
        return acc

    dots = ann._fold_dot_cross(A, B)
    for i in range(A.shape[0]):
        for j in range(B.shape[0]):
            assert dots[i, j] == py_fold_dot(A[i], B[j])
    norms = ann._fold_norms(A)
    for i in range(A.shape[0]):
        acc = 0.0
        for x in A[i]:
            acc = acc + x * x
        assert norms[i] == np.sqrt(acc)
