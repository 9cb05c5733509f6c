"""Golden micro-fixture tests mirroring /root/reference/tests/HNSW.test.ts
(see FIXTURES.md §2)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hnsw_spark.functions.similarity import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    euclidean_similarity,
    get_metric,
)
from hnsw_spark.operators.knn import knn_exact


def _pairs_df(spark, a, b):
    return spark.createDataFrame(
        [(a, b)], "a array<float>, b array<float>"
    )


def test_dot_cosine_euclidean_formulas(spark):
    row = (
        _pairs_df(spark, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])
        .select(
            dot_product("a", "b").alias("dot"),
            cosine_similarity("a", "b").alias("cos"),
            euclidean_distance("a", "b").alias("dist"),
            euclidean_similarity("a", "b").alias("esim"),
        )
        .first()
    )
    assert row.dot == pytest.approx(32.0)
    assert row.cos == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))
    assert row.dist == pytest.approx(math.sqrt(27))
    assert row.esim == pytest.approx(1.0 / (1.0 + math.sqrt(27)))


def test_zero_norm_cosine_is_nan(spark):
    # reference src/similarity.ts:10-12 has no zero-norm guard → NaN
    row = _pairs_df(spark, [0.0, 0.0], [1.0, 2.0]).select(
        cosine_similarity("a", "b").alias("c")
    ).first()
    assert math.isnan(row.c)


def test_invalid_metric_raises(spark):
    # reference src/main.ts:42-44
    with pytest.raises(ValueError, match="Invalid metric"):
        get_metric("manhattan")


@pytest.fixture()
def sequential5(spark):
    # tests/HNSW.test.ts:6-12 — {id: i+1, vector: [j+1+i]} for i in 0..4
    rows = [(i + 1, [float(j + 1 + i) for j in range(5)]) for i in range(5)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.mark.parametrize("strategy", ["window", "local_merge"])
def test_sequential5_golden(spark, sequential5, strategy):
    # golden from tests/HNSW.test.ts:41-47: query [3,4,5,6,7] k=3 → ids [3,4,2]
    q = spark.createDataFrame(
        [(0, [3.0, 4.0, 5.0, 6.0, 7.0])], "vec_id bigint, embedding array<float>"
    )
    res = knn_exact(sequential5, q, k=3, metric="cosine", strategy=strategy)
    rows = res.orderBy(F.desc("score"), "id").collect()
    assert [r.id for r in rows] == [3, 4, 2]
    assert rows[0].score == pytest.approx(1.0, abs=1e-9)


def test_k_greater_than_n_returns_all(spark, sequential5):
    # tests/HNSW.test.ts:134-138
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 5.0])], "vec_id bigint, embedding array<float>"
    )
    assert knn_exact(sequential5, q, k=10, metric="cosine").count() == 5


def test_k_nonpositive_returns_empty(spark, sequential5):
    # reference src/main.ts:258-260 guard
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 5.0])], "vec_id bigint, embedding array<float>"
    )
    assert knn_exact(sequential5, q, k=0, metric="cosine").count() == 0


def test_window_and_local_merge_agree(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    qs = base.filter(F.col("vec_id") < 5)
    for metric in ("cosine", "euclidean"):
        w = knn_exact(base, qs, k=7, metric=metric, strategy="window")
        m = knn_exact(base, qs, k=7, metric=metric, strategy="local_merge")
        wr = {(r.query_id, r.id) for r in w.collect()}
        mr = {(r.query_id, r.id) for r in m.collect()}
        assert wr == mr


def test_knn_strategies_agree_on_nan_ranking(spark):
    # Spark sorts NaN as the largest double, so a zero-norm (NaN-cosine) row
    # ranks FIRST under desc ordering in the window strategy; the
    # local_merge selection must agree (numpy would otherwise drop NaN).
    from hnsw_spark.operators.knn import knn_exact

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 1")
    res = {}
    for strat in ("window", "local_merge"):
        got = knn_exact(df, q, k=3, metric="cosine", strategy=strat).collect()
        res[strat] = [r.id for r in got]
    assert res["window"] == res["local_merge"] == [0, 1, 2]


def test_knn_strategies_agree_at_scale(spark):
    # the 100 TB plan (local_merge) must return exactly the window plan's
    # results on a larger corpus — guards the per-batch top-k + global merge
    # against boundary/tie divergence.
    from pyspark.sql import functions as F

    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.sources.synthetic import synthetic_vectors

    corpus = synthetic_vectors(spark, 20000, 32, seed=5).repartition(16).cache()
    qs = corpus.filter(F.col("vec_id") < 6)
    for metric in ("cosine", "euclidean"):
        w = knn_exact(corpus, qs, k=10, metric=metric, strategy="window")
        m = knn_exact(corpus, qs, k=10, metric=metric, strategy="local_merge")
        wa = {(r.query_id, r.id, round(r.score, 9)) for r in w.collect()}
        ma = {(r.query_id, r.id, round(r.score, 9)) for r in m.collect()}
        assert wa == ma
    corpus.unpersist()


def test_local_merge_empty_query_batch(spark, sequential5):
    # an empty query batch returns an empty (query_id, id, score) frame in
    # BOTH strategies (np.stack would otherwise raise on the collected batch)
    from pyspark.sql import functions as F

    empty_q = sequential5.filter(F.col("vec_id") < 0)
    for strat in ("window", "local_merge"):
        res = knn_exact(sequential5, empty_q, k=5, strategy=strat)
        assert res.count() == 0
        assert res.columns == ["query_id", "id", "score"]


def test_local_topk_keeps_lowest_ids_among_tied_scores():
    """The per-batch top-k must pick tied k-th scores by ascending id (the
    global merge's order); argpartition alone picks among them arbitrarily,
    which let local_merge drop a row the window plan keeps."""
    import numpy as np

    from hnsw_spark.operators.knn import _local_topk

    rng = np.random.default_rng(0)
    for _ in range(50):
        sel = rng.integers(0, 4, size=(3, 30)).astype(float)
        ids = rng.permutation(1000)[:30]
        rows, cols = _local_topk(sel, ids, 7)
        assert len(rows) == 3 * 7
        for r in range(3):
            want = np.lexsort((ids, -sel[r]))[:7]
            assert sorted(cols[rows == r]) == sorted(want)
    rows, cols = _local_topk(np.array([[1.0, 2.0]]), np.array([4, 9]), 5)
    assert sorted(cols) == [0, 1]  # k above the batch size keeps it whole
