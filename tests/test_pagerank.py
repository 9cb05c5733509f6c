"""PageRank vs the sequential reference, warm-start equivalence, and the
embedding outlier screen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hnsw_spark.operators.pagerank import pagerank, pagerank_py

# a small digraph with a hub (1), a cycle (2-3-4), and a dangling node (5)
EDGES = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 2), (2, 5), (4, 1)]


def _spark_ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.id: r.rank for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_sequential_reference(spark):
    got = _spark_ranks(spark, EDGES, n_iter=20)
    want = pagerank_py(EDGES, n_iter=20)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # dangling-aware: mass conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_warm_start_equals_straight_run(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    straight = {r.id: r.rank for r in pagerank(df, n_iter=7).collect()}
    warm = {
        r.id: r.rank
        for r in pagerank(df, n_iter=4, init=pagerank(df, n_iter=3)).collect()
    }
    for v in straight:
        assert warm[v] == pytest.approx(straight[v], abs=1e-15)


def test_pagerank_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, n_iter=3).count() == 0


def test_pagerank_snapshots_match_separate_calls(spark):
    """The one-chain snapshot form (VERDICT r13 #4) must equal the
    warm-started probe chain it replaces, per snapshot, per node."""
    df = spark.createDataFrame(EDGES, "src long, dst long")
    s3, s4, s6 = pagerank(df, snapshots=(3, 4, 6))
    for snap, n in ((s3, 3), (s4, 4), (s6, 6)):
        want = pagerank_py(EDGES, n_iter=n)
        got = {r.id: r.rank for r in snap.collect()}
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_snapshots_validation_and_empty(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, snapshots=(0, 2))
    empty = spark.createDataFrame([], "src long, dst long")
    snaps = pagerank(empty, snapshots=(1, 2))
    assert [s.count() for s in snaps] == [0, 0]


def test_pagerank_snapshots_must_be_strictly_increasing(spark):
    """A duplicate used to return fewer frames than requested, and a
    reordered input was silently sorted, permuting the returned frames."""
    df = spark.createDataFrame(EDGES, "src long, dst long")
    for bad in ((3, 3), (4, 2), (2, 5, 5), (5, 3, 7)):
        with pytest.raises(ValueError, match="strictly increasing"):
            pagerank(df, snapshots=bad)


def test_embedding_outliers_flags_planted_point(spark):
    from hnsw_spark.operators.curation import embedding_outliers

    rows = []
    # tight cluster around (1, 0) for label 0 — deterministic jitter
    for i in range(40):
        rows.append((i, [1.0 + (i % 5) * 1e-3, (i % 7) * 1e-3], 0))
    rows.append((99, [50.0, 50.0], 0))  # planted outlier
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = embedding_outliers(emb, k_sigma=2.0)
    flagged = {r.vec_id for r in got.collect()}
    assert 99 in flagged
    assert len(flagged) == 1
    row = got.filter(F.col("vec_id") == 99).first()
    assert row.dist > row.threshold
