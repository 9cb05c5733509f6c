"""Regression tests for the round-6 review fixes: rank-based k-means
seeding, overflow-guarded fixed-point sums, and zero-match span pairs."""

from __future__ import annotations

import math
import os


def test_kmeans_seeds_k_smallest_ids_not_id_lt_k(spark):
    """Seeding must be the k smallest ids — ids that are not 0-based or
    dense (any corpus not re-indexed from zero) used to produce an EMPTY
    centroid set under the old ``id < k`` filter and silently return an
    empty assignment."""
    from hnsw_spark.operators.kmeans import kmeans_lloyd

    rows = [
        (1000 + i, [float(i % 3) * 10.0, float(i % 3) * 10.0])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_lloyd(df, k=3, iterations=2).collect()
    assert len(out) == 12  # every point assigned — nothing silently dropped
    # seeds were ids 1000,1001,1002 so cluster labels come from that set
    assert {r["cluster"] for r in out} <= {1000, 1001, 1002}
    # three well-separated value groups → three distinct clusters survive
    assert len({r["cluster"] for r in out}) == 3


def test_lloyd_update_floor_mean_is_exact_for_negative_sums(spark):
    """The round-7 centroid mean is (s - pmod(s, n)) / n over a
    decimal(38,0) sum — exact FLOOR division for negative sums too (a
    truncating div or a double division would round toward zero /
    lose exactness).  Pinned on a hand-built cluster whose coordinate
    sums are negative and not divisible by the count."""
    from hnsw_spark.operators.kmeans import lloyd_update, quantize_vectors

    # cluster 0: three vectors whose fixed-point sums are -7e6 and 5e6
    # over n=3 -> floor means floor(-7e6/3) = -2333334, floor(5e6/3)
    # = 1666666 (Python // semantics, the _ref_kmeans convention)
    rows = [
        (0, [-1.0, 1.0]),
        (1, [-2.0, 1.0]),
        (2, [-4.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    vecs = quantize_vectors(df)
    assign = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 0), (2, 0, 0)], "id long, cluster long, d2 long"
    )
    [cent] = lloyd_update(vecs, assign).collect()
    assert cent["cluster"] == 0
    assert list(cent["c"]) == [(-7_000_000) // 3, 5_000_000 // 3]
    assert list(cent["c"]) == [-2_333_334, 1_666_666]


def test_dsum_fp_never_wraps_silently(spark):
    """The failure dsum_fp guards against is NON-ANSI silent wrap: a plain
    BIGINT sum past 2^63 produces a negative total while DuckDB widens to
    HUGEINT — the engines silently diverge.  With the decimal(38,0)
    accumulator the guarded sum NULLs instead (loud in any downstream
    arithmetic).  Under ANSI (this repo's session default, Spark 4) the
    naive sum already throws; the guard makes the operators safe under
    BOTH modes a production cluster might run."""
    from pyspark.sql import functions as F

    from hnsw_spark.operators.evaluation import dsum_fp

    big = 9.0e14  # dquant at scale 4 → 9e18 per row, two rows overflow int64
    df = spark.createDataFrame([(big,), (big,)], ["v"])
    ansi_before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        naive = df.agg(
            F.sum(F.floor(F.col("v") * 1e4 + 0.5).cast("long")).alias("s")
        ).collect()[0]["s"]
        guarded = df.agg(dsum_fp("v").alias("s")).collect()[0]["s"]
        assert naive < 0  # the silent wrap the guard exists to prevent
        assert guarded is None  # decimal held the true value; long cast nulls
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_before)

    # below the overflow point the guarded sum is value-identical (ANSI on)
    small = spark.createDataFrame([(1.5,), (2.25,)], ["v"])
    assert small.agg(dsum_fp("v").alias("s")).collect()[0]["s"] == int(
        math.floor(1.5 * 1e4 + 0.5) + math.floor(2.25 * 1e4 + 0.5)
    )


def test_query_caches_are_session_keyed(spark):
    """ADVICE r12 #3: the registry's memoized exact-kNN frame and index
    cache must key on the LIVE session (applicationId) — a stop+recreate
    of the SparkSession in one process must miss the cache instead of
    serving a DataFrame bound to a dead JVM context.  Pinned structurally
    (no Spark restart in the shared-session suite): every memo key leads
    with this session's applicationId, so a new session's lookups cannot
    collide."""
    from hnsw_spark.plans import cachereg
    from hnsw_spark.queries import index as qindex

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    qindex.cached_exact_topk(spark, sf_dir)
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in cachereg._MEMO)
    # a different session token misses: the dead-session entry is
    # unreachable from a recreated session's lookups
    assert ("app-other", "exact_topk", sf_dir) not in cachereg._MEMO
    assert (app, "exact_topk", sf_dir) in cachereg._MEMO


def test_bpe_memo_misses_for_another_session(spark, monkeypatch):
    """The BPE training memo keys on the live applicationId like every
    other session memo: another session (a stop+recreate in one process)
    retrains instead of reusing the dead session's merges."""
    from types import SimpleNamespace

    import hnsw_spark.operators.bpe as bpe
    from hnsw_spark.plans import cachereg
    from hnsw_spark.queries import text

    trained = []

    def fake_train(docs, n_merges, incremental):
        trained.append(docs)
        row = {"merge_rank": 1, "left": "a", "right": "b", "pair_count": 2}
        return SimpleNamespace(collect=lambda: [row])

    # an empty memo for this test alone (created if the module has none)
    monkeypatch.setattr(cachereg, "_MEMO", {}, raising=False)
    monkeypatch.setattr(bpe, "bpe_train", fake_train)
    monkeypatch.setattr(text, "load_table", lambda s, sf, name: s)
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-other"))
    assert text._trained_merges(spark, "sf-memo", 3) == [(1, "a", "b", 2)]
    text._trained_merges(spark, "sf-memo", 3)
    assert trained == [spark]  # same session: one training
    text._trained_merges(other, "sf-memo", 3)
    assert trained == [spark, other]  # another session misses


