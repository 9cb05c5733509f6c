"""ANN tier correctness: recall@k vs the exact operator (the reference's own
validation method), persistence round-trip, and edge guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hnsw_spark.operators.ann import build_ivf_index
from hnsw_spark.operators.evaluation import mean_recall, recall_table
from hnsw_spark.operators.knn import knn_exact
from hnsw_spark.plans.persistence import delete_index, load_index, save_index
from hnsw_spark.sources.synthetic import synthetic_vectors
from knn_oracle import knn_window

pytestmark = pytest.mark.slow  # heavy parity/property module (see pytest.ini)


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_vectors(spark, 2000, 16, seed=7).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return corpus.filter(F.col("vec_id") < 20)


def _recall(spark, corpus, queries, index, k=10, n_probe=None):
    # the window oracle, not knn_exact: the float IVF store scores with
    # knn_exact's own BLAS kernel (_batch_topk)
    exact = knn_window(corpus, queries, k=k, metric=index.metric)
    approx = index.search(queries, k=k, n_probe=n_probe)
    return mean_recall(recall_table(approx, exact)).first().mean_recall


@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_full_probe_equals_exact(spark, corpus, queries, metric):
    # n_probe = n_lists degenerates to exhaustive search → recall 1.0
    index = build_ivf_index(corpus, n_lists=8, metric=metric)
    assert _recall(spark, corpus, queries, index, n_probe=8) == pytest.approx(1.0)


def test_partial_probe_recall_reasonable(spark, corpus, queries):
    index = build_ivf_index(corpus, n_lists=16, metric="cosine")
    r4 = _recall(spark, corpus, queries, index, n_probe=4)
    r1 = _recall(spark, corpus, queries, index, n_probe=1)
    assert r4 >= 0.55  # uniform data is the adversarial case for IVF
    assert r4 >= r1  # recall monotone in n_probe (efSearch↑ → recall↑ curve)


def test_search_k_zero_and_empty_queries(spark, corpus, queries):
    index = build_ivf_index(corpus, n_lists=4)
    assert index.search(queries, k=0).count() == 0
    empty_q = queries.filter(F.col("vec_id") < 0)
    assert index.search(empty_q, k=5).count() == 0


def test_persistence_roundtrip(spark, corpus, queries, tmp_path):
    path = str(tmp_path / "ivf")
    index = build_ivf_index(corpus, n_lists=8)
    before = {
        (r.query_id, r.id) for r in index.search(queries, k=5, n_probe=8).collect()
    }
    save_index(index, path)
    loaded = load_index(spark, path)
    assert loaded is not None and loaded.metric == "cosine" and loaded.n_lists == 8
    after = {
        (r.query_id, r.id) for r in loaded.search(queries, k=5, n_probe=8).collect()
    }
    assert before == after
    # a sidecar written before train_method was removed still loads
    import json
    import os

    sidecar = os.path.join(path, "params.json")
    with open(sidecar) as f:
        params = json.load(f)
    with open(sidecar, "w") as f:
        json.dump({**params, "train_method": "sample"}, f)
    assert load_index(spark, path).n_lists == 8
    # delete → load-if-exists returns None (silent-miss, src/db.ts:72-74)
    delete_index(path)
    assert load_index(spark, path) is None


def test_save_is_whole_index_overwrite(spark, corpus, tmp_path):
    path = str(tmp_path / "ivf2")
    save_index(build_ivf_index(corpus.filter(F.col("vec_id") < 100), n_lists=2), path)
    save_index(build_ivf_index(corpus, n_lists=4), path)
    loaded = load_index(spark, path)
    assert loaded.n_lists == 4
    assert loaded.index_df.count() == 2000  # second save fully replaced the first


def test_save_crash_between_nodes_and_sidecar_leaves_no_stale_index(
    spark, corpus, tmp_path, monkeypatch
):
    """Overwriting an index rewrites nodes/ first and the params sidecar
    last.  A crash in between must not leave the OLD sidecar (centroids,
    n_lists, n_vectors) beside the NEW nodes: load_index reports the index
    absent instead."""
    import os

    from hnsw_spark.plans import persistence

    path = str(tmp_path / "crash")
    save_index(build_ivf_index(corpus, n_lists=4), path)
    small = build_ivf_index(corpus.filter(F.col("vec_id") < 100), n_lists=2)

    def crash(*a, **kw):
        raise OSError("injected crash before the sidecar write")

    monkeypatch.setattr(persistence, "open", crash, raising=False)
    with pytest.raises(OSError, match="injected"):
        save_index(small, path)
    monkeypatch.undo()
    assert load_index(spark, path) is None
    save_index(small, path)  # a retried save publishes the new index
    loaded = load_index(spark, path)
    assert loaded.n_lists == 2 and loaded.params["n_vectors"] == 100
    assert sorted(os.listdir(path)) == ["nodes", "params.json"]


def test_save_over_own_source_path_refuses_and_keeps_old_index(
    spark, corpus, tmp_path
):
    """A loaded index whose node table still reads from ``path/nodes`` cannot
    be saved back over it: Spark's overwrite would delete the files it is
    reading.  save_index refuses before touching anything, and the saved
    index stays loadable."""
    path = str(tmp_path / "self")
    save_index(build_ivf_index(corpus, n_lists=4), path)
    loaded = load_index(spark, path)
    with pytest.raises(ValueError, match="reads from"):
        save_index(loaded, path)
    again = load_index(spark, path)
    assert again.n_lists == 4 and again.index_df.count() == 2000


@pytest.mark.parametrize("width", [64, 256])
@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_nearest_lists_breaks_ties_by_lowest_list_id(metric, width):
    """Duplicate centroids tie exactly; every probe count must take them in
    ascending list id, so assignment (one probe) and routing (any number)
    agree.  numpy's default argsort is unstable and does not."""
    import numpy as np

    from hnsw_spark.operators.ann import nearest_lists

    rng = np.random.default_rng(width)
    distinct = rng.normal(size=(8, 16))
    owner = rng.permutation(np.arange(width) % 8)  # centroid -> its vector
    cents = distinct[owner]
    q = distinct[np.arange(40) % 8]
    want = np.stack([np.flatnonzero(owner == i % 8) for i in range(40)])
    assert (nearest_lists(q, cents, metric) == want[:, :1]).all()
    for n_probe in (2, 5, width // 8):
        assert (nearest_lists(q, cents, metric, n_probe) == want[:, :n_probe]).all()


def _duplicate_heavy_corpus(spark):
    """8 distinct 16-d vectors × 40 copies: into 256 lists, k-means returns
    duplicate centroids."""
    import numpy as np

    distinct = np.random.default_rng(3).normal(size=(8, 16)).astype(np.float32)
    rows = [(i, distinct[i % 8].tolist()) for i in range(320)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_duplicate_heavy_corpus_routes_queries_to_their_copies(spark):
    """A query must probe the list its own copies were assigned to: one
    IVF probe yields k rows, all its copies, and the HNSW beam answers
    every query from its copies too."""
    from hnsw_spark.operators.hnsw_graph import build_hnsw_index

    df = _duplicate_heavy_corpus(spark)
    ivf = build_ivf_index(df, n_lists=256)
    got = ivf.search(df, k=10, n_probe=1).collect()
    assert len(got) == 3200
    assert all(r.query_id % 8 == r.id % 8 for r in got)
    hnsw = build_hnsw_index(df, n_lists=256, m=8, ef_construction=32)
    beam = hnsw.search(df, k=10, n_probe=1, ef_search=64, dispatch="beam")
    got = beam.collect()
    assert {r.query_id for r in got} == set(range(320))
    assert all(r.query_id % 8 == r.id % 8 for r in got)


@pytest.mark.xfail(
    strict=True,
    reason="the build's diversity pruning (_select_neighbors via _connect) "
    "leaves some exact clones without layer-0 edges, so the beam cannot "
    "reach k of a query's 40 copies",
)
def test_duplicate_heavy_corpus_hnsw_beam_returns_k_rows(spark):
    from hnsw_spark.operators.hnsw_graph import build_hnsw_index

    df = _duplicate_heavy_corpus(spark)
    hnsw = build_hnsw_index(df, n_lists=256, m=8, ef_construction=32)
    beam = hnsw.search(df, k=10, n_probe=1, ef_search=64, dispatch="beam")
    assert len(beam.collect()) == 3200


def test_route_probes_distributed_matches_driver_path(spark, monkeypatch):
    # above _MAX_DRIVER_BATCH the routing runs as a broadcast-centroid
    # mapInPandas (no driver collect); results must equal the driver path
    import numpy as np

    from hnsw_spark.operators import ann as ann_mod
    from hnsw_spark.operators.ann import route_probes, train_centroids

    big_q = synthetic_vectors(spark, 100_000, 16, seed=11)
    base = big_q.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    cents = train_centroids(base, 8, "cosine", seed=3, sample_size=4096)
    monkeypatch.setattr(ann_mod, "_MAX_DRIVER_BATCH", 1000)
    dist = route_probes(big_q, cents, "cosine", n_probe=2)
    assert dist.count() == 200_000  # every query routed to exactly n_probe lists
    sample = big_q.filter(F.col("vec_id") < 50)
    drv = route_probes(sample, cents, "cosine", n_probe=2)
    got_d = {
        (r.query_id, r.list_id)
        for r in dist.filter(F.col("query_id") < 50).collect()
    }
    got_s = {(r.query_id, r.list_id) for r in drv.collect()}
    assert got_d == got_s


def test_search_with_distributed_routing_equals_driver_routing(
    spark, corpus, queries, monkeypatch
):
    # end-to-end: IVF search with the large-batch routing path gives the
    # same top-k as the (default) driver-side routing
    index = build_ivf_index(corpus, n_lists=8)
    a = index.search(queries, k=5, n_probe=8)
    from hnsw_spark.operators import ann as ann_mod

    # a 4-query driver cap sends the batch past the BLAS scorer and through
    # the distributed route_probes path
    monkeypatch.setattr(ann_mod, "_MAX_DRIVER_BATCH", 4)
    b = index.search(queries, k=5, n_probe=8)
    assert {(r.query_id, r.id) for r in a.collect()} == {
        (r.query_id, r.id) for r in b.collect()
    }


def test_int8_store_search_and_persistence(spark, corpus, queries, tmp_path):
    """int8-stored index: full probe recall vs exact stays ~1.0 (8-bit
    quantization error is far below the neighbor margin on this corpus), the
    node table carries codes not floats, and the persisted form round-trips
    through the schema-agnostic save/load."""
    idx8 = build_ivf_index(corpus, n_lists=8, metric="cosine", store="int8")
    assert set(idx8.index_df.columns) == {"list_id", "id", "scale", "qvec"}
    r = _recall(spark, corpus, queries, idx8, n_probe=8)
    assert r >= 0.99
    path = str(tmp_path / "int8_idx")
    save_index(idx8, path)
    loaded = load_index(spark, path)
    assert loaded.params["store"] == "int8"
    assert "vector" not in loaded.index_df.columns
    a = {(x.query_id, x.id) for x in idx8.search(queries, k=5, n_probe=8).collect()}
    b = {(x.query_id, x.id) for x in loaded.search(queries, k=5, n_probe=8).collect()}
    assert a == b
    delete_index(path)


def test_int8_store_matches_float_topk_mostly(spark, corpus, queries):
    f32 = build_ivf_index(corpus, n_lists=8, metric="cosine", seed=5)
    i8 = build_ivf_index(corpus, n_lists=8, metric="cosine", seed=5, store="int8")
    a = f32.search(queries, k=10, n_probe=8)
    b = i8.search(queries, k=10, n_probe=8)
    from hnsw_spark.operators.evaluation import mean_recall, recall_table

    overlap = mean_recall(recall_table(b, a)).first().mean_recall
    assert overlap >= 0.95  # <1% top-k churn expected from 8-bit error


def test_pq_store_codes_and_persistence(spark, corpus, queries, tmp_path):
    """PQ-stored index: node table carries m-byte binary codes only; the
    codebook tensor survives the JSON sidecar round-trip and the loaded
    index searches identically."""
    idx = build_ivf_index(corpus, n_lists=8, metric="cosine", store="pq", pq_m=8)
    assert set(idx.index_df.columns) == {"list_id", "id", "codes"}
    assert len(idx.index_df.first().codes) == 8  # m bytes per vector
    path = str(tmp_path / "pq_idx")
    save_index(idx, path)
    loaded = load_index(spark, path)
    assert loaded.params["store"] == "pq"
    assert loaded.params["pq_codebooks"].shape == (8, 256, 2)
    a = {(x.query_id, x.id) for x in idx.search(queries, k=5, n_probe=8).collect()}
    b = {(x.query_id, x.id) for x in loaded.search(queries, k=5, n_probe=8).collect()}
    assert a == b
    delete_index(path)


def test_pq_adc_recall_and_rerank_recovers(spark, corpus, queries):
    """ADC top-k is lossy on a uniform corpus (the PQ-adversarial case: no
    cluster structure for codebooks to exploit); the two-stage rerank path
    (IVFPQ+refine) recovers recall against the full-precision table."""
    idx = build_ivf_index(corpus, n_lists=8, metric="cosine", store="pq", pq_m=8)
    r_adc = _recall(spark, corpus, queries, idx, n_probe=8)
    assert r_adc >= 0.5
    exact = knn_exact(corpus, queries, k=10, metric="cosine")
    full = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    rr = idx.search(queries, k=10, n_probe=8, rerank_with=full, rerank_factor=5)
    r_rr = mean_recall(recall_table(rr, exact)).first().mean_recall
    assert r_rr >= 0.95
    assert r_rr >= r_adc


def test_pq_training_determinism_and_reconstruction(spark, corpus):
    import numpy as np

    from hnsw_spark.operators.pq import (
        _encode_mat,
        pq_reconstruct,
        train_pq_codebooks,
    )

    base = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    b1 = train_pq_codebooks(base, m=8, nbits=8, seed=3)
    b2 = train_pq_codebooks(base, m=8, nbits=8, seed=3)
    assert np.array_equal(b1, b2)  # seeded sample + seeded k-means
    pdf = base.limit(100).toPandas()
    x = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    rec = pq_reconstruct(_encode_mat(x, b1, True), b1)
    rel_err = np.linalg.norm(rec - xn, axis=1) / np.linalg.norm(xn, axis=1)
    # lossy but informative: far better than quantizing everything to zero
    assert rel_err.mean() < 0.5


def test_pq_rejects_euclidean_and_indivisible_dim(spark, corpus):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cosine only"):
        build_ivf_index(corpus, metric="euclidean", store="pq")
    with _pytest.raises(ValueError, match="not divisible"):
        build_ivf_index(corpus, metric="cosine", store="pq", pq_m=5)


def test_residual_pq_rejects_non_cosine_direct_calls(spark, corpus):
    """ADVICE r12 #2: residual PQ takes residuals against normalized
    centroids (the cosine convention), so a
    DIRECT train/encode call with centroids + metric='euclidean' would
    silently assign residuals with the wrong nearest-centroid rule (no
    shipped path hits this — adc_score and build_ivf_index are already
    cosine-only); both sites must reject early, mirroring adc_score."""
    import numpy as np
    import pytest as _pytest

    from hnsw_spark.operators.pq import pq_encode, train_pq_codebooks

    base = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    cents = np.eye(4, 16)
    with _pytest.raises(ValueError, match="cosine"):
        train_pq_codebooks(base, m=8, metric="euclidean", centroids=cents)
    with _pytest.raises(ValueError, match="cosine"):
        pq_encode(base, np.zeros((8, 256, 2)), metric="euclidean", centroids=cents)


@pytest.fixture(scope="module")
def clustered(spark):
    return synthetic_vectors(
        spark, 2000, 16, seed=7, distribution="clustered"
    ).cache()


def test_pq_residual_full_probe_rerank_and_persistence(
    spark, clustered, tmp_path
):
    """Residual PQ (IVFADC, VERDICT r11 #3): the pq_residual store must
    search through the same plan (probe join + ADC), survive the params
    sidecar round-trip (flag + codebooks), and the two-stage rerank must
    recover recall exactly like the plain store."""
    qs = clustered.filter(F.col("vec_id") < 20)
    idx = build_ivf_index(
        clustered, n_lists=8, metric="cosine", store="pq", pq_m=8,
        pq_residual=True,
    )
    assert idx.params["pq_residual"] is True
    assert set(idx.index_df.columns) == {"list_id", "id", "codes"}
    path = str(tmp_path / "pq_res_idx")
    save_index(idx, path)
    loaded = load_index(spark, path)
    assert loaded.params["pq_residual"] is True
    a = {(x.query_id, x.id) for x in idx.search(qs, k=5, n_probe=8).collect()}
    b = {(x.query_id, x.id) for x in loaded.search(qs, k=5, n_probe=8).collect()}
    assert a == b
    delete_index(path)
    exact = knn_exact(clustered, qs, k=10, metric="cosine")
    full = clustered.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    rr = idx.search(qs, k=10, n_probe=8, rerank_with=full, rerank_factor=5)
    assert mean_recall(recall_table(rr, exact)).first().mean_recall >= 0.95


def test_pq_residual_beats_plain_on_clustered(spark, clustered):
    """The measured IVFADC claim (bench ``pq_residual_agreement_recorded``):
    when the coarse quantizer RESOLVES the cluster structure (n_lists ≳ the
    corpus's cluster count — here 128 lists over the generator's 128
    hashed centers), the centroid absorbs the between-cluster variance
    and the same m bytes quantize only the ±0.15 jitter — full-probe ADC
    recall rises materially over the plain store at identical knobs
    (measured 0.735 → 0.870 at this shape).  With n_lists far below the
    cluster count the residual is a wash — each list's centroid averages
    many clusters — which is why the knob defaults off and the docstring
    says when to turn it on."""
    qs = clustered.filter(F.col("vec_id") < 20)
    recalls = {}
    for res in (False, True):
        idx = build_ivf_index(
            clustered, n_lists=128, metric="cosine", store="pq", pq_m=8,
            pq_residual=res,
        )
        recalls[res] = _recall(spark, clustered, qs, idx, n_probe=128)
    assert recalls[True] >= recalls[False] + 0.05
    assert recalls[True] >= 0.8  # residual on clustered: materially useful


def test_merge_preserves_base_and_reassigns_delta(spark, corpus, queries):
    from hnsw_spark.operators.ann import merge_ivf_indexes

    base = build_ivf_index(corpus.filter(F.col("vec_id") % 2 == 0), n_lists=8)
    delta = build_ivf_index(corpus.filter(F.col("vec_id") % 2 == 1), n_lists=4)
    merged = merge_ivf_indexes(base, delta)
    # serving quantizer is the base's; every corpus row present exactly once
    assert merged.n_lists == 8
    assert (merged.centroids == base.centroids).all()
    assert merged.index_df.count() == 2000
    assert merged.index_df.select("id").distinct().count() == 2000
    # base rows keep their original list assignment (O(delta) merge: the
    # base side is unioned untouched)
    base_rows = {(r.id, r.list_id) for r in base.index_df.collect()}
    merged_rows = {(r.id, r.list_id) for r in merged.index_df.collect()}
    assert base_rows <= merged_rows
    assert merged.params["merged_segments"] == 2
    # full probe over the merged index = exact kNN over the union
    assert _recall(spark, corpus, queries, merged, n_probe=8) == pytest.approx(1.0)


def test_merge_rejects_mismatched_metric_and_store(spark, corpus):
    from hnsw_spark.operators.ann import merge_ivf_indexes

    cos = build_ivf_index(corpus, n_lists=4, metric="cosine")
    euc = build_ivf_index(corpus, n_lists=4, metric="euclidean")
    with pytest.raises(ValueError, match="metric"):
        merge_ivf_indexes(cos, euc)
    int8 = build_ivf_index(corpus, n_lists=4, store="int8")
    with pytest.raises(ValueError, match="float32"):
        merge_ivf_indexes(cos, int8)


def test_binary_store_full_probe_rerank_equals_exact(spark):
    """store='binary', every list probed, shortlist past the corpus, exact
    re-rank => identical to exact kNN."""
    from pyspark.sql import functions as F

    from hnsw_spark.operators.ann import build_ivf_index
    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    idx = build_ivf_index(emb, n_lists=4, metric="cosine", store="binary")
    assert "bcode" in idx.index_df.columns
    assert "vector" not in idx.index_df.columns
    assert idx.params["dim"] == 64
    full = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    got = {
        (r.query_id, r.id, round(r.score, 6))
        for r in idx.search(
            qs, k=5, n_probe=4, rerank_with=full, rerank_factor=10_000
        ).collect()
    }
    want = {
        (r.query_id, r.id, round(r.score, 6))
        for r in knn_exact(emb, qs, k=5).collect()
    }
    assert got == want


def test_binary_store_hamming_only_scores_are_negated_distances(spark):
    from pyspark.sql import functions as F

    from hnsw_spark.operators.ann import build_ivf_index
    from hnsw_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 2)
    idx = build_ivf_index(emb, n_lists=4, metric="cosine", store="binary")
    rows = idx.search(qs, k=5, n_probe=4).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.score <= 0 and r.score == int(r.score)  # -hamming, integer
        assert -64 <= r.score  # bounded by code width
