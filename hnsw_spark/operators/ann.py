"""Approximate nearest-neighbor tier: IVF (inverted-file) partitioned index.

Role mapping to the reference (SURVEY.md §3.1, §7 Phase 3): the HNSW upper
layers route a query to a small neighborhood of the graph before the
ef-bounded beam search at layer 0 (src/main.ts:253-283).  The Spark-native
equivalent of that coarse-to-fine routing is a coarse quantizer: k-means
centroids partition the base vectors into ``n_lists`` inverted lists; a query
probes only its ``n_probe`` nearest lists, so the scored candidate set is
``n_probe/n_lists`` of the corpus instead of all of it.  ``n_probe`` plays
efSearch's recall↔latency role (ef = max(k, efSearch), src/main.ts:267 —
probing is likewise floored so k results are reachable); ``n_lists`` plays
M's build-granularity role.

Scale design:
- Build: MLlib KMeans (distributed, Tungsten-backed) over ``array_to_vector``;
  assignment is one model.transform pass.  The index table is partitioned by
  ``list_id`` on write, so probing prunes parquet partitions at scan time.
- Search: the probe table (query_id × n_probe rows, tiny) is broadcast and
  equi-joined on list_id — no crossJoin against the corpus; scoring stays in
  whole-stage codegen; the per-query top-k reduces via window over the
  already-pruned candidate set.
- Correctness: recall@k vs the exact operator (the reference's own validation
  regime, bench/README.md:108); n_probe = n_lists degenerates to exact search.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.functions.similarity import get_metric
from hnsw_spark.operators.knn import (
    _RESULT_SCHEMA,
    _local_topk,
    _score_block,
    _topk_window,
    merge_local_topk,
)


def _route_matrix(
    qmat: np.ndarray, centroids: np.ndarray, metric: str, n_probe: int
) -> np.ndarray:
    """(Q, n_probe) nearest-centroid lists per query row, one numpy pass —
    the shared routing math of the driver-side probe paths."""
    if metric == "cosine":
        qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
        cn = _normalize_rows(centroids)
        d = -(qn @ cn.T)
    else:
        d = (
            (qmat * qmat).sum(1, keepdims=True)
            - 2.0 * (qmat @ centroids.T)
            + (centroids * centroids).sum(1)
        )
    return np.argsort(d, axis=1)[:, :n_probe]


def route_probes(
    queries: DataFrame,
    centroids: np.ndarray,
    metric: str,
    n_probe: int,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    max_driver_batch: int = 65536,
) -> DataFrame:
    """Route each query to its ``n_probe`` nearest centroids (the Spark
    analogue of the reference's upper-layer descent, src/main.ts:262-265).
    Returns DataFrame[(query_id, list_id, qvec)] — Q × n_probe rows.

    Two physical paths behind one contract: batches up to
    ``max_driver_batch`` rows route driver-side (one numpy argsort against
    the tiny centroid matrix) and come back broadcast-hinted, so the probe
    join never shuffles the corpus; anything larger routes distributed via
    ``multi_probe_assign`` (broadcast centroids, vectorized mapInPandas), so
    a 10M-query batch job never lands on the driver.  The split is decided
    by a limit-probe — the small path pays no count job."""
    spark = queries.sparkSession
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(query_vec).alias("v"),
    )
    qpd = q.limit(max_driver_batch + 1).toPandas()
    if qpd.empty:
        return spark.createDataFrame(
            [], "query_id long, list_id int, qvec array<float>"
        )
    if len(qpd) > max_driver_batch:
        assigned = multi_probe_assign(
            q.select(F.col("query_id").alias("id"), F.col("v").alias("vector")),
            centroids,
            metric,
            n_probe,
        )
        return assigned.select(
            F.col("id").alias("query_id"),
            "list_id",
            F.col("vector").alias("qvec"),
        )
    qmat = np.stack(qpd["v"].to_numpy()).astype(np.float64)
    probe_lists = _route_matrix(qmat, centroids, metric, n_probe)
    # ship the routed batch back as ONE Arrow-backed pandas frame (numpy
    # column arrays, no per-row/per-element Python loop — ADVICE r4); the
    # float32 cast is lossless w.r.t. the array<float> source values
    import pandas as pd

    # .tolist() (not list(...)) so array ELEMENTS are Python int/float, not
    # numpy scalars: with Arrow disabled, createDataFrame's _createFromLocal
    # verifier rejects numpy.int32 inside array<int> — the engine's own
    # session enables Arrow (session.py) but library callers' sessions may
    # not, and this must work in the consumer's default environment
    # (reference regime: .github/workflows/ci.yml runs consumer-default).
    routed = pd.DataFrame(
        {
            "query_id": qpd["query_id"].to_numpy(np.int64),
            "probe_lists": probe_lists.astype(np.int32).tolist(),
            "qvec": qmat.astype(np.float32).tolist(),
        }
    )
    # broadcast-hinted: the small-batch probe table joins the corpus without
    # shuffling it; the distributed path above returns un-hinted (AQE picks)
    return F.broadcast(
        spark.createDataFrame(
            routed, "query_id long, probe_lists array<int>, qvec array<float>"
        ).select("query_id", F.explode("probe_lists").alias("list_id"), "qvec")
    )


class IVFIndex:
    """An inverted-file vector index: assignment table + centroid matrix."""

    def __init__(
        self,
        index_df: DataFrame,
        centroids: np.ndarray,
        metric: str = "cosine",
        params: dict | None = None,
    ):
        self.index_df = index_df  # (list_id INT, id LONG, vector ARRAY<FLOAT>)
        self.centroids = centroids  # (n_lists, dim) float64
        self.metric = metric
        self.params = params or {}

    @property
    def n_lists(self) -> int:
        return self.centroids.shape[0]

    def search(
        self, queries: DataFrame, k: int = 10, n_probe: int | None = None,
        query_id: str = "vec_id", query_vec: str = "embedding",
        rerank_with: DataFrame | None = None, rerank_factor: int = 5,
    ) -> DataFrame:
        """Top-k over the probed lists: DataFrame[(query_id, id, score)].

        ``rerank_with`` turns on the two-stage FAISS ``IVFPQ+refine`` shape:
        the (lossy) store produces a ``k·rerank_factor`` shortlist, which is
        re-scored exactly against the given full-precision (id, vector)
        table and cut back to k.  At 100 TB the shortlist join is a point
        lookup of Q·k·factor ids against the float store — the compressed
        codes serve the scan, the floats serve only survivors.  With
        ``store='pq'`` and full probing this recovers recall ≈ 1 (pinned in
        tests).

        Rule of thumb (see ``build_ivf_index`` for the measured axes): for
        ``store='pq'`` ALWAYS pass ``rerank_with`` unless ``pq_m ≥ d/2`` —
        ADC-only ordering below that bar is quantization noise on clustered
        corpora, residual or not."""
        sim = get_metric(self.metric)
        if k <= 0:
            return self.index_df.sparkSession.createDataFrame(
                [], "query_id long, id long, score double"
            )
        shortlist_k = k * rerank_factor if rerank_with is not None else k
        n_probe = min(n_probe or max(1, self.n_lists // 4), self.n_lists)
        index_df = self.index_df
        if "vector" in index_df.columns:
            # float32 store, small query batch: the BLAS probed scorer —
            # one gemm per (list ∩ Arrow batch) instead of a per-pair
            # Catalyst fold.  Measured at 1M×64 / n_lists=256 / n_probe=8
            # the fold path took 3.4 s against 0.9 s EXACT BLAS — the probe
            # pruning was real but per-element scoring threw it away; this
            # path is what makes n_probe/n_lists pruning actually beat the
            # exact tier (the crossover axis BENCH_PROTOCOL records).
            # Routes driver-side itself, so no route_probes round-trip.
            blas = self._search_float_blas(
                queries, shortlist_k, n_probe, query_id, query_vec
            )
            if blas is not None:
                return self._maybe_rerank(
                    blas, queries, k, query_id, query_vec, rerank_with
                )
        probes = route_probes(
            queries, self.centroids, self.metric, n_probe, query_id, query_vec
        )
        # route_probes broadcast-hints the small-batch path itself; a
        # distributed (large-batch) probe table must NOT be force-broadcast
        if "codes" in index_df.columns:
            # PQ-stored index (store='pq'): the probe join moves m-byte codes
            # instead of 4·d-byte vectors, then ADC scores via per-query
            # lookup tables — never reconstructing floats (operators/pq.py)
            from hnsw_spark.operators.pq import adc_score

            cand = index_df.join(probes, "list_id")
            scored = adc_score(
                cand,
                self.params["pq_codebooks"],
                self.metric,
                centroids=(
                    self.centroids
                    if self.params.get("pq_residual")
                    else None
                ),
            )
            return self._maybe_rerank(
                _topk_window(scored, shortlist_k), queries, k,
                query_id, query_vec, rerank_with,
            )
        if "bcode" in index_df.columns:
            # binary-stored index (store='binary'): 1-bit sign codes, the
            # lossiest/cheapest tier (32× vs float32).  The query code is
            # packed ONCE on the probes frame (Q×n_probe rows) BEFORE the
            # join — higher-order functions evaluate interpreted, not in
            # codegen, so packing per candidate row instead cost ~5× the
            # whole search (measured).  Candidates then score by integer
            # Hamming (XOR+popcount), negated so the shared top-k
            # convention (score DESC, id ASC) applies.  Meaningful final
            # ranking requires ``rerank_with`` (Hamming ties are massive
            # at low dim).
            from hnsw_spark.functions.quantize import binarize, hamming_distance

            probes_coded = probes.withColumn(
                "_qcode", binarize("qvec", int(self.params["dim"]))
            )
            cand = index_df.join(probes_coded, "list_id")
            scored = cand.select(
                "query_id",
                "id",
                (-hamming_distance(F.col("_qcode"), F.col("bcode")))
                .cast("double")
                .alias("score"),
            )
            return self._maybe_rerank(
                _topk_window(scored, shortlist_k), queries, k,
                query_id, query_vec, rerank_with,
            )
        if "vector" not in index_df.columns:
            # int8-stored index (store='int8'): reconstruct vectors inline —
            # a Catalyst transform that fuses into the same codegen span as
            # the scoring kernel, so the 4x smaller parquet is the only
            # difference the plan sees
            from hnsw_spark.functions.quantize import dequantize

            # the codes column is also named qvec on the PROBE side (query
            # vector) — drop the index-side codes after reconstruction so the
            # post-join scoring reference is unambiguous
            index_df = index_df.withColumn(
                "vector", dequantize("qvec", "scale")
            ).drop("qvec", "scale")
        cand = index_df.join(probes, "list_id")
        scored = cand.select(
            "query_id", "id", sim("qvec", "vector").alias("score")
        )
        return self._maybe_rerank(
            _topk_window(scored, shortlist_k), queries, k,
            query_id, query_vec, rerank_with,
        )

    def _search_float_blas(
        self,
        queries: DataFrame,
        shortlist_k: int,
        n_probe: int,
        query_id: str,
        query_vec: str,
        max_driver_batch: int = 65536,
    ) -> DataFrame | None:
        """Probed top-``shortlist_k`` for the float32 store via the same
        vectorized kernel as ``knn_exact(strategy='local_merge')``
        (knn.py:_score_block), restricted to the probed lists:

        - queries route driver-side against the tiny centroid matrix and
          ship to executors as ONE broadcast (ids, matrix, list→query map);
        - the candidate scan is ``list_id IN probed`` — parquet partition
          pruning when the index table is written partitioned by list_id,
          a codegen-stage filter otherwise; the corpus is never shuffled;
        - each Arrow batch groups its rows by list, scores every (list,
          probing-queries) pair with one float64 gemm, and emits only the
          per-batch top-k per query — shuffle input is Q·n_probe·k rows,
          never the candidate set;
        - ``merge_local_topk`` applies the exact (score desc, id asc)
          order — a window for batches, a shuffle-free ordered limit for
          one query — and decodes local_merge's NaN-as-inf transport
          encoding for zero-norm cosine rows.

        At n_probe = n_lists this degenerates to exactly the local_merge
        exact plan (same kernel, same merge), which the DuckDB oracle pins.
        Returns None for over-limit batches — the caller falls back to the
        distributed join path."""
        import pandas as pd

        spark = queries.sparkSession
        qpd = (
            queries.select(
                F.col(query_id).cast("long").alias("query_id"),
                F.col(query_vec).alias("v"),
            )
            .limit(max_driver_batch + 1)
            .toPandas()
        )
        if len(qpd) > max_driver_batch:
            return None
        if qpd.empty:
            return spark.createDataFrame([], _RESULT_SCHEMA)
        q_ids = qpd["query_id"].to_numpy(dtype=np.int64)
        qmat = np.ascontiguousarray(np.stack(qpd["v"].to_numpy()), dtype=np.float64)
        probe_lists = _route_matrix(qmat, self.centroids, self.metric, n_probe)
        by_list: dict[int, list[int]] = {}
        for qi, lists in enumerate(probe_lists):
            for lid in lists:
                by_list.setdefault(int(lid), []).append(qi)
        by_list_np = {lid: np.asarray(qis) for lid, qis in by_list.items()}
        bc = spark.sparkContext.broadcast((q_ids, qmat, by_list_np))
        metric = self.metric
        kk_target = shortlist_k

        def score_partition(batches):
            ids_all, qmat_l, lists_l = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                for lid, grp in pdf.groupby("list_id", sort=False):
                    qidx = lists_l.get(int(lid))
                    if qidx is None:
                        continue
                    ids = grp["id"].to_numpy()
                    bmat = np.ascontiguousarray(
                        np.stack(grp["vector"].to_numpy()), dtype=np.float64
                    )
                    scores = _score_block(metric, qmat_l[qidx], bmat)
                    sel = np.where(np.isnan(scores), np.inf, scores)
                    rows, cols = _local_topk(sel, ids, kk_target)
                    yield pd.DataFrame(
                        {
                            "query_id": ids_all[qidx][rows],
                            "id": ids[cols],
                            "score": sel[rows, cols],
                        }
                    )

        cand = self.index_df.filter(
            F.col("list_id").isin(sorted(by_list_np))
        ).select("list_id", "id", "vector")
        local = cand.mapInPandas(score_partition, schema=_RESULT_SCHEMA)
        return merge_local_topk(local, shortlist_k, len(q_ids))

    def _maybe_rerank(
        self, shortlist: DataFrame, queries: DataFrame, k: int,
        query_id: str, query_vec: str, rerank_with: DataFrame | None,
    ) -> DataFrame:
        if rerank_with is None:
            return shortlist
        sim = get_metric(self.metric)
        qside = queries.select(
            F.col(query_id).cast("long").alias("query_id"),
            F.col(query_vec).alias("_qv"),
        )
        full = rerank_with.select(
            F.col(rerank_with.columns[0]).cast("long").alias("id"),
            F.col(rerank_with.columns[1]).alias("_fv"),
        )
        rescored = (
            shortlist.drop("score")
            .join(full, "id")
            .join(F.broadcast(qside), "query_id")
            .select("query_id", "id", sim("_qv", "_fv").alias("score"))
        )
        return _topk_window(rescored, k)


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)


def _kmeans_numpy(
    x: np.ndarray, k: int, seed: int, iters: int, spherical: bool
) -> np.ndarray:
    """Seeded Lloyd's with kmeans++ init on the training sample (driver-side;
    the sample is bounded, so this is O(sample·k·iters) regardless of corpus
    size — FAISS trains IVF quantizers the same way)."""
    rng = np.random.default_rng(seed)
    if spherical:
        x = _normalize_rows(x)
    n = x.shape[0]
    k = min(k, n)
    # kmeans++ seeding
    centers = [x[rng.integers(n)]]
    d2 = ((x - centers[0]) ** 2).sum(1)
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0.0:  # all-duplicate sample: any uniform pick is as good
            centers.append(x[rng.integers(n)])
        else:
            centers.append(x[rng.choice(n, p=d2 / total)])
        d2 = np.minimum(d2, ((x - centers[-1]) ** 2).sum(1))
    c = np.stack(centers)
    d = x.shape[1]
    for _ in range(iters):
        assign = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1) if n * k * d < 5e7 else np.argmax(
            x @ c.T - 0.5 * (c * c).sum(1), axis=1
        )
        # center update via per-dim bincount: one O(n) pass per dimension.
        # The old per-center loop (k boolean masks × fancy-index × mean)
        # cost ~30 s per training run at the 65k sample — and a PQ build
        # runs this once per subspace, so m=16 paid ~15 min of driver-side
        # Python per build (measured, tools/residual_pq_probe.py round 12).
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.empty((k, d))
        for dim in range(d):
            sums[:, dim] = np.bincount(assign, weights=x[:, dim], minlength=k)
        nz = counts > 0
        c[nz] = sums[nz] / counts[nz, None]  # empty lists keep their center
        if spherical:
            c = _normalize_rows(c)
    return c


def train_centroids(
    base: DataFrame,
    n_lists: int,
    metric: str,
    seed: int = 42,
    max_iter: int = 10,
    train_method: str = "sample",
    sample_size: int = 65536,
) -> np.ndarray:
    """Coarse-quantizer training over a (id, vector) frame → (n_lists, d).

    ``train_method='sample'`` (default, the FAISS recipe): train on a
    deterministic hash-sampled subset driver-side.  ``'mllib'`` runs
    distributed KMeans when even the training sample must stay off-driver.
    """
    spherical = metric == "cosine"
    if train_method == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = F.col("vector").cast("array<double>")
        if spherical:
            norm = F.sqrt(F.aggregate(feat, F.lit(0.0), lambda a, x: a + x * x))
            feat = F.transform(feat, lambda x: x / F.nullif(norm, F.lit(0.0)))
        train = base.withColumn("features", array_to_vector(feat))
        km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="features")
        model = km.fit(train)
        centroids = np.stack(
            [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
        )
    elif train_method == "sample":
        # probe with limit(sample_size+1): if the whole corpus fits the
        # training budget we already hold it (no count job, no sampling
        # bias); only a larger corpus pays for the count + deterministic
        # hash sample (partition-invariant)
        from hnsw_spark.operators.levels import uniform_from_id

        probe = base.limit(sample_size + 1).toPandas()
        if len(probe) > sample_size:
            n_rows = base.count()
            frac = min(1.0, sample_size / max(n_rows, 1))
            sample = base.filter(uniform_from_id(F.col("id"), seed) < frac)
            probe = sample.limit(sample_size).toPandas()
        x = np.stack(probe["vector"].to_numpy()).astype(np.float64)
        centroids = _kmeans_numpy(x, n_lists, seed, max_iter, spherical)
    else:
        raise ValueError(f"unknown train_method: {train_method!r}")
    return centroids


def assign_lists(
    base: DataFrame, centroids: np.ndarray, metric: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Assign every (id, vector[, extra…]) row to its nearest centroid in one
    vectorized mapInPandas pass → (list_id, id, vector[, extra…])."""
    spherical = metric == "cosine"
    bc = base.sparkSession.sparkContext.broadcast(
        _normalize_rows(centroids) if spherical else centroids
    )
    extra_schema = "".join(
        f", {name} {base.schema[name].dataType.simpleString()}" for name in extra_cols
    )

    def assign(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            if spherical:
                m = _normalize_rows(m)
                pred = np.argmax(m @ cents.T, axis=1)
            else:
                pred = np.argmin(
                    (m * m).sum(1, keepdims=True)
                    - 2.0 * (m @ cents.T)
                    + (cents * cents).sum(1),
                    axis=1,
                )
            out = {"list_id": pred.astype(np.int32), "id": pdf["id"], "vector": pdf["vector"]}
            for name in extra_cols:
                out[name] = pdf[name]
            yield pd.DataFrame(out)

    return base.mapInPandas(
        assign, schema=f"list_id int, id long, vector array<float>{extra_schema}"
    )


def multi_probe_assign(
    base: DataFrame, centroids: np.ndarray, metric: str, n_probe: int
) -> DataFrame:
    """Assign every (id, vector) row to its ``n_probe`` nearest centroids in
    one vectorized mapInPandas pass → (list_id, id, vector), n_probe rows per
    input row.  The multi-probe generalization of ``assign_lists`` — used by
    ``ivf_self_join`` so boundary pairs (near-duplicates straddling a
    centroid boundary) still co-bucket in a shared list."""
    spherical = metric == "cosine"
    n_probe = min(n_probe, centroids.shape[0])
    bc = base.sparkSession.sparkContext.broadcast(
        _normalize_rows(centroids) if spherical else centroids
    )

    def assign(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            if spherical:
                d = -(_normalize_rows(m) @ cents.T)
            else:
                d = (
                    (m * m).sum(1, keepdims=True)
                    - 2.0 * (m @ cents.T)
                    + (cents * cents).sum(1)
                )
            lists = np.argsort(d, axis=1)[:, :n_probe]  # (n, n_probe)
            n_rows = len(pdf)
            rows = np.repeat(np.arange(n_rows), n_probe)
            yield pd.DataFrame(
                {
                    "list_id": lists.ravel().astype(np.int32),
                    "id": pdf["id"].to_numpy()[rows],
                    "vector": pdf["vector"].to_numpy()[rows],
                }
            )

    return base.mapInPandas(
        assign, schema="list_id int, id long, vector array<float>"
    )


def _salt_oversized_lists(assigned: DataFrame, max_list: int) -> DataFrame:
    """Split lists over ``max_list`` rows into hash chunks and replicate each
    row into one task per chunk pair it participates in.

    Returns DataFrame[(list_id, ca, cb, chunk, id, vector)] where (ca, cb),
    ca ≤ cb, keys an independent scoring task: the same-chunk task (c, c)
    owns the chunk's upper triangle; the cross task (a, b) owns the a×b
    bipartite block.  Together the tasks cover every within-list pair exactly
    once, so downstream results are identical to the unsplit grouping while
    no task exceeds ~2·max_list rows (up to hash imbalance).  Lists at or
    under the cap emit the single task (0, 0) with no replication.
    """
    # per-list sizes → chunk counts; n_lists rows, broadcast back onto
    # the assignment so chunking is decided in-plan (no driver collect)
    chunks = F.broadcast(
        assigned.groupBy("list_id").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(max_list))
            .cast("int")
            .alias("n_chunks")
        )
    )
    return (
        assigned.join(chunks, "list_id")
        .withColumn(
            "chunk",
            F.when(F.col("n_chunks") <= 1, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("id"), F.col("n_chunks")).cast("int")
            ),
        )
        # every chunk pair this row participates in: (chunk, o) for all
        # o — deduped so (c, c) appears once; rows in un-split lists emit
        # the single task (0, 0)
        .withColumn(
            "task",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.col("n_chunks") - 1),
                        lambda o: F.struct(
                            F.least(F.col("chunk"), o).alias("ca"),
                            F.greatest(F.col("chunk"), o).alias("cb"),
                        ),
                    )
                )
            ),
        )
        .select(
            "list_id",
            F.col("task.ca").alias("ca"),
            F.col("task.cb").alias("cb"),
            "chunk",
            "id",
            "vector",
        )
    )


def ivf_self_join(
    df: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    n_probe: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_method: str = "sample",
    max_list: int | None = 8192,
) -> DataFrame:
    """Bucketed self-similarity join: (id_a, id_b, cosine) pairs with
    ``id_a < id_b`` and cosine ≥ ``threshold``, scoring only pairs that share
    at least one of their ``n_probe`` assigned inverted lists.

    This is the scale path for embedding near-dup detection — the same
    bucketed shape the LSH tier uses: candidate generation is
    Σ list² over inverted lists, never corpus².  ``n_probe > 1`` recovers
    boundary pairs; ``n_probe = n_lists`` degenerates to the exact all-pairs
    result (every pair co-buckets), which is how the oracle checks this
    operator end-to-end.  Cosine only (the near-dup metric).

    Scoring runs per list as ONE BLAS gram matrix inside ``applyInPandas``
    (normalize once, ``G = Vn @ Vnᵀ``, upper triangle ≥ τ) — a per-pair
    Catalyst kernel re-derives both norms for every one of the Σ list²
    candidates, ~30× slower at bench scale.  Zero-norm rows score NaN and
    are dropped, matching the Catalyst/SQL brute path where the zero
    denominator nulls the row out of the threshold filter.

    Skew guard (``max_list``): a skewed centroid can collect a mega-list
    whose single ``applyInPandas`` group is quadratic in one task — the IVF
    twin of the text tiers' degenerate-shingle problem (their ``max_bucket``
    cap).  Lists larger than ``max_list`` are hash-salted into
    ``ceil(n/max_list)`` chunks and every chunk pair (aᵢ, aⱼ), i ≤ j, becomes
    its own task: same-chunk tasks score their upper triangle, cross-chunk
    tasks score the bipartite block, so the pair set is IDENTICAL to the
    unsplit plan but per-task work is bounded by ~(2·max_list)² and the
    mega-list parallelizes across the cluster instead of serializing on one
    executor.  Costs one extra linear pass (per-list counts, map-side
    combined, broadcast back — n_lists rows); lists at or under the cap take
    the single-task path unchanged.  ``max_list=None`` disables the guard
    and the extra pass.
    """
    if metric != "cosine":
        raise ValueError(f"ivf_self_join supports cosine only, got {metric!r}")
    import pandas as pd

    base = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vector")
    )
    centroids = train_centroids(
        base, n_lists, metric, seed, train_method=train_method
    )
    assigned = multi_probe_assign(base, centroids, metric, n_probe)

    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cosine": pd.Series(dtype="float64"),
        }
    )

    def _pairs(ids, m):
        with np.errstate(divide="ignore", invalid="ignore"):
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        g = mn @ mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        sc = g[iu, ju]
        keep = sc >= threshold  # NaN (zero norm) compares False
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": sc[keep],
            }
        )

    def _bipartite(ids_a, m_a, ids_b, m_b):
        with np.errstate(divide="ignore", invalid="ignore"):
            an = m_a / np.linalg.norm(m_a, axis=1, keepdims=True)
            bn = m_b / np.linalg.norm(m_b, axis=1, keepdims=True)
        g = an @ bn.T
        ii, jj = np.nonzero(g >= threshold)
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": g[ii, jj],
            }
        )

    if max_list is None:

        def pairs_group(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return empty
            ids = pdf["id"].to_numpy()
            m = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            return _pairs(ids, m)

        scored = assigned.groupBy("list_id").applyInPandas(
            pairs_group, "id_a long, id_b long, cosine double"
        )
    else:
        # the salting guard's per-list counts aggregate and the scoring
        # join both consume `assigned`; Spark does not CSE a shared
        # subtree, so without a persist the scan + BLAS-assign Python
        # stage runs TWICE (a full extra corpus pass at scale).  Library-
        # owned persist: released by release_caches() after the caller's
        # action (the cachereg contract).
        from hnsw_spark.plans.cachereg import owned_persist

        salted = _salt_oversized_lists(owned_persist(assigned), max_list)

        def pairs_task(key, pdf):
            _, ca, cb = key
            if len(pdf) < 2:
                return empty
            ids = pdf["id"].to_numpy()
            m = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            if ca == cb:
                return _pairs(ids, m)
            side_a = pdf["chunk"].to_numpy() == ca
            if not side_a.any() or side_a.all():
                return empty
            return _bipartite(
                ids[side_a], m[side_a], ids[~side_a], m[~side_a]
            )

        scored = salted.groupBy("list_id", "ca", "cb").applyInPandas(
            pairs_task, "id_a long, id_b long, cosine double"
        )
    # a pair co-bucketed in up to n_probe shared lists scores identically in
    # each; dedupe after the threshold filter so the shuffle input is only
    # the (small) surviving pair set
    return scored.dropDuplicates(["id_a", "id_b"])


def build_ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    train_method: str = "sample",
    sample_size: int = 65536,
    store: str = "float32",
    pq_m: int = 8,
    pq_nbits: int = 8,
    pq_residual: bool = False,
) -> IVFIndex:
    """Cluster the corpus into ``n_lists`` inverted lists — one scan to
    sample/train, one to assign, no per-iteration Spark jobs (see
    ``train_centroids``).  Cosine uses spherical k-means; stored vectors stay
    un-normalized so search scores match the reference formulas exactly.

    ``store='int8'`` persists symmetric per-vector quantized codes
    (functions/quantize.py) instead of float32 — 4× less parquet IO/memory
    at 100 TB, the FAISS ScalarQuantizer recipe; search reconstructs inline
    and costs one extra multiply per element.  Scores then differ from exact
    by ≤ the quantization error (recall impact <1% at 8 bits; pinned in
    tests), so keep the default for oracle-exact workloads.

    ``store='pq'`` persists m-byte product-quantization codes (the FAISS
    IVFPQ shape, operators/pq.py) — 4·d/m compression (32× at d=64, m=8);
    search scores by ADC lookup tables without reconstructing.  Cosine only;
    ``pq_m``/``pq_nbits`` size the codebooks.  The lossiest, cheapest tier:
    use for the first pass at 100 TB and re-rank survivors with the exact
    operator.

    ``pq_residual=True`` encodes each vector's RESIDUAL against its coarse
    centroid instead of the raw normalized vector — the actual FAISS
    IVFADC recipe (Jégou et al. 2011 §IV; VERDICT r11 #3).  Same bytes,
    same plan shape (the coarse q·centroid term is exact and gathered per
    list at search time); on clustered corpora the residual variance is a
    fraction of the raw variance, so agreement-vs-exact at a given m rises
    sharply (measured: tools/residual_pq_probe.py, bench
    ``pq_residual_agreement_recorded``).

    **Sizing ``pq_m`` (the honest serving rule, measured on the two
    recorded axes — tools/opq_probe.py OPQ sweep and
    tools/residual_pq_probe.py / bench ``pq_residual_agreement_recorded``):**
    ADC-only ranking is trustworthy only at ``m ≥ d/2`` (≤2 dims per
    subspace); below that, serve a ``k·rerank_factor`` shortlist and
    re-rank full-precision via ``search(rerank_with=...)`` — at m=d/8 on
    tightly-clustered corpora ADC-only top-10 agreement collapses to ~0.05
    for BOTH plain and residual encodings while shortlist+rerank restores
    recall 1.0.  ``pq_residual`` helps exactly when the coarse quantizer
    resolves real cluster structure (clustered-aniso d=256/m=32 agreement
    0.362→0.662; ~10× ADC-only lift on 250k clustered corpora) and is
    recall-neutral-to-slightly-negative on structureless/uniform data —
    it is never a substitute for the rerank stage at small m."""
    get_metric(metric)  # validate early (reference src/main.ts:42-44)
    if store not in ("float32", "int8", "pq", "binary"):
        raise ValueError(f"unknown store: {store!r}")
    if store == "pq" and metric != "cosine":
        raise ValueError("store='pq' supports cosine only")
    base = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vector")
    )
    centroids = train_centroids(
        base, n_lists, metric, seed, max_iter, train_method, sample_size
    )
    assigned = assign_lists(base, centroids, metric)
    params = {
        "n_lists": n_lists,
        "seed": seed,
        "max_iter": max_iter,
        "train_method": train_method,
        "store": store,
    }
    if store == "int8":
        from hnsw_spark.functions.quantize import quant_scale, quantize

        assigned = (
            assigned.withColumn("scale", quant_scale("vector"))
            .withColumn("qvec", quantize("vector", F.col("scale")))
            .drop("vector")
        )
    elif store == "binary":
        from hnsw_spark.functions.quantize import binarize

        # 1-bit sign codes: 32x compression, integer-only scan; the dim is
        # pinned in params so search can pack query codes identically
        dim = int(base.select(F.size("vector")).first()[0])
        params["dim"] = dim
        assigned = assigned.withColumn(
            "bcode", binarize("vector", dim)
        ).drop("vector")
    elif store == "pq":
        from hnsw_spark.operators.pq import pq_encode, train_pq_codebooks

        books = train_pq_codebooks(
            base, m=pq_m, nbits=pq_nbits, metric=metric, seed=seed,
            max_iter=max_iter, sample_size=sample_size,
            centroids=centroids if pq_residual else None,
        )
        assigned = pq_encode(
            assigned, books, metric=metric, extra_cols=("list_id",),
            centroids=centroids if pq_residual else None,
        ).select("list_id", "id", "codes")
        params.update(
            pq_m=pq_m, pq_nbits=pq_nbits, pq_codebooks=books,
            pq_residual=bool(pq_residual),
        )
    return IVFIndex(assigned, centroids, metric, params=params)


def merge_ivf_indexes(a: IVFIndex, b: IVFIndex) -> IVFIndex:
    """Compact two IVF indexes into one — the segment-merge every
    long-lived index needs (ingest builds small per-batch indexes; a merge
    folds them into the serving index without retraining).

    The FAISS ``merge_from`` contract (public knowledge): the merged index
    keeps ``a``'s trained coarse quantizer, and ``b``'s vectors are
    re-assigned to ``a``'s centroids so every row lands in a list the
    serving quantizer can route to.  The plan is one scan of ``b`` (the
    re-assignment scoring is the same scan-stage Catalyst kernel as
    ``assign_lists``) plus a metadata-only union with ``a``'s assignment
    table — ``a``'s rows are not touched, so merging a small delta into a
    100 TB base index costs O(delta), not O(base).

    Float32 stores only: quantized stores (int8/pq) carry codebooks trained
    per-index, so their codes are not mutually decodable — re-encode
    through the float path instead.
    """
    if a.metric != b.metric:
        raise ValueError(f"metric mismatch: {a.metric!r} != {b.metric!r}")
    for ix, name in ((a, "a"), (b, "b")):
        if ix.params.get("store", "float32") != "float32":
            raise ValueError(
                f"merge requires store='float32' on both sides; {name} is "
                f"{ix.params.get('store')!r}"
            )
    reassigned = assign_lists(
        b.index_df.select("id", "vector"), a.centroids, a.metric
    )
    merged = a.index_df.select("list_id", "id", "vector").unionByName(
        reassigned.select("list_id", "id", "vector")
    )
    params = dict(a.params)
    # a loaded-then-merged-then-resaved index must not persist a's stale
    # publish-time corpus size (ADVICE r13 #2 — inert today, but a latent
    # trap if IVF grows an auto-dispatch path); save_index recounts
    params.pop("n_vectors", None)
    params["merged_segments"] = int(a.params.get("merged_segments", 1)) + int(
        b.params.get("merged_segments", 1)
    )
    return IVFIndex(merged, a.centroids, a.metric, params=params)
