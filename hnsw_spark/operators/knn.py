"""Exact top-k nearest-neighbor search (the flagship query).

Parity targets:
- ``bruteForceKNN`` — the reference's exact oracle (src/bench/metrics.ts:9-24):
  score the query against ALL vectors, sort desc, take k.
- ``searchKNN`` result contract (src/main.ts:253-283): ≤ k rows per query,
  ``{id, score}`` sorted score-desc; empty index or k ≤ 0 → empty result.

One physical plan, ``local_merge``: queries are broadcast to executors once
(sc.broadcast of a numpy matrix); ``mapInPandas`` computes a vectorized
numpy score block per Arrow batch and keeps only the per-batch top-k per
query, so the shuffle input is Q×k×(#batches) rows, never Q×N; a final
window over that reduced set yields the global top-k.  Scoring is BLAS
matmul (float64), never a per-row Python loop.  A one-query batch merges
with ``orderBy(...).limit(k)`` instead of the window: a
TakeOrderedAndProject in which each partition keeps its k best rows and
the driver merges them, with no exchange.

Ties are broken by ascending id so results are deterministic and
oracle-comparable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from hnsw_spark.functions.similarity import get_metric

_RESULT_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("id", LongType()),
        StructField("score", DoubleType()),
    ]
)


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def _local_topk(
    sel: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k of a (Q, N) selection-score block under the merge's
    (score desc, id asc) order, as flat (row, col) index arrays with
    ``min(k, N)`` entries per row.  ``argpartition`` picks arbitrarily among
    scores tied at the k-th place, which can drop the lower id that the
    global order keeps; rows whose k-th score ties past the cut are
    re-selected exactly (rare: only exact score ties reach that loop)."""
    nq, n = sel.shape
    kk = min(k, n)
    part = np.argpartition(-sel, kk - 1, axis=1)[:, :kk]
    picked = np.take_along_axis(sel, part, axis=1)
    kth = picked.min(axis=1, keepdims=True)
    straddling = np.flatnonzero(
        (sel == kth).sum(axis=1) > (picked == kth).sum(axis=1)
    )
    for r in straddling:
        above = np.flatnonzero(sel[r] > kth[r, 0])
        tied = np.flatnonzero(sel[r] == kth[r, 0])
        tied = tied[np.argsort(ids[tied], kind="stable")]
        part[r] = np.concatenate([above, tied[: kk - len(above)]])
    return np.repeat(np.arange(nq), kk), part.ravel()


def merge_local_topk(local: DataFrame, k: int, n_queries: int) -> DataFrame:
    """Global top-k over per-batch candidates (``query_id, id, score``)
    emitted with the NaN-as-+inf transport encoding (see ``_batch_topk``),
    decoded back to NaN here.

    One query needs no per-query partitioning: ``orderBy(...).limit(k)``
    plans as a TakeOrderedAndProject (each partition keeps its top k, the
    driver merges them), so a collected one-query search runs no exchange.
    Batches keep the query-keyed ``_topk_window``."""
    decoded = (
        F.when(F.col("score") == float("inf"), F.lit(float("nan")))
        .otherwise(F.col("score"))
        .alias("score")
    )
    if n_queries == 1:
        return (
            local.orderBy(F.desc("score"), F.asc("id"))
            .select("query_id", "id", decoded)
            .limit(k)
        )
    return _topk_window(local, k).select("query_id", "id", decoded)


def knn_exact(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    *,
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    strategy: str = "local_merge",
) -> DataFrame:
    """Exact brute-force top-k: DataFrame[(query_id, id, score)].

    ``strategy`` names the one plan, ``local_merge`` (module docstring);
    any other value raises.  ``k <= 0`` → empty result (reference
    src/main.ts:258-260 guard); an empty base likewise yields zero rows
    with the same schema.  A NULL or ragged vector raises a ValueError
    naming its column and id.
    """
    if strategy != "local_merge":
        raise ValueError(f"unknown strategy: {strategy!r}")
    if metric not in ("cosine", "euclidean"):
        get_metric(metric)  # raises with the reference's message
    if k <= 0:
        return base.sparkSession.createDataFrame([], _RESULT_SCHEMA)
    q_ids, qmat = collect_query_batch(queries, query_id, query_vec)
    return knn_local_merge_prepared(base, q_ids, qmat, k, metric, base_id, base_vec)


def collect_query_batch(
    queries: DataFrame, query_id: str, query_vec: str, cap: int | None = None
) -> tuple[np.ndarray, np.ndarray] | None:
    """The one driver-side transfer of a query batch: (int64 ids, (Q, d)
    float64 matrix), decoded by ``_vector_matrix``, so a NULL or ragged
    query vector fails naming ``query_vec`` and its id.  With ``cap`` the
    collect is bounded to ``cap + 1`` rows and a larger batch returns None
    — the caller routes it distributed instead.  An empty batch is a (0,)
    id array and a (0, 0) matrix."""
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"), F.col(query_vec).alias("v")
    )
    pdf = (q if cap is None else q.limit(cap + 1)).toPandas()
    if cap is not None and len(pdf) > cap:
        return None
    ids = pdf["query_id"].to_numpy(dtype=np.int64)
    if not len(ids):
        return ids, np.empty((0, 0))
    return ids, _vector_matrix(pdf["v"].to_numpy(), ids, query_vec)


def _vector_matrix(vecs: np.ndarray, ids: np.ndarray, column: str) -> np.ndarray:
    """(N, d) float64 matrix of one batch of a vector column.  A NULL or
    ragged vector makes ``np.stack`` fail with numpy's bare shape message;
    only then are the rows inspected, to raise a ValueError naming the
    column and the first offending id."""
    try:
        return np.ascontiguousarray(np.stack(vecs), dtype=np.float64)
    except (ValueError, TypeError):
        lens = [len(v) if hasattr(v, "__len__") else None for v in vecs]
        bad = next(
            (i for i, n in enumerate(lens) if n is None or n != lens[0]), None
        )
        if bad is None:
            raise
        if lens[bad] is None:
            what = f"is NULL at id {ids[bad]}"
        else:
            what = (
                f"has length {lens[bad]} at id {ids[bad]}"
                f" but {lens[0]} at id {ids[0]}"
            )
        raise ValueError(f"vector column {column!r} {what}") from None


def _score_block(metric: str, qmat: np.ndarray, bmat: np.ndarray) -> np.ndarray:
    """(Q, N) score matrix in float64 via BLAS."""
    if metric == "cosine":
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        bn = np.linalg.norm(bmat, axis=1, keepdims=True)
        denom = qn @ bn.T
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom == 0.0, np.nan, (qmat @ bmat.T) / denom)
    # euclidean similarity 1/(1+dist)
    sq = (qmat * qmat).sum(axis=1, keepdims=True)
    sb = (bmat * bmat).sum(axis=1, keepdims=True)
    d2 = np.maximum(sq - 2.0 * (qmat @ bmat.T) + sb.T, 0.0)
    # the expansion cancels catastrophically near zero distance (a self-pair
    # comes out ~1e-14 → dist 1e-7 → sim 0.99999994 instead of 1.0, exactly
    # where near-dup detection looks); recompute those few entries directly
    near = d2 < 1e-8 * (sq + sb.T)
    if near.any():
        ii, jj = np.nonzero(near)
        diff = qmat[ii] - bmat[jj]
        d2[ii, jj] = (diff * diff).sum(axis=1)
    return 1.0 / (1.0 + np.sqrt(d2))


def _batch_topk(
    metric: str,
    q_ids: np.ndarray,
    qmat: np.ndarray,
    ids: np.ndarray,
    vecs: pd.Series,
    k: int,
    column: str = "vector",
) -> pd.DataFrame:
    """One Arrow batch's candidates for the global merge: BLAS-score the
    queries ``qmat`` against the batch vectors ``vecs``, keep each query's
    top k (``_local_topk``), and return them as a (query_id, id, score)
    frame — the per-batch body of every BLAS scorer (``local_merge`` and
    the IVF float store).  ``column`` names the vector column in the
    NULL/ragged-vector error (``_vector_matrix``).

    NaN (zero-norm cosine) must rank HIGHEST to match Catalyst's sort
    order (Spark treats NaN as the largest double; numpy's argpartition
    would instead sort it last) — selection uses +inf.  The emitted score
    uses the +inf encoding too: pandas→Arrow turns NaN into NULL (which
    desc-sorts LAST, silently dropping the row) — +inf survives the
    boundary, sorts exactly where Catalyst puts NaN (largest), and is
    unattainable for cosine/euclidean-similarity, so ``merge_local_topk``
    decodes it back to NaN after the merge."""
    bmat = _vector_matrix(vecs.to_numpy(), ids, column)
    scores = _score_block(metric, qmat, bmat)  # (Q, N)
    sel = np.where(np.isnan(scores), np.inf, scores)
    rows, cols = _local_topk(sel, ids, k)
    return pd.DataFrame(
        {"query_id": q_ids[rows], "id": ids[cols], "score": sel[rows, cols]}
    )


def knn_local_merge_prepared(
    base: DataFrame,
    q_ids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    metric: str,
    base_id: str = "vec_id",
    base_vec: str = "embedding",
) -> DataFrame:
    """``local_merge`` over a query batch already collected by
    ``collect_query_batch`` (ids and matrix) — ``knn_exact`` and the HNSW
    auto-dispatch probe, which bounds the batch with a limit+collect, each
    pay one driver transfer and no second toPandas job."""
    spark = base.sparkSession
    if not len(q_ids):
        return spark.createDataFrame([], _RESULT_SCHEMA)
    bq = spark.sparkContext.broadcast((q_ids, qmat))

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_l, qmat_l = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            yield _batch_topk(
                metric, q_ids_l, qmat_l, pdf["id"].to_numpy(), pdf["v"], k,
                base_vec,
            )

    b = base.select(
        F.col(base_id).cast("long").alias("id"), F.col(base_vec).alias("v")
    )
    local = b.mapInPandas(score_partition, schema=_RESULT_SCHEMA)
    return merge_local_topk(local, k, len(q_ids))


def similarity_scores(
    pairs: DataFrame, a: Column | str = "a", b: Column | str = "b"
) -> DataFrame:
    """All four scalar kernels (F1-F4) as columns over a pair table —
    the reference's per-pair scoring surface (src/similarity.ts)."""
    from hnsw_spark.functions.similarity import (
        cosine_similarity,
        dot_product,
        euclidean_distance,
        euclidean_similarity,
    )

    return pairs.withColumns(
        {
            "dot": dot_product(a, b),
            "cosine": cosine_similarity(a, b),
            "euclidean_dist": euclidean_distance(a, b),
            "euclidean_sim": euclidean_similarity(a, b),
        }
    )


def knn_label_vote(
    emb: DataFrame,
    n_queries: int = 64,
    k: int = 10,
    metric: str = "cosine",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification over the embedding table — the
    label-propagation step of a weak-labeling pipeline (predict labels for
    new vectors from their nearest labeled neighbors), evaluated
    leave-one-out on the first ``n_queries`` vectors.

    Output: (query_id, pred_label, votes, best_score) — the winning label
    (most neighbor votes, ties to the smallest label), its vote count, and
    the max similarity among the voting neighbors (max, not mean: order-
    invariant, so bit-stable across engines and partitionings).

    Plan: exact top-(k+1) via ``knn_exact``, drop the self-match, re-rank
    to k, then two keyed aggregations.  At scale the first stage swaps to
    the ANN tier unchanged — everything after the top-k is a
    (query_id, label) groupBy whose cardinality is Q×k.
    """
    qs = emb.filter(F.col(id_col) < n_queries)
    # +1 then drop self: cosine(self)=1.0 always ranks first, so the true
    # k neighbors are ranks 2..k+1 — cheaper than excluding self from the
    # scored set, which would break the shared scoring kernels' symmetry
    top = knn_exact(
        emb, qs, k=k + 1, metric=metric,
        base_id=id_col, base_vec=vec_col, query_id=id_col, query_vec=vec_col,
    ).filter(F.col("id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    top = top.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    labeled = top.join(
        F.broadcast(
            emb.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(label_col).alias("_lbl"),
            )
        ),
        "id",
    )
    votes = labeled.groupBy("query_id", "_lbl").agg(
        F.count("*").alias("votes"), F.max("score").alias("_best")
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("_lbl")
    )
    return (
        votes.withColumn("_vr", F.row_number().over(vw))
        .filter(F.col("_vr") == 1)
        .select(
            "query_id",
            F.col("_lbl").cast("int").alias("pred_label"),
            "votes",
            # raw exact max (one of the computed scores, no extra
            # arithmetic); oracle-facing callers quantize
            F.col("_best").alias("best_score"),
        )
    )


def knn_hamming_rerank(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    dim: int = 64,
    metric: str = "cosine",
    *,
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Binary-quantized two-stage search: Hamming-distance candidate scan
    over 1-bit sign codes, then exact re-rank of the top ``rerank``
    candidates per query.  DataFrame[(query_id, id, hamming, score)].

    This is the 32×-compression tier of the ANN ladder (codes for a 100 TB
    float32 corpus fit in ~3 TB): stage 1 touches only ``array<bigint>``
    codes with XOR+popcount inside whole-stage codegen — the float vectors
    are read ONLY for the Q×rerank candidate rows in stage 2, never for the
    full corpus.  Both stages break ties by ascending id (Hamming ties by
    id in stage 1; score ties by id in stage 2), so the result is exactly
    reproducible by any engine from the same codes.
    """
    from hnsw_spark.functions.quantize import binarize, hamming_distance
    from hnsw_spark.functions.similarity import get_metric

    if k <= 0:
        return base.sparkSession.createDataFrame([], _RESULT_SCHEMA)
    sim = get_metric(metric)
    b = base.select(
        F.col(base_id).cast("long").alias("id"),
        F.col(base_vec).alias("_bvec"),
        binarize(base_vec, dim).alias("_bcode"),
    )
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(query_vec).alias("_qvec"),
        binarize(query_vec, dim).alias("_qcode"),
    )
    cand = b.crossJoin(F.broadcast(q)).select(
        "query_id", "id", "_qvec", "_bvec",
        hamming_distance("_qcode", "_bcode").alias("hamming"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("id"))
    shortlist = (
        cand.withColumn("_cr", F.row_number().over(cw))
        .filter(F.col("_cr") <= rerank)
        .drop("_cr")
    )
    rescored = shortlist.select(
        "query_id", "id", "hamming", sim("_qvec", "_bvec").alias("score")
    )
    return _topk_window(rescored, k).select("query_id", "id", "hamming", "score")


def mutual_knn_pairs(
    emb: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-nearest-neighbor graph: unordered pairs (id_a < id_b)
    where each vector is in the OTHER's top-k (self excluded).
    DataFrame[(id_a, id_b, rank_ab, rank_ba, score)].

    Mutual-kNN is the standard noise-robust edge set for embedding
    clustering and semantic dedup (a one-directional top-k edge to a hub
    vector is usually spurious; a reciprocal edge rarely is).  Plan: one
    top-(k+1) ``knn_exact`` pass (every row is a query; BLAS block
    scoring, per-batch top-k, Q×k×batches shuffle input, never Q×N rows),
    self-match dropped, re-ranked to k,
    then ONE groupBy on the canonical (min, max) pair key: each directed
    edge lands in its unordered pair's group, a pair is mutual iff both
    directions are present, and the (rank_ab, rank_ba, score) columns are
    conditional aggregates over the ≤2 rows per group.  A group carries at
    most one row per direction ((query_id, id) is unique in a top-k), so
    the aggregation is exact, and the whole operator is a single pass —
    no persist and no self-join (the former fwd⋈rev plan scanned the
    scoring pipeline from both join sides, racing duplicate
    materialization of the cached frame when cold).
    """
    top = knn_exact(
        emb, emb, k=k + 1, metric=metric,
        base_id=id_col, base_vec=vec_col, query_id=id_col, query_vec=vec_col,
    ).filter(F.col("id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    ranked = top.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    is_fwd = F.col("query_id") < F.col("id")
    sides = ranked.select(
        F.least("query_id", "id").alias("id_a"),
        F.greatest("query_id", "id").alias("id_b"),
        F.when(is_fwd, F.col("rank")).alias("_rank_ab"),
        F.when(~is_fwd, F.col("rank")).alias("_rank_ba"),
        F.when(is_fwd, F.col("score")).alias("_score_ab"),
    )
    return (
        sides.groupBy("id_a", "id_b")
        .agg(
            F.max("_rank_ab").alias("rank_ab"),
            F.max("_rank_ba").alias("rank_ba"),
            F.max("_score_ab").alias("score"),
        )
        .filter(F.col("rank_ab").isNotNull() & F.col("rank_ba").isNotNull())
        .select("id_a", "id_b", "rank_ab", "rank_ba", "score")
    )
