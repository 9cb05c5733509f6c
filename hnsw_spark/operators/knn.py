"""Exact top-k nearest-neighbor search (the flagship query).

Parity targets:
- ``bruteForceKNN`` — the reference's exact oracle (src/bench/metrics.ts:9-24):
  score the query against ALL vectors, sort desc, take k.
- ``searchKNN`` result contract (src/main.ts:253-283): ≤ k rows per query,
  ``{id, score}`` sorted score-desc; empty index or k ≤ 0 → empty result.

Two physical strategies, same semantics:

- ``window``: crossJoin(broadcast(queries)) → Catalyst higher-order-function
  score → row_number over (query) window.  Fully declarative, bit-deterministic
  left-to-right scoring — this is the DuckDB-oracle-parity plan.  The window
  shuffles Q×N scored rows, so it is the small/medium-Q plan.
- ``local_merge``: the 100 TB plan.  Queries are broadcast to executors once
  (sc.broadcast of a numpy matrix); ``mapInPandas`` computes a vectorized
  numpy score block per Arrow batch and keeps only the per-batch top-k per
  query, so the shuffle input collapses from Q×N rows to Q×k×(#batches);
  a final window over that reduced set yields the global top-k.  Scoring is
  BLAS matmul (float64), never a per-row Python loop.  A one-query batch
  merges with ``orderBy(...).limit(k)`` instead of the window: a
  TakeOrderedAndProject in which each partition keeps its k best rows and
  the driver merges them, with no exchange.

Ties are broken by ascending id in both strategies so results are
deterministic and oracle-comparable.
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


# shared guard (see plans/parallelism.py for the AQE-materialization note)
from hnsw_spark.plans.parallelism import (  # noqa: E402
    narrow_partition_count as _narrow_partition_count,
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
    emitted with the NaN-as-+inf transport encoding (see
    ``knn_local_merge_prepared``), decoded back to NaN here.

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
    strategy: str = "window",
) -> DataFrame:
    """Exact brute-force top-k: DataFrame[(query_id, id, score)].

    ``k <= 0`` → empty result (reference src/main.ts:258-260 guard); an empty
    base likewise yields zero rows with the same schema.
    """
    if metric not in ("cosine", "euclidean"):
        get_metric(metric)  # raises with the reference's message
    if k <= 0:
        return base.sparkSession.createDataFrame([], _RESULT_SCHEMA)
    if strategy == "window":
        return _knn_window(base, queries, k, metric, base_id, base_vec, query_id, query_vec)
    if strategy == "local_merge":
        return _knn_local_merge(base, queries, k, metric, base_id, base_vec, query_id, query_vec)
    raise ValueError(f"unknown strategy: {strategy!r}")


def _knn_window(base, queries, k, metric, base_id, base_vec, query_id, query_vec):
    sim = get_metric(metric)
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(query_vec).alias("_qvec"),
    )
    b = base.select(
        F.col(base_id).cast("long").alias("id"),
        F.col(base_vec).alias("_bvec"),
    )
    # A small parquet file reads as ONE split, which serializes the whole
    # Q×N scoring stage on one core (measured 4s for 64×2000 cosine).  Fan
    # out only when the scan yielded fewer splits than the session's
    # parallelism — at scale the corpus scan already produces thousands of
    # splits and this branch never fires, so the extra exchange only ever
    # moves a frame small enough to have collapsed below the core count.
    # Round-robin repartition leaves per-pair arithmetic bit-identical;
    # the top-k window re-establishes the (score desc, id asc) order.
    target = base.sparkSession.sparkContext.defaultParallelism
    nparts = _narrow_partition_count(b)
    if nparts is not None and nparts < target:
        b = b.repartition(target)
    scored = b.crossJoin(F.broadcast(q)).select(
        "query_id", "id", sim("_qvec", "_bvec").alias("score")
    )
    return _topk_window(scored, k)


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


def _knn_local_merge(base, queries, k, metric, base_id, base_vec, query_id, query_vec):
    qpd = queries.select(
        F.col(query_id).cast("long").alias("query_id"), F.col(query_vec).alias("v")
    ).toPandas()
    return knn_local_merge_prepared(base, qpd, k, metric, base_id, base_vec)


def knn_local_merge_prepared(
    base: DataFrame,
    qpd: pd.DataFrame,
    k: int,
    metric: str,
    base_id: str = "vec_id",
    base_vec: str = "embedding",
) -> DataFrame:
    """``local_merge`` over an ALREADY-COLLECTED query batch (pandas columns
    ``query_id``, ``v``) — callers that had to materialize the batch anyway
    (the ANN auto-dispatch probe bounds it with a limit+collect) reuse that
    one driver transfer instead of paying a second toPandas job."""
    spark = base.sparkSession
    if qpd.empty:  # np.stack rejects an empty batch; mirror the window path
        return spark.createDataFrame([], _RESULT_SCHEMA)
    q_ids = qpd["query_id"].to_numpy()
    qmat = np.ascontiguousarray(np.stack(qpd["v"].to_numpy()), dtype=np.float64)
    bq = spark.sparkContext.broadcast((q_ids, qmat))

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_l, qmat_l = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            bmat = np.ascontiguousarray(np.stack(pdf["v"].to_numpy()), dtype=np.float64)
            scores = _score_block(metric, qmat_l, bmat)  # (Q, N)
            # NaN (zero-norm cosine) must rank HIGHEST to match Catalyst's
            # sort order (Spark treats NaN as the largest double; numpy's
            # argpartition would instead sort it last) — selection uses +inf.
            sel = np.where(np.isnan(scores), np.inf, scores)
            # per-query local top-k; the global merge applies the exact
            # (score desc, id asc) order.  The emitted score uses the +inf
            # encoding too: pandas→Arrow turns NaN into NULL (which
            # desc-sorts LAST, silently dropping the row) — +inf survives the
            # boundary, sorts exactly where Catalyst puts NaN (largest), and
            # is unattainable for cosine/euclidean-similarity, so it is
            # decoded back to NaN after the merge.
            rows, cols = _local_topk(sel, ids, k)
            yield pd.DataFrame(
                {
                    "query_id": q_ids_l[rows],
                    "id": ids[cols],
                    "score": sel[rows, cols],
                }
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

    Plan: exact top-(k+1) via the window tier, drop the self-match, re-rank
    to k, then two keyed aggregations.  At scale the first stage swaps to
    the ``local_merge``/ANN tier unchanged — everything after the top-k is
    a (query_id, label) groupBy whose cardinality is Q×k.
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
    top-(k+1) pass via the vectorized ``local_merge`` tier (every row is a
    query, so the Q×N scored-row shuffle of the window tier is exactly the
    blowup local_merge exists to avoid — BLAS block scoring, per-batch
    top-k, Q×k×batches shuffle input), self-match dropped, re-ranked to k,
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
        strategy="local_merge",
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
