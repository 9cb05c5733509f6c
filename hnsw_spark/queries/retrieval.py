"""Hybrid retrieval query surface: RRF fusion of a vector arm and a text arm.

Rank determinism across engines: each arm orders by its score ROUNDED to six
decimals (with the id as tie-break) — raw float ordering would let last-bit
summation-order differences between Spark's fold and DuckDB's
list_dot_product reorder near-ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hnsw_spark.functions.similarity import cosine_similarity
from hnsw_spark.functions.text import words
from hnsw_spark.operators.retrieval import rrf_fuse
from hnsw_spark.queries.text import _W
from hnsw_spark.operators.evaluation import dquant
from hnsw_spark.registry import query
from hnsw_spark.plans.cachereg import owned_persist
from hnsw_spark.sources.tables import load_table

_ARM_N = 50
_TOP_N = 20
_RRF_K = 60

_COS = (
    "list_dot_product(e.embedding::DOUBLE[], pv.v)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(pv.v, pv.v)))"
)

_HYBRID_SQL = f"""
WITH pv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
arm_v AS (
  SELECT id, rank FROM (
    SELECT e.vec_id AS id,
           row_number() OVER (ORDER BY floor(({_COS}) * 1e6 + 0.5) DESC,
                              e.vec_id) AS rank
    FROM embeddings e, pv
  ) WHERE rank <= {_ARM_N}
),
dw AS (SELECT doc_id, list_distinct({_W}) AS w FROM documents),
pw AS (SELECT w FROM dw WHERE doc_id = 0),
arm_t AS (
  SELECT id, rank FROM (
    SELECT dw.doc_id AS id,
           row_number() OVER (ORDER BY
             floor(len(list_intersect(dw.w, pw.w))::DOUBLE
                   / len(list_distinct(dw.w || pw.w)) * 1e6 + 0.5) DESC,
             dw.doc_id) AS rank
    FROM dw, pw
  ) WHERE rank <= {_ARM_N}
),
fused AS (
  SELECT coalesce(arm_v.id, arm_t.id) AS id,
         coalesce(1.0 / ({_RRF_K} + arm_v.rank), 0.0)
           + coalesce(1.0 / ({_RRF_K} + arm_t.rank), 0.0) AS rrf
  FROM arm_v FULL OUTER JOIN arm_t ON arm_v.id = arm_t.id
)
SELECT id, CAST(floor(rrf * 1e6 + 0.5) AS BIGINT) AS rrf_fp FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, id) AS rn FROM fused
) WHERE rn <= {_TOP_N}
"""


@query("hybrid_rrf_search", _HYBRID_SQL)
def hybrid_rrf_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search for document/vector 0: reciprocal-rank fusion of a
    vector arm (embedding cosine vs vec 0, top-50) and a text arm (distinct
    word-set Jaccard vs doc 0, top-50), top-20 fused — the standard
    no-calibration hybrid retrieval stack (RRF), fully distributed: each arm
    is a broadcast-probe scoring pass + one window, fusion is one id join."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe_v = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_pv")
    )
    scored_v = emb.crossJoin(F.broadcast(probe_v)).select(
        F.col("vec_id").alias("id"),
        dquant(cosine_similarity("embedding", "_pv"), 6).alias("_c"),
    )
    # distributed TakeOrdered cuts to the arm size FIRST; the ranking window
    # then runs over ≤50 rows, so no global single-partition sort ever sees
    # the corpus (Window.orderBy without partitionBy would)
    wv = Window.orderBy(F.col("_c").desc(), F.col("id"))
    arm_v = (
        scored_v.orderBy(F.col("_c").desc(), F.col("id"))
        .limit(_ARM_N)
        .withColumn("rank", F.row_number().over(wv))
        .select("id", "rank")
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.array_distinct(words("text")).alias("w")
    )
    probe_t = docs.filter(F.col("id") == 0).select(F.col("w").alias("_pw"))
    scored_t = docs.crossJoin(F.broadcast(probe_t)).select(
        "id",
        dquant(
            F.size(F.array_intersect("w", "_pw")).cast("double")
            / F.size(F.array_union("w", "_pw")),
            6,
        ).alias("_j"),
    )
    wt = Window.orderBy(F.col("_j").desc(), F.col("id"))
    arm_t = (
        scored_t.orderBy(F.col("_j").desc(), F.col("id"))
        .limit(_ARM_N)
        .withColumn("rank", F.row_number().over(wt))
        .select("id", "rank")
    )

    fused = rrf_fuse([arm_v, arm_t], k=_RRF_K)
    # fused is ≤ 2·ARM_N rows — the final cut is trivially small
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("id"))
        .limit(_TOP_N)
        .select("id", dquant("rrf", 6).alias("rrf_fp"))
    )


_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest({_W}) AS token FROM documents
),
tok2 AS (SELECT * FROM tok WHERE token != ''),
dlen AS (SELECT id, count(*)::BIGINT AS dl FROM tok2 GROUP BY id),
stats AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dlen
),
qtok AS (
  SELECT DISTINCT unnest(list_slice({_W}, 1, 4)) AS token
  FROM documents WHERE doc_id = 0
),
qtf AS (
  SELECT id, token, count(*)::BIGINT AS tf
  FROM tok2 JOIN qtok USING (token) GROUP BY id, token
),
qdf AS (SELECT token, count(*)::BIGINT AS df FROM qtf GROUP BY token),
per AS (
  SELECT qtf.id,
         floor((ln((stats.n_docs - qdf.df + 0.5) / (qdf.df + 0.5) + 1.0)
                * (qtf.tf * 2.2))
               / (qtf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))
               * 1000000.0 + 0.5)::BIGINT AS q
  FROM qtf JOIN qdf USING (token)
  JOIN dlen ON qtf.id = dlen.id
  CROSS JOIN stats
)
SELECT id, (sum(q))::DOUBLE / 1000000.0 AS bm25 FROM per GROUP BY id
"""


@query("bm25_search", _BM25_SQL)
def bm25_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scores for the query built from doc 0's first four words,
    over every matching document.  Candidate generation broadcasts the tiny
    query token set into the exploded corpus (non-query terms drop before
    any shuffle); per-doc scores accumulate fixed-point so the result is
    engine-invariant and oracle-exact at any scale."""
    from hnsw_spark.operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    qtok = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(F.slice(words("text"), 1, 4)).alias("token"))
        .distinct()
    )
    return bm25_scores(docs, qtok)


_MMR_R, _MMR_K, _MMR_LN, _MMR_LD, _MMR_SCALE = 20, 10, 7, 10, 9
_MMR_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _mmr_sql() -> str:
    """Unrolled greedy MMR oracle: one CTE pair per step, integer scores."""
    q = lambda e: f"floor(({e}) * 1e{_MMR_SCALE} + 0.5)::BIGINT"  # noqa: E731
    pen = _MMR_LD - _MMR_LN
    cos_qb = _MMR_COS.format(a="q.qv", b="b.bv")
    cos_ab = _MMR_COS.format(a="x.av", b="y.bv")
    parts = [
        f"""
WITH qset AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 8
), base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings
), scored AS MATERIALIZED (
  SELECT q.query_id, b.id, b.bv, {cos_qb} AS sc
  FROM qset q CROSS JOIN base b
), cand AS MATERIALIZED (
  SELECT query_id, id, bv, {q('sc')} AS rel_q
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sc DESC, id) AS rn
        FROM scored)
  WHERE rn <= {_MMR_R}
), sims AS MATERIALIZED (
  SELECT x.query_id, x.id AS id_a, y.id AS id_b, {q(cos_ab)} AS sim_q
  FROM (SELECT query_id, id, bv AS av FROM cand) x
  JOIN (SELECT query_id, id, bv FROM cand) y USING (query_id)
), pick1 AS MATERIALIZED (
  SELECT query_id, id, 1 AS mmr_rank, {_MMR_LN} * rel_q AS score_q
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY {_MMR_LN} * rel_q DESC, id) AS rn
        FROM cand)
  WHERE rn = 1
)"""
    ]
    prev_union = "SELECT query_id, id FROM pick1"
    for step in range(2, _MMR_K + 1):
        parts.append(
            f""", p{step} AS MATERIALIZED ({prev_union}
), s{step} AS MATERIALIZED (
  SELECT c.query_id, c.id,
         {_MMR_LN} * c.rel_q - {pen} * coalesce(mx.m, 0) AS score_q
  FROM cand c
  LEFT JOIN (SELECT s.query_id, s.id_a AS id, max(s.sim_q) AS m
             FROM sims s JOIN p{step} p
               ON p.query_id = s.query_id AND p.id = s.id_b
             GROUP BY s.query_id, s.id_a) mx
    ON mx.query_id = c.query_id AND mx.id = c.id
  WHERE NOT EXISTS (SELECT 1 FROM p{step} p
                    WHERE p.query_id = c.query_id AND p.id = c.id)
), pick{step} AS MATERIALIZED (
  SELECT query_id, id, {step} AS mmr_rank, score_q
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_q DESC, id) AS rn
        FROM s{step})
  WHERE rn = 1
)"""
        )
        prev_union += f" UNION ALL SELECT query_id, id FROM pick{step}"
    final = " UNION ALL ".join(
        f"SELECT * FROM pick{s}" for s in range(1, _MMR_K + 1)
    )
    parts.append(
        f"""
SELECT query_id, id, mmr_rank, score_q
FROM ({final})"""
    )
    return "".join(parts)


@query("mmr_diversified", _mmr_sql())
def mmr_diversified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank of the top-20 cosine shortlist per query
    (λ=0.7, k=10; operators/retrieval.py:diversify_mmr).  Greedy argmax
    chains amplify any cross-engine float drift, so rel and pairwise sims
    are fixed-point-quantized in Catalyst BEFORE the greedy loop — Spark's
    applyInPandas integer greedy and the oracle's unrolled 10-step CTE
    chain then provably agree step for step.  The corpus appears only in
    the shortlist stage; MMR itself touches Q×R² skinny rows."""
    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.operators.retrieval import diversify_mmr

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    cand = knn_exact(emb, qs, k=_MMR_R).select(
        "query_id", "id", F.col("score").alias("rel")
    )
    vecs = emb.select(F.col("vec_id").alias("id"), "embedding")
    cvec = cand.join(vecs, "id").select("query_id", "id", "embedding")
    a = cvec.select(
        "query_id", F.col("id").alias("id_a"), F.col("embedding").alias("_va")
    )
    b = cvec.select(
        F.col("query_id").alias("_qb"),
        F.col("id").alias("id_b"),
        F.col("embedding").alias("_vb"),
    )
    pairs = a.join(b, a["query_id"] == b["_qb"]).select(
        "query_id", "id_a", "id_b",
        cosine_similarity("_va", "_vb").alias("sim"),
    )
    res = diversify_mmr(
        cand, pairs, k=_MMR_K, lam_num=_MMR_LN, lam_den=_MMR_LD,
        scale=_MMR_SCALE,
    )
    # score_q is ALREADY an exact fixed-point BIGINT (scale+1 digits) —
    # emit it directly, no float round-trip
    return res.select("query_id", "id", "mmr_rank", "score_q")


_RQ_NQ, _RQ_K = 8, 10

_EUC = "1.0 / (1.0 + list_distance(qv, bv))"

# Fixed-point convention: per-hit DCG gains quantize to BIGINT BEFORE
# summing (integer sums are engine/partition-order-invariant; double sums
# are not), so dcg/idcg compare exactly and ndcg is a ratio of identical
# integers.  ln(x)/ln(2) is written out the same way in both engines.
_RANKQ_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_RQ_NQ}
), b AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings
), sys AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_EUC} DESC, id ASC) AS rank
  FROM q CROSS JOIN b
), rel AS (
  SELECT query_id, id, ({_RQ_K} + 1 - rn)::DOUBLE AS rel FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY list_dot_product(qv, bv)
                                / (sqrt(list_dot_product(qv, qv))
                                   * sqrt(list_dot_product(bv, bv)))
                                DESC, id ASC) AS rn
    FROM q CROSS JOIN b
  ) WHERE rn <= {_RQ_K}
), hits AS (
  SELECT s.query_id, s.rank,
         floor(r.rel / (ln(s.rank + 1.0) / ln(2.0)) * 1000000.0 + 0.5)::BIGINT
           AS gain
  FROM sys s JOIN rel r ON s.query_id = r.query_id AND s.id = r.id
  WHERE s.rank <= {_RQ_K}
), perq AS (
  SELECT query_id, count(*)::INT AS hits_at_k, min(rank) AS minr,
         sum(gain)::BIGINT AS dcg_fp
  FROM hits GROUP BY query_id
), ideal AS (
  SELECT query_id, count(*)::INT AS n_judged,
         sum(floor(rel / (ln(irank + 1.0) / ln(2.0)) * 1000000.0 + 0.5)::BIGINT)::BIGINT
           AS idcg_fp
  FROM (
    SELECT query_id, rel, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, id ASC) AS irank
    FROM rel
  ) WHERE irank <= {_RQ_K} GROUP BY query_id
)
SELECT i.query_id, i.n_judged,
       coalesce(p.hits_at_k, 0)::INT AS hits_at_k,
       floor(coalesce(1.0 / p.minr, 0.0) * 1000000.0 + 0.5)::BIGINT AS mrr_fp,
       coalesce(p.dcg_fp, 0)::BIGINT AS dcg_fp,
       i.idcg_fp,
       floor(CASE WHEN i.idcg_fp > 0
                  THEN coalesce(p.dcg_fp, 0)::DOUBLE / i.idcg_fp::DOUBLE
                  ELSE 0.0 END * 1000000.0 + 0.5)::BIGINT AS ndcg_fp
FROM ideal i LEFT JOIN perq p USING (query_id)
"""


@query("retrieval_quality_metrics", _RANKQ_SQL)
def retrieval_quality_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + nDCG@10 ranking-quality evaluation (operators/ranking.py):
    the system under test is the euclidean-similarity ranking, judged
    against graded relevance derived from the cosine top-10 (rel =
    11 − cosine-rank) — two real rankings whose partial agreement makes
    every metric non-trivial.  Per-hit DCG gains quantize to fixed-point
    BIGINT before summation (gain_scale), so dcg/idcg are exact integers
    in both engines and ndcg is a ratio of identical values; mrr is the
    exact rational 1/first-hit-rank."""
    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.operators.ranking import ranking_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _RQ_NQ)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    sys_ranked = knn_exact(emb, qs, k=_RQ_K, metric="euclidean").withColumn(
        "rank", F.row_number().over(w)
    )
    # cosine ground truth = the memoized exact top-k frame (same nq=8,
    # k=10, cosine — deterministic, so sharing changes no values;
    # VERDICT r11 #6): one corpus scoring pass instead of two
    from hnsw_spark.queries.index import cached_exact_topk

    qrels = (
        cached_exact_topk(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "id",
            (F.lit(_RQ_K + 1) - F.col("rank")).cast("double").alias("rel"),
        )
    )
    m = ranking_metrics(
        sys_ranked, qrels, k=_RQ_K, gain_scale=1_000_000
    )
    return m.select(
        "query_id",
        "n_judged",
        "hits_at_k",
        F.floor(F.col("mrr") * 1e6 + F.lit(0.5)).cast("bigint").alias("mrr_fp"),
        F.col("dcg").alias("dcg_fp"),
        F.col("idcg").alias("idcg_fp"),
        F.floor(F.col("ndcg") * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("ndcg_fp"),
    )


_PRF_FB_K, _PRF_TERMS, _PRF_TOP = 10, 4, 10

# shared corpus CTEs (identical to _BM25_SQL's) + a parameterized per-term
# scorer so the seed pass and the expanded pass stay structurally one
# definition
_PRF_CORPUS = f"""
tok AS (
  SELECT doc_id AS id, unnest({_W}) AS token FROM documents
),
tok2 AS (SELECT * FROM tok WHERE token != ''),
dlen AS (SELECT id, count(*)::BIGINT AS dl FROM tok2 GROUP BY id),
stats AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dlen
)
"""


def _prf_bm25_ctes(qcte: str, prefix: str) -> str:
    return f""",
{prefix}tf AS (
  SELECT id, token, count(*)::BIGINT AS tf
  FROM tok2 JOIN {qcte} USING (token) GROUP BY id, token
),
{prefix}df AS (SELECT token, count(*)::BIGINT AS df FROM {prefix}tf GROUP BY token),
{prefix}per AS (
  SELECT {prefix}tf.id,
         floor((ln((stats.n_docs - {prefix}df.df + 0.5) / ({prefix}df.df + 0.5) + 1.0)
                * ({prefix}tf.tf * 2.2))
               / ({prefix}tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))
               * 1000000.0 + 0.5)::BIGINT AS q
  FROM {prefix}tf JOIN {prefix}df USING (token)
  JOIN dlen ON {prefix}tf.id = dlen.id
  CROSS JOIN stats
),
{prefix}score AS (
  SELECT id, (sum(q))::DOUBLE / 1000000.0 AS bm25 FROM {prefix}per GROUP BY id
)
"""


_PRF_SQL = (
    "WITH "
    + _PRF_CORPUS
    + f""",
qtok0 AS (
  SELECT DISTINCT unnest(list_slice({_W}, 1, 4)) AS token
  FROM documents WHERE doc_id = 0
)"""
    + _prf_bm25_ctes("qtok0", "a")
    + f""",
fb AS (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS rn FROM ascore
  ) WHERE rn <= {_PRF_FB_K}
),
df_all AS (
  SELECT token, count(DISTINCT id)::BIGINT AS df FROM tok2 GROUP BY token
),
tf_fb AS (
  SELECT token, count(*)::BIGINT AS tf_total
  FROM tok2 JOIN fb USING (id)
  WHERE token NOT IN (SELECT token FROM qtok0)
  GROUP BY token
),
expanded AS (
  SELECT token FROM (
    SELECT t.token,
           row_number() OVER (
             ORDER BY t.tf_total
               * floor(ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                       * 1000000.0 + 0.5)::BIGINT DESC,
             t.token) AS rn
    FROM tf_fb t JOIN df_all d USING (token) CROSS JOIN stats
  ) WHERE rn <= {_PRF_TERMS}
),
qtok1 AS (SELECT token FROM qtok0 UNION SELECT token FROM expanded)"""
    + _prf_bm25_ctes("qtok1", "b")
    + f"""
SELECT id, bm25, rank FROM (
  SELECT id, bm25, row_number() OVER (ORDER BY bm25 DESC, id) AS rank
  FROM bscore
) WHERE rank <= {_PRF_TOP}
"""
)


@query("query_expansion_prf", _PRF_SQL)
def query_expansion_prf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval: BM25 for doc 0's four-word seed
    query, top-4 expansion terms mined from the top-10 feedback docs by
    fixed-point tf·idf mass (seed terms excluded), then BM25 re-run with
    the expanded query — top-10 (id, bm25, rank).  The classic
    no-supervision recall booster between a raw query and a dense
    re-ranker (operators/retrieval.py:prf_expansion_terms).

    Scale shape: both BM25 passes broadcast their (tiny) token sets into
    ONE shared persisted corpus explode (``bm25_corpus``) — seed scoring,
    expansion mining, and the expanded re-run all read the same tok/dlen
    frames, so the corpus is tokenized once; the feedback set is 10
    broadcast ids."""
    from hnsw_spark.operators.retrieval import (
        bm25_corpus,
        bm25_scores_from,
        prf_expansion_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    qtok = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(F.slice(words("text"), 1, 4)).alias("token"))
        .distinct()
    )
    tok, dlen, stats = bm25_corpus(docs)
    tok = owned_persist(tok)
    dlen = owned_persist(dlen)
    exp = prf_expansion_terms(
        docs,
        qtok,
        feedback_k=_PRF_FB_K,
        n_terms=_PRF_TERMS,
        corpus=(tok, dlen, stats),
    )
    qtok1 = qtok.union(exp.select("token")).distinct()
    scores = bm25_scores_from(tok, dlen, stats, qtok1)
    w = Window.orderBy(F.col("bm25").desc(), "id")
    return (
        scores.orderBy(F.col("bm25").desc(), "id")
        .limit(_PRF_TOP)
        .withColumn("rank", F.row_number().over(w))
        .select("id", "bm25", "rank")
    )


_PSG_TOP = 10


def _passage_sql() -> str:
    from hnsw_spark.queries.pipeline import _CHUNK_SQL

    return f"""
WITH chunks AS (
  SELECT doc_id, chunk_id, chunk_text FROM ({_CHUNK_SQL})
),
qtok AS (
  SELECT list_distinct(list_slice({_W}, 1, 4)) AS ql
  FROM documents WHERE doc_id = 0
),
scored AS (
  SELECT c.doc_id, c.chunk_id,
         len(list_intersect(
           list_distinct(string_split_regex(trim(lower(c.chunk_text)), '\\s+')),
           q.ql))::BIGINT AS chunk_score
  FROM chunks c CROSS JOIN qtok q
),
best AS (
  SELECT doc_id, chunk_id AS best_chunk, chunk_score FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY chunk_score DESC, chunk_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT doc_id, best_chunk, chunk_score, rank FROM (
  SELECT *, row_number() OVER (ORDER BY chunk_score DESC, doc_id) AS rank
  FROM best
) WHERE rank <= {_PSG_TOP}
"""


@query("passage_search_maxpool", _passage_sql())
def passage_search_maxpool_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level retrieval with document max-pooling: the corpus is
    chunked into overlapping 128-token windows (the SAME chunker the RAG
    write side uses — operators/packing.py:chunk_documents), each chunk
    scored by distinct-overlap with doc 0's four-token probe, and each
    document represented by its best passage (ties → earliest chunk);
    top-10 docs by (score, doc_id).  This is the standard long-document
    retrieval shape: score passages, pool max per parent.

    Scale shape: chunking + scoring fuse into the scan stage (no shuffle
    until the per-doc max window, which shuffles once on doc_id); the
    probe token list is a one-row broadcast."""
    from hnsw_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=128, overlap=32).select(
        "doc_id", "chunk_id", "chunk_text"
    )
    qtok = docs.filter(F.col("doc_id") == 0).select(
        F.array_distinct(F.slice(words("text"), 1, 4)).alias("ql")
    )
    scored = chunks.crossJoin(F.broadcast(qtok)).select(
        "doc_id",
        "chunk_id",
        F.size(
            F.array_intersect(
                F.array_distinct(words("chunk_text")), F.col("ql")
            )
        ).cast("long").alias("chunk_score"),
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("chunk_score").desc(), "chunk_id"
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("chunk_id").alias("best_chunk"), "chunk_score")
    )
    w = Window.orderBy(F.col("chunk_score").desc(), "doc_id")
    return (
        best.orderBy(F.col("chunk_score").desc(), "doc_id")
        .limit(_PSG_TOP)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "best_chunk", "chunk_score", "rank")
    )


# ---- exact phrase search ------------------------------------------------------

_PHRASE = "table scan"

_PHRASE_SQL = f"""
WITH w AS (SELECT doc_id, {_W} AS w FROM documents),
pos AS (
  SELECT doc_id AS id, p.p AS pos, w[p.p] AS tok
  FROM w, unnest(generate_series(1, len(w))) AS p(p)
),
a AS (SELECT id, pos FROM pos WHERE tok = 'table'),
b AS (SELECT id, pos FROM pos WHERE tok = 'scan')
SELECT a.id AS doc_id, count(*)::BIGINT AS n_occurrences,
       min(a.pos)::BIGINT AS first_pos
FROM a JOIN b ON b.id = a.id AND b.pos = a.pos + 1
GROUP BY a.id
"""


@query("phrase_search", _PHRASE_SQL)
def phrase_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("table scan") over a positional token
    index: per matching document, the occurrence count and the 1-based
    position of the first occurrence — the consecutive-token semantics
    BM25's bag-of-words scoring cannot express
    (operators/retrieval.py:phrase_match)."""
    from hnsw_spark.operators.retrieval import phrase_match

    docs = load_table(spark, sf_dir, "documents")
    out = phrase_match(docs, _PHRASE)
    return out.select(
        "doc_id",
        F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        "first_pos",
    )
