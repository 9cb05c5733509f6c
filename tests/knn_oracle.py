"""Test-local exact kNN oracle: the Catalyst crossJoin + window plan.

``knn_exact`` has one plan, BLAS block scoring with a per-batch top-k
merge (``local_merge``).  Tests whose subject is that kernel, or a path
built on it (``_batch_topk``, ``merge_local_topk``, the IVF BLAS scorer,
the HNSW auto-exact route), compare against this independent plan instead
of against the kernel itself: every pair is scored by the same
left-to-right Catalyst expression the DuckDB oracles mirror, and the top k
per query is a ``row_number`` over (score desc, id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.functions.similarity import get_metric
from hnsw_spark.operators.knn import _topk_window
from hnsw_spark.plans.parallelism import narrow_partition_count


def knn_window(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    *,
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k as DataFrame[(query_id, id, score)], the same contract
    as ``knn_exact``."""
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
    # parallelism.  Round-robin repartition leaves per-pair arithmetic
    # bit-identical; the top-k window re-establishes the (score desc,
    # id asc) order.
    target = base.sparkSession.sparkContext.defaultParallelism
    nparts = narrow_partition_count(b)
    if nparts is not None and nparts < target:
        b = b.repartition(target)
    scored = b.crossJoin(F.broadcast(q)).select(
        "query_id", "id", sim("_qvec", "_bvec").alias("score")
    )
    return _topk_window(scored, k)
