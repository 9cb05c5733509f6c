"""Scoped ownership for operator-internal persists (VERDICT r7 #6).

A few multi-consumer operators must ``persist()`` an intermediate frame
because Spark does not common-subexpression-eliminate a shared subtree
(each consumer would otherwise re-scan and re-derive it): the shingle
table under ``containment_pairs`` / ``jaccard_prefix_pairs``, the tf /
weight tables under ``tfidf_doc_similarity``, the positional index under
``phrase_match``.  Those operators return LAZY frames built over the
persist, so they cannot unpersist before the caller's action runs — and a
long-lived library session that forgets ``spark.catalog.clearCache()``
would accumulate storage memory monotonically.

``owned_persist`` keeps the persist but records the handle in a module
registry; ``release_caches()`` is the scoped terminal action the owner (or
any caller, or a harness between queries) invokes once its action has run —
it unpersists exactly the operator-internal frames, never the caller's own
caches, which a global ``clearCache()`` would also blow away (e.g. a warm
ANN index).  Exposed as ``hnsw_spark.release_caches``.

``session_memo`` is the one memo for values the registry shares across
queries (built indexes, the exact top-k ground truth, BPE merges): keyed on
the live session's applicationId plus the caller's key.  ``recache``
re-marks a memoized frame after a ``clearCache()`` unmarked it.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_OWNED: list[DataFrame] = []
_MEMO: dict[tuple, object] = {}
_T = TypeVar("_T")


def is_cached(df: DataFrame) -> bool:
    """Whether ``df``'s plan is marked to cache (``spark.catalog.
    clearCache()`` unmarks the plan, not just its blocks)."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def recache(df: DataFrame) -> DataFrame:
    """Re-mark a memoized frame that a ``clearCache()`` unmarked — lazily:
    the next action materializes it once.  Without this a memo would serve
    an uncached frame forever, and every consumer would recompute it."""
    if not is_cached(df):
        df.cache()
    return df


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], _T]) -> _T:
    """``build()``, computed once per ``key`` in the live session.  The key
    always leads with the session's applicationId (ADVICE r12 #3): a
    stop+recreate of the SparkSession in one process misses, instead of
    serving a value bound to a dead JVM context."""
    key = (spark.sparkContext.applicationId, *key)
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def owned_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist(...)`` whose handle the LIBRARY owns: recorded so
    ``release_caches()`` can unpersist it after the caller's terminal
    action, without the caller having to know the operator's internals."""
    from pyspark.storagelevel import StorageLevel

    p = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _OWNED.append(p)
    return p


def release_caches() -> int:
    """Unpersist every library-owned intermediate registered since the last
    release; returns how many were released.  Non-blocking, idempotent,
    and scoped: caller-owned caches (indexes, ``bm25_corpus`` handles) are
    untouched."""
    n = 0
    while _OWNED:
        df = _OWNED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to free
    return n
