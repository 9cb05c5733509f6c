"""Streaming target-encoding twin (streaming/encoding.py): the mergeable
per-category stats maintained over epochs must leave ``encode`` exactly
equal to the one-shot batch operator — including under epoch replays,
out-of-order category arrival, NULL categories/targets, and empty
batches; state must stay one row per category with old versions pruned."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hnsw_spark.operators.encoding import target_encode_loo
from hnsw_spark.streaming.encoding import StreamingTargetEncoder

_SCHEMA = "row_id long, cat string, y double"

_ROWS = [
    (1, "a", 1.0),
    (2, "a", 3.0),
    (3, "b", 100.0),
    (4, None, 2.0),     # NULL category
    (5, "b", None),     # NULL target (not label evidence)
    (6, "c", 7.5),
    (7, "a", 2.25),
    (8, "c", 0.0),
]


@pytest.fixture()
def tmp_stats():
    d = tempfile.mkdtemp(prefix="ste_test_")
    yield os.path.join(d, "stats")
    shutil.rmtree(d, ignore_errors=True)


def _encoded(df):
    return {r["row_id"]: r["te_fp"] for r in df.select("row_id", "te_fp").collect()}


def test_stray_empty_version_dir(spark, tmp_stats):
    """VERDICT r13 #9: a committed-looking ``_v=N`` directory WITHOUT data
    files (crash between mkdir and commit-rename, or a planted stray) must
    be invisible to directory-listing version discovery, exactly as it is
    to the read-based distinct fallback — otherwise ``_stats_before``
    would select the stray as the latest prior and serve an EMPTY state."""
    from hnsw_spark.streaming.sketch import _partition_versions

    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    ste.process_batch(df, 0)
    # plant a stray committed-looking version above the real one: empty,
    # and one holding only hidden/metadata entries (the crash shapes)
    os.makedirs(os.path.join(tmp_stats, "_v=99"))
    os.makedirs(os.path.join(tmp_stats, "_v=100"))
    open(os.path.join(tmp_stats, "_v=100", "_SUCCESS"), "w").close()
    listed = _partition_versions(tmp_stats, "_v=")
    spark_side = sorted(
        r["_v"]
        for r in spark.read.parquet(tmp_stats).select("_v").distinct().collect()
    )
    assert sorted(listed) == spark_side == [0]
    # the serving read still sees version 0's stats, not an empty frame
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want


def test_stream_equals_batch_with_replay(spark, tmp_stats):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    epochs = [df.filter(F.col("row_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(epochs):
        ste.process_batch(b, i)
    # replay the LATEST epoch (the foreachBatch retry case the replay
    # window retains state for — its prior version survives the prune)
    ste.process_batch(epochs[2], 2)
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want


def test_latest_epoch_replay_survives_empty_epoch_gap(spark, tmp_stats):
    """Code-review r11: an empty micro-batch writes no version, so the
    latest epoch's TRUE prior can sit any numeric distance below it — the
    prune must keep that actual prior (newest surviving version < epoch),
    or a legitimate retry of the latest epoch would be refused and kill
    the stream on every restart."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    first = df.filter(F.col("row_id") <= 4)
    rest = df.filter(F.col("row_id") > 4)
    ste.process_batch(first, 0)
    ste.process_batch(df.limit(0), 1)  # empty epoch: no version written
    ste.process_batch(rest, 2)
    # version 0 (epoch 2's actual prior) must survive the epoch-2 prune
    versions = {
        int(d[3:]) for d in os.listdir(tmp_stats) if d.startswith("_v=")
    }
    assert versions == {0, 2}
    ste.process_batch(rest, 2)  # the retry the guard must NOT refuse
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want


def test_prune_keeps_real_prior_past_stray_empty_version(spark, tmp_stats):
    """A stray empty ``_v=N`` between the real prior and the live epoch
    must not pose as the prior: the prune used to keep it and delete the
    real prior, so a retry of the latest epoch rebuilt the state from its
    batch alone."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    first = df.filter(F.col("row_id") <= 4)
    rest = df.filter(F.col("row_id") > 4)
    ste.process_batch(first, 0)
    os.makedirs(os.path.join(tmp_stats, "_v=1"))  # crash shape: no data
    ste.process_batch(rest, 2)
    assert os.path.isdir(os.path.join(tmp_stats, "_v=0"))
    ste.process_batch(rest, 2)  # the retry reads version 0 as its prior
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want


def test_serving_frame_without_label_column(spark, tmp_stats):
    """Code-review r11: row_in_stats=False never reads the target, so an
    UNLABELED serving frame (no label column at all) must encode."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=0, scale=4)
    ste.process_batch(df, 0)
    serving = spark.createDataFrame(
        [(100, "a"), (101, "zzz"), (102, None)], "row_id long, cat string"
    )
    got = _encoded(ste.encode(serving, row_in_stats=False))
    # 'a' has labels 1.0, 3.0, 2.25 -> plain mean; unseen/NULL -> global
    assert got[100] == (10000 + 30000 + 22500) // 3
    labeled = [1.0, 3.0, 100.0, 2.0, 7.5, 2.25, 0.0]
    gmean = sum(int(v * 10000) for v in labeled) // len(labeled)
    assert got[101] == gmean and got[102] == gmean


def test_first_nonempty_epoch_retry_not_refused(spark, tmp_stats):
    """ADVICE r11: a foreachBatch retry of the FIRST non-empty epoch
    (epoch_id > 0 after empty micro-batches, so no prior version ever
    existed) sees only its own committed version — rebuilding it from the
    batch alone is exactly correct (its true prior state was empty), so
    the replay guard must not trip and kill the stream on restart."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    ste.process_batch(df.limit(0), 0)  # empty epoch: no version written
    ste.process_batch(df, 1)           # first non-empty epoch
    ste.process_batch(df, 1)           # the retry the guard must NOT refuse
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want
    # exactly one stats version survives — the retry overwrote itself
    versions = {
        int(d[3:]) for d in os.listdir(tmp_stats) if d.startswith("_v=")
    }
    assert versions == {1}


def test_replay_outside_retained_window_raises(spark, tmp_stats):
    """ADVICE r10: replaying an epoch whose prior version was pruned would
    silently rebuild that version from the batch alone — the encoder must
    refuse instead of corrupting state."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5, scale=4)
    epochs = [df.filter(F.col("row_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(epochs):
        ste.process_batch(b, i)
    # after epoch 2 the prune keeps versions {1, 2}; epoch 1's prior
    # (version 0) is gone, so its replay must be rejected
    with pytest.raises(ValueError, match="outside the retained"):
        ste.process_batch(epochs[1], 1)
    # and the live stats are untouched by the refused replay
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=5, scale=4))
    assert got == want


def test_state_is_one_row_per_category_and_pruned(spark, tmp_stats):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=5)
    for i in range(4):
        ste.process_batch(df.filter(F.col("row_id") % 4 == i), i)
    live = ste.stats(spark)
    # categories: a, b, c, NULL — one stats row each
    assert live.count() == 4
    assert live.groupBy("cat").count().agg(F.max("count")).first()[0] == 1
    # old versions pruned to the replay window (>= epoch - 1)
    versions = sorted(
        int(d[3:]) for d in os.listdir(tmp_stats) if d.startswith("_v=")
    )
    assert versions == [2, 3]
    # NULL-target rows are not label evidence
    b_row = live.filter(F.col("cat") == "b").first()
    assert b_row["_cat_n"] == 1 and int(b_row["_cat_sum"]) == 1_000_000


def test_empty_batch_is_noop_and_late_categories_merge(spark, tmp_stats):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ste = StreamingTargetEncoder(tmp_stats, "cat", "y", alpha=0)
    ste.process_batch(df.filter(F.col("cat") == "a"), 0)
    ste.process_batch(df.limit(0), 1)  # empty epoch: no version written
    # NB: a bare `cat != 'a'` would silently drop the NULL-category row
    # (three-valued logic) — the null-safe form keeps it in the stream
    ste.process_batch(df.filter(~F.col("cat").eqNullSafe("a")), 2)
    versions = {
        int(d[3:]) for d in os.listdir(tmp_stats) if d.startswith("_v=")
    }
    assert 1 not in versions
    got = _encoded(ste.encode(df))
    want = _encoded(target_encode_loo(df, "cat", "y", alpha=0))
    assert got == want


def test_registered_gate_green(spark):
    from hnsw_spark.queries.relational import (
        target_encode_loo_q,
        target_encode_stream_gate_q,
    )

    sf = "/root/testdata/sf0.001"
    streamed = target_encode_stream_gate_q(spark, sf)
    batch = target_encode_loo_q(spark, sf)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
