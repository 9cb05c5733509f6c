"""StreamingTrailingFeatures: batch==stream parity, replay idempotence,
tail-state bounding, and the writeStream API path."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import SparkSession

from hnsw_spark.operators.features import trailing_window_features
from hnsw_spark.streaming.features import StreamingTrailingFeatures


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()


FEATS = ["event_id", "n_3600s", "sum_3600s_fp", "n_86400s", "sum_86400s_fp"]


def _batch_truth(events):
    out = trailing_window_features(
        events, horizons_s=[3600, 86400], by="user_id", ts_col="ts",
        value_col="value", scale=4,
    )
    return {tuple(r) for r in out.select(*FEATS).collect()}


def test_stream_epochs_with_replay_equal_batch(spark, events, tmp_path):
    stf = StreamingTrailingFeatures(
        str(tmp_path / "out"), str(tmp_path / "tail"),
        horizons_s=[3600, 86400], scale=4,
    )
    b0, b1 = "2024-01-11 00:00:00", "2024-01-21 00:00:00"
    epochs = (
        events.filter(F.col("ts") < b0),
        events.filter((F.col("ts") >= b0) & (F.col("ts") < b1)),
        events.filter(F.col("ts") >= b1),
    )
    for i, b in enumerate(epochs):
        stf.process_batch(b, i)
    stf.process_batch(epochs[2], 2)  # retry replay must be a no-op
    stf.process_batch(epochs[2].limit(0), 3)  # empty epoch: skipped
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select(*FEATS)
        .collect()
    }
    assert got == _batch_truth(events)
    # tail state is bounded: only events within the max horizon of the
    # high watermark survive, and old versions are dropped (<= 2 kept)
    tail = spark.read.parquet(str(tmp_path / "tail"))
    versions = {r["_v"] for r in tail.select("_v").distinct().collect()}
    assert versions <= {1, 2} and 2 in versions
    hw = events.agg(F.max("ts")).first()[0]
    live = tail.filter(F.col("_v") == 2)
    oldest = live.agg(F.min("ts")).first()[0]
    assert (hw - oldest).total_seconds() <= 86400


def test_prune_keeps_real_prior_tail_past_stray_empty_version(
    spark, events, tmp_path
):
    """A stray empty tail ``_v=N`` (crash shape) must not decide which
    prior tail survives: the epoch-2 prune used to keep only versions
    >= 1 and delete tail 0, the real prior a retry of epoch 2 reads."""
    import os

    stf = StreamingTrailingFeatures(
        str(tmp_path / "out"), str(tmp_path / "tail"),
        horizons_s=[3600, 86400], scale=4,
    )
    b0 = "2024-01-11 00:00:00"
    stf.process_batch(events.filter(F.col("ts") < b0), 0)
    os.makedirs(str(tmp_path / "tail" / "_v=1"))
    later = events.filter(F.col("ts") >= b0)
    stf.process_batch(later, 2)
    assert (tmp_path / "tail" / "_v=0").is_dir()
    stf.process_batch(later, 2)  # retry: must see tail 0 as its prior
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select(*FEATS)
        .collect()
    }
    assert got == _batch_truth(events)


def test_single_epoch_equals_batch(spark, events, tmp_path):
    # one epoch == plain batch backfill (no tail exists yet)
    stf = StreamingTrailingFeatures(
        str(tmp_path / "out1"), str(tmp_path / "tail1"),
        horizons_s=[3600, 86400], scale=4,
    )
    stf.process_batch(events, 0)
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out1"))
        .select(*FEATS)
        .collect()
    }
    assert got == _batch_truth(events)


def test_allowed_lateness_contract(spark, events, tmp_path):
    """ADVICE r9: a row arriving with lateness ℓ > 0 has a trailing frame
    reaching below hw − W, where the default tail has already dropped
    events.  With ``allowed_lateness_s`` ≥ ℓ the tail retains W + ℓ and the
    late rows' features are EXACTLY the batch backfill's; with the default
    in-order contract (0) the same arrival order visibly undercounts —
    proving the knob changes behavior, not just the docstring."""
    c1, c2 = "2024-01-15 00:00:00", "2024-01-16 00:00:00"
    late = events.filter((F.col("ts") >= c1) & (F.col("ts") < c2))
    rest = events.filter((F.col("ts") < c1) | (F.col("ts") >= c2))
    assert late.count() > 0
    hw0 = rest.agg(F.max("ts")).first()[0]
    import datetime

    lateness = int(
        (hw0 - datetime.datetime.fromisoformat(c1)).total_seconds()
    )
    truth = {
        t
        for t in _batch_truth(events)
        if t[0] in {r["event_id"] for r in late.select("event_id").collect()}
    }
    # exact under the declared lateness window
    stf = StreamingTrailingFeatures(
        str(tmp_path / "out_l"), str(tmp_path / "tail_l"),
        horizons_s=[3600, 86400], scale=4, allowed_lateness_s=lateness,
    )
    stf.process_batch(rest, 0)
    stf.process_batch(late, 1)
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out_l"))
        .filter(F.col("epoch_id") == 1)
        .select(*FEATS)
        .collect()
    }
    assert got == truth
    # the in-order default on the same late arrival: undercounted frames
    stf0 = StreamingTrailingFeatures(
        str(tmp_path / "out_0"), str(tmp_path / "tail_0"),
        horizons_s=[3600, 86400], scale=4,
    )
    stf0.process_batch(rest, 0)
    stf0.process_batch(late, 1)
    got0 = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out_0"))
        .filter(F.col("epoch_id") == 1)
        .select(*FEATS)
        .collect()
    }
    assert got0 != truth


def test_writestream_api_path(spark, events, tmp_path):
    # the foreachBatch wiring end-to-end over a real file stream (one
    # epoch: trailing features are arrival-order-dependent, so multi-file
    # ordering is the caller's contract — the epoch tests above pin it)
    src = str(tmp_path / "src")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    stf = StreamingTrailingFeatures(
        str(tmp_path / "out2"), str(tmp_path / "tail2"),
        horizons_s=[3600, 86400], scale=4,
    )
    q = stf.start(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = stf.features(
        spark,
        spark.read.parquet(str(tmp_path / "out2")).drop("epoch_id").schema,
    )
    assert {tuple(r) for r in got.select(*FEATS).collect()} == _batch_truth(
        events
    )
