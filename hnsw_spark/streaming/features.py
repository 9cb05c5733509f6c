"""Continuous point-in-time trailing-window features — the streaming twin
of ``operators/features.py:trailing_window_features`` (a feature store's
ONLINE path: the same leakage-safe features the batch backfill computes,
maintained as event epochs arrive).

State design: the persisted state is a bounded TAIL of recent events, not
the stream.  How much tail is enough is set by the LATENESS CONTRACT
(ADVICE r9 — the round-9 docstring claimed more than the state could
honor): a row arriving with lateness ℓ = high_watermark − ts at arrival
has trailing frame [ts − W, ts), which reaches back to hw − ℓ − W — so
exactness for every row with ℓ ≤ ``allowed_lateness_s`` requires retaining
events with ts ≥ hw − (max(horizons) + allowed_lateness_s).  The default
``allowed_lateness_s=0`` is the in-order contract (epochs partitioned by
event time, e.g. the registered gate); callers expecting stragglers opt
into a larger window and pay proportionally more state — exactly a
watermark's semantics.  Rows ALREADY emitted are never retroactively
re-featured when a late event lands inside their frame (the batch
backfill is the correction path — standard in any streaming feature
store).  Each epoch:

1. reads the latest tail version strictly BEFORE this epoch (so a replayed
   epoch recomputes from the same prior state — deterministic retries),
2. computes the batch rows' features over ``tail ∪ batch`` with the exact
   batch operator (the RANGE frames see the full trailing interval for
   every row within the lateness contract),
3. writes the feature rows into an ``epoch_id`` partition with DYNAMIC
   overwrite (a replay overwrites itself — exactly-once), and
4. writes the new tail as version ``epoch`` (also dynamic-overwrite
   idempotent).

Per-epoch cost is O(tail + batch) — one window shuffle on the key over the
union, never the history; old tail versions are dropped eagerly, keeping
state at ~2 versions x tail size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.sketch import (
    _partition_versions,
    _prune_versions,
    _read_or_empty,
    _read_or_none,
)


class StreamingTrailingFeatures:
    def __init__(
        self,
        out_path: str,
        tail_path: str,
        horizons_s: list[int],
        by: str = "user_id",
        ts_col: str = "ts",
        value_col: str = "value",
        id_col: str = "event_id",
        scale: int = 4,
        allowed_lateness_s: int = 0,
    ):
        self.out_path = out_path
        self.tail_path = tail_path
        self.horizons_s = list(horizons_s)
        self.allowed_lateness_s = int(allowed_lateness_s)
        self.by = by
        self.ts_col = ts_col
        self.value_col = value_col
        self.id_col = id_col
        self.scale = scale

    def _tail_before(self, spark, epoch_id: int, schema) -> DataFrame:
        from pyspark.sql.types import IntegerType, StructField, StructType

        full = StructType(list(schema.fields) + [StructField("_v", IntegerType())])
        raw = _read_or_none(spark, self.tail_path)
        tails = raw if raw is not None else spark.createDataFrame([], full)
        # version discovery from the partition directory names (one less
        # Spark job per epoch); Spark-side distinct only when not listable
        # AND the read found state (a failed read proves there are no
        # versions — no job needed on the first epoch)
        listed = _partition_versions(self.tail_path, "_v=")
        if listed is None:
            listed = (
                []
                if raw is None
                else [r["_v"] for r in tails.select("_v").distinct().collect()]
            )
        versions = [v for v in listed if v < epoch_id]
        if not versions:
            return tails.drop("_v").limit(0)
        return tails.filter(F.col("_v") == max(versions)).drop("_v")

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.storagelevel import StorageLevel

        from hnsw_spark.operators.features import trailing_window_features

        if batch.isEmpty():
            return
        spark = batch.sparkSession
        cols = batch.columns
        tail = self._tail_before(spark, int(epoch_id), batch.schema)
        # id-dedup: a replayed epoch's rows may already sit in a tail
        # version written by the failed attempt's successor — dedup makes
        # the union (and therefore the features) attempt-invariant.  A
        # duplicate of an event carries the SAME key value (it is a replay
        # of the same row), so instead of ``dropDuplicates([id])`` — whose
        # exchange hashes by event id right before the feature window
        # re-shuffles by key — the dedup rides the key partitioning the
        # window needs anyway: partition by key, sort by id, keep the
        # first row of each id run (one exchange instead of two; the
        # window's sort-by-ts is a re-sort of the same partitioning, no
        # new exchange).
        # Persisted: three consumers read it (the feature write, the high-
        # watermark aggregate, the tail write) and each would otherwise
        # re-run the scan + dedup shuffle from scratch.
        from pyspark.sql import Window

        w_dedup = Window.partitionBy(self.by).orderBy(self.id_col)
        union = (
            tail.select(*cols)
            .unionByName(batch)
            .withColumn(
                "_is_dup",
                F.lag(self.id_col).over(w_dedup).eqNullSafe(
                    F.col(self.id_col)
                ),
            )
            .filter(~F.coalesce(F.col("_is_dup"), F.lit(False)))
            .drop("_is_dup")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        feats = trailing_window_features(
            union,
            horizons_s=self.horizons_s,
            by=self.by,
            ts_col=self.ts_col,
            value_col=self.value_col,
            scale=self.scale,
        )
        batch_ids = batch.select(self.id_col)
        out = feats.join(F.broadcast(batch_ids), self.id_col).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(self.out_path)
        )
        # retention = horizon + allowed lateness: a row arriving ℓ late
        # needs frame events back to hw - ℓ - W (see module docstring).
        # The high watermark rides the tail-write job as a broadcast 1-row
        # aggregate over the persisted union instead of its own collect
        # action — one less job per epoch, same value.
        hw_frame = F.broadcast(
            union.agg(F.max(self.ts_col).alias("_hw"))
        )
        keep = max(self.horizons_s) + self.allowed_lateness_s
        new_tail = (
            union.crossJoin(hw_frame)
            .filter(
                F.col(self.ts_col)
                >= F.col("_hw") - F.expr(f"INTERVAL {int(keep)} SECOND")
            )
            .drop("_hw")
            .withColumn("_v", F.lit(int(epoch_id)))
        )
        (
            new_tail.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_v")
            .parquet(self.tail_path)
        )
        union.unpersist()
        self._drop_old_tails(spark, int(epoch_id))

    def _drop_old_tails(self, spark, epoch_id: int) -> None:
        """Keep this epoch's tail, every newer one, and its actual prior
        (the newest committed version below epoch_id, the tail a retry of
        this epoch reads) — not a numeric ``>= epoch_id - 1`` window, which
        deleted that prior whenever empty micro-batches left a gap."""
        _prune_versions(self.tail_path, "_v=", epoch_id, keep_newer=True)

    def start(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def features(self, spark, schema) -> DataFrame:
        """Everything computed so far (all epoch partitions).  ``schema``
        (StructType of the feature rows WITHOUT epoch_id) shapes the empty
        frame before the first epoch lands."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        full = StructType(
            list(schema.fields) + [StructField("epoch_id", IntegerType())]
        )
        return _read_or_empty(spark, self.out_path, full).drop("epoch_id")
