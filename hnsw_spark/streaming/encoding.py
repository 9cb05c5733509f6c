"""Continuously-maintained target-encoding stats — the streaming twin of
``operators/encoding.py:target_encode_loo`` (VERDICT r9 #6, the last r8
library operator without an online path).

State design: the persisted state is the per-category label-evidence table
(category, Σy fixed-point decimal, n) — ONE ROW PER CATEGORY, the smallest
state any exact encoder can carry (category cardinality is
vocabulary-sized, never corpus-sized; the global mean derives from the
same table, so nothing else is stored).  Category stats are MERGEABLE —
decimal sums and counts add — so each epoch:

1. reads the latest stats version strictly BEFORE this epoch (a replayed
   epoch recomputes from the same prior state — deterministic retries),
2. aggregates the batch to per-category (sum, n) and merges by addition,
3. writes the merged table as version ``epoch`` with dynamic partition
   overwrite (a replay overwrites itself — exactly-once), and
4. drops versions older than the replay window (~2 versions live).

Per-epoch cost is one aggregate-sized shuffle over the batch plus a
stats-sized union — the fact rows are never shuffled and never retained.
Serving (``encode``) joins the live stats onto any fact frame with the
IDENTICAL ``encode_with_stats`` expression the batch operator uses, so
once the streamed stats equal the batch stats (exact decimal arithmetic —
no float drift to accumulate), the encodings are equal BY CONSTRUCTION;
the registered gate (``target_encode_stream_gate``) pins it against the
same DuckDB oracle as the batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.sketch import (
    _partition_versions,
    _prune_versions,
    _read_or_none,
)


class StreamingTargetEncoder:
    def __init__(
        self,
        stats_path: str,
        category_col: str,
        target_col: str,
        alpha: int = 20,
        scale: int = 4,
        out_col: str = "te_fp",
        category_type: str = "string",
    ):
        self.stats_path = stats_path
        self.category_col = category_col
        self.target_col = target_col
        self.alpha = int(alpha)
        self.scale = int(scale)
        self.out_col = out_col
        self.category_type = category_type

    def _stats_schema(self, spark):
        from pyspark.sql.types import (
            DecimalType,
            IntegerType,
            LongType,
            StructField,
            StructType,
            _parse_datatype_string,
        )

        return StructType(
            [
                # category dtype is caller-declared: it only shapes the
                # empty frame before the first epoch lands
                StructField(
                    self.category_col,
                    _parse_datatype_string(self.category_type),
                ),
                StructField("_cat_sum", DecimalType(38, 0)),
                StructField("_cat_n", LongType()),
                StructField("_v", IntegerType()),
            ]
        )

    def _stats_before(self, spark, epoch_id: int) -> DataFrame:
        raw = _read_or_none(spark, self.stats_path)
        all_versions = (
            raw
            if raw is not None
            else spark.createDataFrame([], self._stats_schema(spark))
        )
        listed = _partition_versions(self.stats_path, "_v=")
        if listed is None:
            # a failed read proves there are no versions — no distinct job
            listed = (
                []
                if raw is None
                else [
                    r["_v"]
                    for r in all_versions.select("_v").distinct().collect()
                ]
            )
        versions = [v for v in listed if v < epoch_id]
        if not versions:
            return all_versions.drop("_v").limit(0)
        return all_versions.filter(F.col("_v") == max(versions)).drop("_v")

    def stats(self, spark) -> DataFrame:
        """The live (latest-version) stats table."""
        return self._stats_before(spark, 1 << 31)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.encoding import category_stats

        if batch.isEmpty():
            return
        spark = batch.sparkSession
        epoch_id = int(epoch_id)
        # ONE state read per micro-batch: the version list drives both the
        # replay guard and the prior selection (ADVICE r10 follow-up — the
        # guard used to trigger a second full read via _stats_before).
        raw = _read_or_none(spark, self.stats_path)
        all_df = (
            raw
            if raw is not None
            else spark.createDataFrame([], self._stats_schema(spark))
        )
        all_versions = _partition_versions(self.stats_path, "_v=")
        if all_versions is None:
            # a failed read proves there are no versions — no distinct job
            all_versions = (
                []
                if raw is None
                else [r["_v"] for r in all_df.select("_v").distinct().collect()]
            )
        priors = [v for v in all_versions if v < epoch_id]
        # Replay is only safe while this epoch's prior version survives
        # the prune window: replaying epoch e after its prior was pruned
        # would rebuild version e from the batch alone (ADVICE r10).
        # Only a STRICTLY newer surviving version proves the stale-prior
        # case: a retry of the first non-empty epoch (epoch_id > 0 after
        # empty micro-batches, so no prior version ever existed) sees its
        # own committed version v == epoch_id, and rebuilding that version
        # from the batch alone is exactly correct — its true prior state
        # was empty (ADVICE r11).
        if (
            epoch_id > 0
            and not priors
            and any(v > epoch_id for v in all_versions)
        ):
            raise ValueError(
                f"replay of epoch {epoch_id} is outside the retained "
                f"window (surviving versions: {sorted(all_versions)}); "
                "only the latest epoch can be replayed after pruning"
            )
        prior = (
            all_df.filter(F.col("_v") == max(priors)).drop("_v")
            if priors
            else all_df.drop("_v").limit(0)
        )
        fresh = category_stats(
            batch, self.category_col, self.target_col, self.scale
        )
        merged = (
            prior.unionByName(fresh)
            .groupBy(self.category_col)
            .agg(
                F.sum("_cat_sum").alias("_cat_sum"),
                F.sum("_cat_n").alias("_cat_n"),
            )
            .withColumn("_v", F.lit(int(epoch_id)))
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_v")
            .parquet(self.stats_path)
        )
        self._drop_old_versions(int(epoch_id))

    def _drop_old_versions(self, epoch_id: int) -> None:
        """Keep this epoch's version AND its actual surviving prior (the
        newest committed version strictly below epoch_id) — NOT a numeric
        ``>= epoch_id - 1`` window: empty micro-batches write no version,
        so the latest epoch's true prior can sit any distance below it,
        and pruning by number would delete exactly the state a legitimate
        foreachBatch retry of the latest epoch needs (the replay guard
        would then kill the stream on every restart)."""
        _prune_versions(self.stats_path, "_v=", epoch_id, keep_newer=False)

    def encode(self, rows: DataFrame, row_in_stats: bool = True) -> DataFrame:
        """Adds ``out_col`` to ``rows`` from the LIVE streamed stats —
        the identical expression the batch operator applies.  With the
        default ``row_in_stats=True`` the caller asserts every row's
        (category, label) has already been streamed into the stats (the
        parity-gate scenario): the output is exactly ``target_encode_loo``
        over everything streamed so far.  For serving rows that are NOT
        part of the evidence yet pass ``row_in_stats=False`` — the plain
        smoothed category mean, with unseen categories at the global mean
        (ADVICE r10)."""
        from hnsw_spark.operators.encoding import encode_with_stats

        return encode_with_stats(
            rows,
            self.stats(rows.sparkSession),
            self.category_col,
            self.target_col,
            self.alpha,
            self.scale,
            self.out_col,
            row_in_stats=row_in_stats,
        )

    def start(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )
