"""Production streaming sinks: checkpointed parquet and foreachBatch.

``windows.run_to_memory_sink`` is the test/dev harness; these are the
shapes a real pipeline runs. Exactly-once comes from the checkpoint:
the file-source offsets and sink commit log live under
``checkpoint_dir``, so a crashed/restarted query resumes from the last
committed batch instead of re-emitting (asserted by the restart test in
``tests/test_stateful_writers.py``).

foreachBatch is the escape hatch for sinks Spark lacks a connector for
(JDBC upserts, multi-table fan-out): the function receives a *batch*
DataFrame plus the batch id, and must be idempotent on batch id replay —
the standard contract for exactly-once-by-retry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def run_to_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    partition_by: tuple[str, ...] = (),
    timeout_sec: float = 120.0,
) -> StreamingQuery:
    """Drain the available stream data into a parquet directory with a
    checkpoint (exactly-once across restarts). Append-mode only sinks
    finalized results — with a watermarked aggregation, windows still
    open at end-of-stream stay in state until more data (or a later run)
    closes them; that is correct behavior, not data loss."""
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    q = w.start()
    q.awaitTermination(timeout_sec)
    return q


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    timeout_sec: float = 120.0,
) -> StreamingQuery:
    """Drive the stream through ``batch_fn(batch_df, batch_id)`` with a
    checkpoint. ``batch_fn`` must be idempotent per batch_id (a replayed
    batch keeps the same id — dedup on it for exactly-once side effects).
    """
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def run_cdc_apply(
    change_stream: DataFrame,
    target_path: str,
    key: str,
    checkpoint_dir: str,
    op_col: str = "op",
    delete_op: str = "D",
    ordering_col: str | None = None,
    timeout_sec: float = 120.0,
) -> StreamingQuery:
    """Streaming CDC apply: maintain a parquet table from a change stream.

    Per micro-batch: (1) compact the batch to its latest row per key
    (``ordering_col`` descending — a batch may carry several ops for one
    key) and cache it, (2) ``merge_upsert`` it into the current target
    (broadcast-only plan, the target is never shuffled), (3) atomically
    swap the rewritten table into place (write-stage-rename; a real
    lakehouse deployment swaps a Delta/Iceberg snapshot instead — the
    merge plan is identical, only the commit protocol changes).

    Idempotence on batch replay: re-applying a compacted batch is a no-op
    (same keys upsert to the same values), so a post-crash replay of the
    last uncommitted batch converges — the foreachBatch exactly-once
    contract."""
    import os
    import shutil

    from pyspark.sql import Window, functions as F

    from etl_io_spark.operators.scd import merge_upsert

    def apply(batch: DataFrame, batch_id: int) -> None:
        compacted = batch
        if ordering_col is not None:
            w = Window.partitionBy(key).orderBy(
                F.col(ordering_col).desc(), *[
                    F.col(c).desc() for c in batch.columns
                    if c not in (key, ordering_col)
                ]
            )
            compacted = (
                batch.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        # The merge reads the batch three times, and a micro-batch from a
        # source that reports no size (rate, Kafka) would make
        # merge_upsert's broadcaster drop its hints and shuffle the whole
        # target. The cache reads the source once and carries its real size.
        compacted = compacted.persist()
        try:
            if compacted.count() == 0:
                return
            spark = batch.sparkSession
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, compacted, key, op_col, delete_op)
            staged = f"{target_path}__stage"
            merged.write.mode("overwrite").parquet(staged)
            shutil.rmtree(target_path)
            os.rename(staged, target_path)
        finally:
            compacted.unpersist()

    return run_foreach_batch(
        change_stream, apply, checkpoint_dir, timeout_sec=timeout_sec
    )
