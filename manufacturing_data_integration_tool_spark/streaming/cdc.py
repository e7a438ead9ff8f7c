"""Streaming CDC apply: a change stream MERGEd into an at-rest snapshot.

Greenfield LLM-pipeline capability: corpus snapshots receive continuous
change feeds (new crawl batches, takedown/deletion lists, metadata fixes).
This composes the batch :func:`~manufacturing_data_integration_tool_spark.
functions.merge.merge_upsert` operator with Structured Streaming's
``foreachBatch`` — each micro-batch is applied transactionally-per-batch
(read snapshot -> merge -> atomic directory swap), which is the plain-
parquet equivalent of a table format's streaming MERGE sink.

100 TB posture: on plain parquet every micro-batch rewrites the snapshot
— correct but write-amplified; that is inherent to the format, not the
operator (the docstring-level guidance is: partition the snapshot, prune
the rewrite to touched partitions via the batch's key range, or graduate
to a table format whose MERGE does file-level pruning with the SAME
merge_upsert semantics). The merge itself stays ONE full-outer join per
batch, AQE-skew-safe, with the change batch on the (usually broadcast-
small) side.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..functions.merge import merge_upsert
from .sketches import _open_state, _stream_id, _swap_in

__all__ = ["apply_cdc_stream"]


def apply_cdc_stream(
    changes: DataFrame,
    snapshot_path: str,
    keys: Sequence[str],
    *,
    checkpoint_dir: str,
    delete_col: Optional[str] = None,
    trigger_available_now: bool = True,
):
    """Start a stream applying ``changes`` onto the parquet snapshot at
    ``snapshot_path`` with MERGE semantics (update / delete / insert).

    Each micro-batch: dedupe the batch to the LAST change per key (a batch
    can carry several changes for one key; later wins, ordered by the
    batch's arrival order column if present, else arbitrary-but-
    deterministic via a monotonic id), merge into the current snapshot,
    write to a staging directory, atomically swap. The swap is
    rename-based — readers see the old or the new snapshot, never a
    partial write — and shared with the sketch accumulators, so a crash
    between its two renames is undone when the stream restarts and the
    replayed batch re-applies onto the previous snapshot. A merge batch
    is idempotent, so the swap's batch-id marker is not consulted here.

    Returns the StreamingQuery. ``trigger_available_now`` drains pending
    input then stops (the batch-refresh mode); pass False for a
    continuous micro-batch stream.
    """
    snap, staging, backup = _open_state(snapshot_path)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch.sparkSession
        if not batch.columns:
            return
        from pyspark.sql import Window, functions as F

        # last-change-per-key within the batch: deterministic via the
        # source ordering column when supplied, else monotonic id
        order_col = "__seq" if "__seq" in batch.columns else None
        b = batch if order_col else batch.withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        w = Window.partitionBy(*keys).orderBy(F.desc("__seq"))
        latest = (
            b.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        target = spark.read.parquet(str(snap))
        merged = merge_upsert(target, latest, keys, delete_col=delete_col)
        # materialize BEFORE touching the snapshot dir (the plan reads it)
        merged.write.mode("overwrite").parquet(str(staging))
        _swap_in(snap, staging, backup, batch_id, _stream_id(batch))

    writer = (
        changes.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
