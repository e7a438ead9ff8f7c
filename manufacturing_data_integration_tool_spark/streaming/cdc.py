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

The per-batch body is ``sketches.fold_stream``, the one fold-and-swap path
of this package: the replay guard, the staging write and the rename swap
(with its crash-mid-swap restore) are shared with the sketch accumulators.
CDC consults the ``_LAST_BATCH_ID`` marker like every other state
update; its keyed merge is idempotent, so skipping a replayed batch leaves
the snapshot the replay would have written.
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.merge import merge_upsert
from .sketches import fold_stream

__all__ = ["apply_cdc_stream"]


def apply_cdc_stream(
    changes: DataFrame,
    snapshot_path: str,
    keys: Sequence[str],
    *,
    checkpoint_dir: str,
    delete_col: Optional[str] = None,
) -> StreamingQuery:
    """Start a stream applying ``changes`` onto the existing parquet
    snapshot at ``snapshot_path`` with MERGE semantics (update / delete /
    insert), draining the input present at start.

    Each micro-batch: dedupe the batch to the LAST change per key (a batch
    can carry several changes for one key; later wins, ordered by the
    batch's arrival order column if present, else arbitrary-but-
    deterministic via a monotonic id), merge into the current snapshot,
    write to a staging directory, atomically swap. The swap is
    rename-based — readers see the old or the new snapshot, never a
    partial write — so a crash between its two renames is undone when the
    stream restarts and the replayed batch re-applies onto the previous
    snapshot. A batch with no columns is skipped; a missing snapshot
    fails the batch.
    """

    def latest_changes(batch: DataFrame) -> Optional[DataFrame]:
        if not batch.columns:
            return None
        if not Path(snapshot_path).exists():
            raise FileNotFoundError(f"CDC snapshot {snapshot_path} does not exist")
        # last-change-per-key within the batch: deterministic via the
        # source ordering column when supplied, else monotonic id
        b = batch if "__seq" in batch.columns else batch.withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        w = Window.partitionBy(*keys).orderBy(F.desc("__seq"))
        return (
            b.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )

    return fold_stream(
        changes,
        snapshot_path,
        latest_changes,
        lambda snapshot, latest: merge_upsert(snapshot, latest, keys, delete_col=delete_col),
        checkpoint_dir=checkpoint_dir,
    )
