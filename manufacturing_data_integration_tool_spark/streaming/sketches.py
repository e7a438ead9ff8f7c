"""Streaming state accumulation: mergeable state maintained across
micro-batches by one fold-and-swap path.

Greenfield LLM-pipeline capability: corpus-wide statistics (term
frequencies here, distinct counts by the same pattern) that must stay
current as crawl batches land, WITHOUT rescanning the corpus. The
Count-Min sketch's merge rule is plain cell summation
(``ops.text.countmin_sketch``), so ``foreachBatch`` can fold each
micro-batch's sketch into a persisted cell table and the result is
EXACTLY the sketch of the full corpus — order-independent, restart-safe
(checkpointed source offsets + atomic directory swap).

One path: ``fold_stream`` is the whole micro-batch body of every state
accumulator in this package — the four sketches here (CMS, Bloom, OEE,
KMV) and ``cdc.apply_cdc_stream``. Each passes only its delta and its
merge; opening the state, the replay guard, the staging write and the
swap live here alone.

Replay safety (r7): ``foreachBatch`` is at-least-once — a crash after
the staging->target swap but BEFORE the checkpoint offset commit
replays the same ``batch_id`` on restart. Summation merges (CMS cells,
OEE counts) would double-count that batch, so every accumulator
persists the last-applied ``batch_id`` in a ``_LAST_BATCH_ID`` marker,
and the id of the stream that applied it in a ``_STREAM_ID`` marker,
INSIDE the swapped directory (atomic with the state it describes), and
skips a batch whose id has already been folded by the same stream —
mirroring the ``batch=<id>`` overwrite idempotence used in
``dedup_index.py``. Batch ids count per checkpoint: a stream started on
a new checkpoint over existing state begins again at batch 0 with new
data, and the stream-id check lets it through. Idempotent merges
(Bloom's ``bit_or``, KMV's min-merge, CDC's keyed upsert) go through the
same guard: skipping a replay leaves the state they would have written.

100 TB posture: the persisted sketch state is ``depth * width`` cells —
KBs — so unlike a CDC snapshot merge (rewrite scales with the snapshot)
every micro-batch does O(batch) scan work plus an O(sketch) rewrite,
forever. This is the property that makes sketches the streaming-rollup
counterpart to exact recounts.
"""

from __future__ import annotations

import shutil
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..ops.text import countmin_sketch

__all__ = ["accumulate_countmin_stream", "accumulate_bloom_stream", "accumulate_kmv_stream", "accumulate_oee_stream", "oee_from_state"]

_MARKER = "_LAST_BATCH_ID"
_STREAM_MARKER = "_STREAM_ID"


def _stream_id(batch: DataFrame) -> str:
    """The id of the stream delivering ``batch``. Spark keeps it in
    ``<checkpointLocation>/metadata``, so it names the checkpoint, and sets
    it as a local property of the thread that runs each micro-batch."""
    return batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId") or ""


def _already_applied(target: Path, batch_id: int, stream_id: str) -> bool:
    """True iff stream ``stream_id`` already folded this batch_id (or a
    later one) into the state at ``target``. Within one checkpoint
    foreachBatch ids increase monotonically and a replay redelivers the
    SAME id, so ``<=`` covers both the exact-replay window and any
    marker-ahead-of-checkpoint race. Another stream's ids say nothing
    about this one's batches."""
    try:
        if (target / _STREAM_MARKER).read_text().strip() != stream_id:
            return False
        return batch_id <= int((target / _MARKER).read_text().strip())
    except (ValueError, OSError):
        return False


def _open_state(path: str) -> tuple[Path, Path, Path]:
    """Return the live state directory, its ``.staging`` directory and the
    ``.previous`` backup ``_swap_in`` parks the old state in.

    A crash between ``_swap_in``'s two renames leaves no live directory
    and the last complete state in the backup. Rename it back first, so
    the replayed batch (its offset was never committed) re-applies onto
    that state instead of starting over from its own delta."""
    target = Path(path)
    staging = target.with_name(target.name + ".staging")
    backup = target.with_name(target.name + ".previous")
    if not target.exists() and backup.exists():
        backup.rename(target)
    return target, staging, backup


def _swap_in(target: Path, staging: Path, backup: Path, batch_id: int, stream_id: str) -> None:
    """Write the batch-id and stream-id markers into staging, then
    rename-swap staging into place. The markers travel inside the swapped
    directory, so state and last-applied id are atomic: readers (and the
    replay guard) see either the old state or the new one, never a mix."""
    (staging / _MARKER).write_text(str(batch_id))
    (staging / _STREAM_MARKER).write_text(stream_id)
    if backup.exists():
        shutil.rmtree(backup)
    if target.exists():
        target.rename(backup)
    staging.rename(target)
    if backup.exists():
        shutil.rmtree(backup)


def start_checkpointed(
    writer: DataStreamWriter, checkpoint_dir: str, *, available_now: bool = True
) -> StreamingQuery:
    """Start ``writer`` on ``checkpoint_dir`` — the one stream start in this
    package. ``available_now`` drains the input present at start, then
    stops; False keeps watching it."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_stream(
    rows: DataFrame,
    state_path: str,
    delta: Callable[[DataFrame], Optional[DataFrame]],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    *,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream folding every micro-batch of ``rows`` into the
    parquet state at ``state_path``, draining the input present at start.

    Per batch: skip it if this stream already folded its id; build
    ``delta(batch)`` (None skips the batch, with no swap); fold it into
    the live state with ``merge(current, delta)`` — with no state yet the
    delta is the first state; write the result to staging; swap it in
    with the batch's markers. The staging write materializes before the
    live directory is touched, because the merged plan reads it."""
    target, staging, backup = _open_state(state_path)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        stream_id = _stream_id(batch)
        if _already_applied(target, batch_id, stream_id):
            return  # at-least-once replay of a batch already folded
        state = delta(batch)
        if state is None:
            return
        if target.exists():
            state = merge(batch.sparkSession.read.parquet(str(target)), state)
        state.write.mode("overwrite").parquet(str(staging))
        _swap_in(target, staging, backup, batch_id, stream_id)

    return start_checkpointed(rows.writeStream.foreachBatch(process_batch), checkpoint_dir)


def accumulate_countmin_stream(
    docs: DataFrame,
    sketch_path: str,
    *,
    text_col: str = "text",
    depth: int = 4,
    width: int = 2048,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream folding each micro-batch's Count-Min sketch into
    the parquet cell table at ``sketch_path``.

    Each micro-batch: ``countmin_sketch(batch)`` -> union with the
    persisted (row, col, cnt) table -> one (row, col) sum. Because CMS
    merge is cell addition, the accumulated table is bit-identical to
    the batch sketch of all rows seen so far, however the input was
    micro-batched — pinned by ``tests/test_streaming.py``.
    """
    return fold_stream(
        docs,
        sketch_path,
        lambda batch: countmin_sketch(batch, text_col, depth=depth, width=width),
        lambda current, delta: current.unionByName(delta)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt")),
        checkpoint_dir=checkpoint_dir,
    )


def accumulate_bloom_stream(
    keys: DataFrame,
    filter_path: str,
    *,
    key_col: str = "doc_id",
    m_words: int = 256,
    k: int = 4,
    salt: int = 0,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream folding each micro-batch's Bloom filter
    (``ops.stats.bloom_build``) into the persisted (word_idx, bits)
    table at ``filter_path`` — the membership-index sibling of the
    Count-Min accumulator above: merge is per-word ``bit_or``, which is
    idempotent AND commutative, so the accumulated filter is
    bit-identical to the batch filter of every key seen so far however
    the input was micro-batched — and at-least-once redelivery of a
    batch is a no-op by construction (OR-ing the same bits twice).

    The standing use: a contamination / already-ingested membership
    index that each new crawl batch both probes (``bloom_probe``
    against the persisted table) and extends — KBs of state forever.
    """
    from ..ops.stats import bloom_build

    return fold_stream(
        keys,
        filter_path,
        lambda batch: bloom_build(batch, key_col, m_words=m_words, k=k, salt=salt),
        lambda current, delta: current.unionByName(delta)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits")),
        checkpoint_dir=checkpoint_dir,
    )


def accumulate_oee_stream(
    events: DataFrame,
    state_path: str,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_type: str = "error",
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream folding each micro-batch's per-day OEE inputs into
    the persisted (day, n_events, n_errors, hour_bits) table at
    ``state_path`` — the streaming twin of ``ops.inventory.oee_daily``:

    * ``hour_bits`` is a 24-bit active-hour mask merged by ``bit_or``
      (idempotent — redelivering a batch cannot invent an hour);
    * event/error counts merge by summation — replay-safe via the
      ``_LAST_BATCH_ID`` marker (a redelivered batch_id is a no-op;
      see module docstring).

    ``oee_from_state`` then computes availability/performance/quality
    from the state table with the SAME arithmetic as the batch op, so
    stream-then-compute equals batch-compute — pinned by
    ``tests/test_streaming.py``. State is one row per calendar day,
    forever — KBs per year of plant history.
    """

    def day_delta(batch: DataFrame) -> DataFrame:
        # F.shiftleft takes a LITERAL shift; the column-shift form goes
        # through the SQL expression (hour() is 0-23, bits fit a bigint)
        good_hour = F.when(
            F.col(type_col) != error_type,
            F.expr(f"shiftleft(cast(1 as bigint), hour({ts_col}))"),
        ).otherwise(F.lit(0).cast("bigint"))
        return (
            batch.select(
                F.to_date(F.col(ts_col)).alias("day"),
                (F.col(type_col) == error_type).alias("__err"),
                good_hour.alias("__hb"),
            )
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.when(F.col("__err"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_errors"),
                F.bit_or("__hb").cast("bigint").alias("hour_bits"),
            )
        )

    return fold_stream(
        events,
        state_path,
        day_delta,
        lambda current, delta: current.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("n_errors").cast("bigint").alias("n_errors"),
            F.bit_or("hour_bits").cast("bigint").alias("hour_bits"),
        ),
        checkpoint_dir=checkpoint_dir,
    )


def oee_from_state(spark, state_path: str, *, hours_per_day: int = 24) -> DataFrame:
    """Compute the OEE table from the accumulated state — the SAME
    fixed IEEE arithmetic as ``ops.inventory.oee_daily`` with
    ``active_hours = bit_count(hour_bits)``, so the streamed state
    yields byte-identical rows to the batch operator over the same
    events."""
    daily = spark.read.parquet(str(state_path)).select(
        "day",
        "n_events",
        "n_errors",
        F.bit_count("hour_bits").cast("bigint").alias("active_hours"),
    )
    g = daily.agg(
        F.sum(F.col("n_events") - F.col("n_errors"))
        .cast("bigint")
        .alias("__g_good"),
        F.sum("active_hours").cast("bigint").alias("__g_hours"),
    )
    j = daily.crossJoin(F.broadcast(g))
    good = (F.col("n_events") - F.col("n_errors")).cast("double")
    ah = F.col("active_hours").cast("double")
    a = ah / F.lit(float(hours_per_day))
    p = F.when(F.col("active_hours") == 0, F.lit(0.0)).otherwise(
        F.least(
            F.lit(1.0),
            (good * F.col("__g_hours").cast("double"))
            / (ah * F.col("__g_good").cast("double")),
        )
    )
    q = good / F.col("n_events").cast("double")
    pub = lambda c, n: F.floor(c * F.lit(1_000_000.0)).cast("bigint").alias(n)  # noqa: E731
    return j.select(
        "day",
        "n_events",
        "n_errors",
        "active_hours",
        pub(a, "a_x1e6"),
        pub(p, "p_x1e6"),
        pub(q, "q_x1e6"),
        pub(a * p * q, "oee_x1e6"),
    )


def accumulate_kmv_stream(
    rows: DataFrame,
    sketch_path: str,
    *,
    key_col: str,
    k: int = 64,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream folding each micro-batch's KMV distinct-count
    minima into the parquet hash table at ``sketch_path`` — the
    RANK-SELECTIVE MIN-MERGE accumulator class (4th after q302's
    idempotent bit_or, q320's additive cells, q331's append-only
    partitions): state is the k smallest distinct 32-bit md5 hashes
    seen so far, merge = distinct-union then keep the k smallest.

    Because the merge is a set union followed by an order statistic it
    is IDEMPOTENT under replays and batching-invariant by construction
    (min of mins), so the accumulated table equals
    ``ops.stats.kmv_distinct``'s one-shot minima over all rows seen —
    however the input was micro-batched.

    Each micro-batch does O(batch) scan work plus an O(k) state
    rewrite; the estimate is published from the persisted minima with
    the same ``(k-1)*2^32 div h_k`` integer division as the batch op.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return fold_stream(
        rows,
        sketch_path,
        lambda batch: batch.filter(F.col(key_col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k),
        lambda current, delta: current.unionByName(delta)
        .distinct()
        .orderBy("h")
        .limit(k),
        checkpoint_dir=checkpoint_dir,
    )
