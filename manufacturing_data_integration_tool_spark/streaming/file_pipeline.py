"""Structured Streaming front-end for the ETL pipeline.

The reference's batch-of-files loop + archive-on-success
(``src/main.py:34-55``, ``src/etl_processor.py:160-179``) is exactly the
contract of a Structured Streaming **file source**: new files appear, each
micro-batch runs the batch pipeline's own body (``pipeline.load_batch``:
validate -> count -> sinks, ``error_handling`` included) via
``foreachBatch``, and the files in the batch's per-file report are archived
after its sinks commit. The checkpoint log keeps the exactly-once
bookkeeping — no hand-rolled success tracking.

Event-time analytics (watermark + tumbling/session windows) are greenfield
capability for the ``events`` stream (SURVEY.md §2.9): the reference has no
real-time surface.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import IntegrationConfig
from ..pipeline import load_batch
from ..sources.archive import archive_file
from ..sources.readers import FILE_SOURCE_COL, source_schema
from .sketches import start_checkpointed


def ensure_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Streaming watermarks demand TIMESTAMP (LTZ); parquet written as
    TIMESTAMP_NTZ fails analysis with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.
    Cast in place — the naive wall-clock becomes a session-tz instant, and
    windows/gaps/watermark horizons are offset-invariant, so results are
    unchanged. Batch paths keep NTZ untouched (window() accepts it)."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def start_file_stream(
    spark: SparkSession,
    input_dir: str,
    config: IntegrationConfig,
    output_dir: str,
    *,
    checkpoint_dir: str,
    archive_dir: Optional[str] = None,
    available_now: bool = True,
    lookup_values: Optional[Mapping[str, Any]] = None,
    max_files_per_trigger: Optional[int] = 128,
) -> StreamingQuery:
    """Stream CSVs from ``input_dir`` through :func:`pipeline.load_batch`
    into parquet sinks under ``output_dir``.

    ``available_now=True`` drains everything currently present then stops —
    deterministic for tests and batch-style backfills; ``False`` keeps
    watching the directory like a daemonized version of the reference CLI.
    Under ``error_handling=fail_fast`` a batch with an invalid row writes
    nothing, archives nothing and terminates the query with
    :class:`pipeline.ValidationFailFast` as its cause.

    ``max_files_per_trigger`` defaults to 128 so the per-batch report (one
    row per file, collected to the driver) and the archive renames it
    drives are bounded by construction, not by assumption — a backlogged
    inbox drains over several batches instead of one unbounded batch.
    Pass ``None`` to remove the bound. Files whose batch has no data rows
    (header-only) are not in the report and stay in the inbox.
    """
    reader = (
        spark.readStream.option("header", config.source.has_header)
        .option("sep", config.source.delimiter)
        .schema(source_schema(config))
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.csv(input_dir).withColumn(FILE_SOURCE_COL, F.input_file_name())

    # NOTE we archive explicitly per micro-batch rather than via
    # ``cleanSource='archive'``: Spark's source cleaner only runs at the
    # *next* trigger, so an ``availableNow`` drain would leave the final
    # batch's files in the inbox forever (an inbox that never empties grows
    # unboundedly). The checkpoint log already remembers processed files, so
    # moving them after the batch's sinks commit is safe.
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        report = load_batch(batch_df, config, output_dir=output_dir, lookup_values=lookup_values)
        if archive_dir:
            for f in sorted(fc["file"] for fc in report.file_counts):
                archive_file(spark, f, archive_dir)

    return start_checkpointed(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir, available_now=available_now
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: Optional[str] = "value",
) -> DataFrame:
    """Tumbling-window counts with late-data tolerance. Works on both batch
    and streaming DataFrames (watermark is a no-op in batch). ``value_col``
    adds a sum when present; pass None (or a missing name) to skip it."""
    src = events
    if events.isStreaming:
        src = ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col and value_col in events.columns:
        aggs.append(F.sum(value_col).alias("total_value"))
    out = src.groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(group_col)).agg(*aggs)
    cols = [F.col("w.start").alias("window_start"), F.col(group_col), F.col("n_events")]
    if len(aggs) > 1:
        cols.append(F.col("total_value"))
    return out.select(*cols)


def sessionized_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows per user (gap-based). Streaming-native stateful op;
    in batch mode Spark computes the same sessions analytically."""
    src = events
    if events.isStreaming:
        src = ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            F.col(user_col),
            "n_events",
        )
    )


def windowed_term_counts(
    src: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Trending-terms source: per-(event-time window, token) counts with
    a watermark — the streaming half of a "what's trending this hour"
    dashboard (the consumer ranks the emitted finalized windows; ranking
    inside the stream would need complete-mode state over every token).

    The token explode multiplies rows BEFORE the stateful aggregate, but
    state is bounded by (windows in the watermark horizon) x (distinct
    tokens seen in them), and append mode emits each window once, when
    the watermark closes it — late rows beyond the watermark are dropped
    rather than reopening state (the documented trade).
    """
    from ..ops.text import tokenize

    return (
        ensure_event_time(src, ts_col)
        .withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(tokenize(text_col)).alias("tok"))
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("tok"))
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col("tok"),
            F.col("count").alias("n"),
        )
    )
