"""Streaming training-corpus ingest: the LLM-ops pipeline as a
Structured Streaming job.

Greenfield capability (no reference counterpart; SURVEY.md §7.0 streaming
extension): continuously ingest raw documents from a landing directory and
emit a cleaned, deduplicated, mixed corpus shard stream:

    file stream -> normalize_text -> quality gate (token count, repetition)
      -> stratified language mix -> content-hash dedup within a watermark
      -> parquet append

Every transformation is one of the BATCH operators from ``ops/`` applied
unchanged — normalization/quality/sampling are stateless per-row
expressions, so the streaming plan is identical to the batch plan; the only
stateful node is ``dropDuplicatesWithinWatermark`` on the content hash,
whose state is bounded by the watermark (late re-deliveries beyond it age
out instead of accumulating forever — the property that keeps a perpetual
ingest job at O(watermark window) state, not O(corpus)).

At 100 TB/day the same job runs with a files-per-trigger bound and more
shuffle partitions; nothing else changes — that is the point of building
the batch operators as pure Column expressions.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ops.dedup import content_hash
from ..ops.sampling import stratified_sample
from ..ops.text import normalize_text, token_count, with_repetition_cols
from .sketches import start_checkpointed

__all__ = ["corpus_ingest_transform", "start_corpus_stream"]


def corpus_ingest_transform(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    ts_col: str = "ingest_ts",
    min_tokens: int = 10,
    max_dup_gram_frac: float = 0.5,
    lang_fractions: Optional[Mapping[str, float]] = None,
    default_fraction: float = 1.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Compose the corpus-hygiene operators over a (possibly streaming)
    DataFrame. Works identically on batch input — used by tests to assert
    stream/batch parity row-for-row."""
    cleaned = normalize_text(stream, text_col)
    gated = cleaned.filter(token_count("text_norm") >= min_tokens)
    # per-row repetition columns, NOT a stats join — a join of two
    # derivations of the same stream would be an unbounded stream-stream
    # join; this stays a narrow projection in both batch and streaming
    gated = with_repetition_cols(gated, "text_norm").filter(
        F.col("dup_gram_frac") <= max_dup_gram_frac
    )
    if lang_fractions:
        gated = stratified_sample(
            gated, lang_col, id_col, lang_fractions, default_fraction=default_fraction
        )
    hashed = gated.withColumn("content_md5", content_hash(F.col("text_norm")))
    if hashed.isStreaming:
        hashed = hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["content_md5"]
        )
    else:
        # deterministic survivor (min id per content hash) instead of
        # dropDuplicates' arrival-order pick: batch runs are then
        # engine-reproducible and oracle-able (driver query q122). The
        # window is keyed on the hash — bounded per-hash groups, one
        # shuffle, same cost shape as dropDuplicates' partial aggregate.
        w = Window.partitionBy("content_md5").orderBy(F.col(id_col))
        hashed = (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return hashed.select(
        id_col, lang_col, "text_norm", "content_md5", "n_chars_removed", ts_col
    )


def start_corpus_stream(
    spark,
    input_dir: str,
    output_dir: str,
    *,
    checkpoint_dir: str,
    schema,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = 128,
    **transform_kwargs,
) -> StreamingQuery:
    """Wire ``corpus_ingest_transform`` between a parquet file source and a
    parquet append sink (same bounded-inbox posture as the validation
    stream: ``maxFilesPerTrigger`` keeps every micro-batch driver-safe)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    out = corpus_ingest_transform(stream, **transform_kwargs)
    writer = out.writeStream.format("parquet").option("path", output_dir).outputMode("append")
    return start_checkpointed(writer, checkpoint_dir, available_now=available_now)
