"""Batch ETL pipeline: scan -> validate -> project -> sinks -> summary.

Spark rebuild of ``run_etl_pipeline`` (``src/etl_processor.py:182-233``) and
the glob-batch driver (``src/main.py:34-55``). :func:`load_batch` is the one
validate -> count -> sink body: for this batch read, the CLI dry run and each
file-stream micro-batch. Differences by design:

* the whole glob is ONE distributed read (lineage kept per-file via
  ``input_file_name()``), not a driver loop;
* validation is one Catalyst plan (see ``plans.validator``), not a row loop;
* the valid-rows load is one ``df.write`` (parquet/Delta/JDBC), not per-row
  INSERTs with manual commit batching;
* error policy: ``continue`` (reference default) marks a failed file's rows
  and keeps going — at-least-once per file, like the reference's
  try/except-per-file loop (``src/main.py:26-31``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Mapping, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import IntegrationConfig, load_config, spark_type_for
from .plans.validator import ValidationResult, validate
from .sources.archive import archive_file
from .sources.readers import FILE_SOURCE_COL, read_source_csv
from .sources.sinks import ERROR_TABLE, jdbc_writer_options, write_errors, write_valid

__all__ = [
    "PipelineReport",
    "ValidationFailFast",
    "load_batch",
    "project_to_target",
    "run_etl_pipeline",
    "processing_summary",
]


class ValidationFailFast(RuntimeError):
    """Raised under ``error_handling=fail_fast`` when any row is invalid.

    The reference parses the ``ErrorHandling`` knob but never acts on it
    (``config/mapping_config.xml:68``, ``src/xml_parser.py:142``); here
    ``fail_fast`` aborts before any sink write, ``continue`` (the
    reference default) routes invalid rows to the error sink and keeps
    going."""

    def __init__(self, report: "PipelineReport"):
        self.report = report
        super().__init__(
            f"fail_fast: {report.invalid_records} of {report.total_records} rows invalid"
        )


@dataclass
class PipelineReport:
    total_records: int = 0
    valid_records: int = 0
    invalid_records: int = 0
    rows_inserted: int = 0
    errors_logged: int = 0
    archived: list[str] = field(default_factory=list)
    # per-file success counters (reference src/main.py:44-54 reports
    # success_count/len(files); here a file "succeeds" when it has rows and
    # no invalid ones)
    file_counts: list[dict] = field(default_factory=list)
    # first-5 error preview (reference src/data_validator.py:239-241)
    error_preview: list[dict] = field(default_factory=list)

    @property
    def valid_pct(self) -> float:
        return 100.0 * self.valid_records / self.total_records if self.total_records else 0.0

    @property
    def files_succeeded(self) -> int:
        return sum(1 for f in self.file_counts if f["invalid"] == 0)


def project_to_target(
    df: DataFrame,
    config: IntegrationConfig,
    *,
    validation_status: str = "VALID",
) -> DataFrame:
    """Source->target projection (SURVEY.md P11): rename to target columns,
    cast to declared Spark types, append the reference's literal
    ``ValidationStatus`` / lineage ``FileSource`` / ``ProcessedDate``
    columns (``src/etl_processor.py:68-92``)."""
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast of a
    # validated-but-uncastable survivor (e.g. '5.5' for an int field) would
    # abort the whole distributed write; the reference's error_handling=
    # continue contract wants NULL instead.
    cols = [F.col(m.source).try_cast(spark_type_for(m.data_type)).alias(m.target) for m in config.fields]
    src = F.col(FILE_SOURCE_COL) if FILE_SOURCE_COL in df.columns else F.lit("")
    return df.select(
        *cols,
        src.alias("FileSource"),
        F.lit(validation_status).alias("ValidationStatus"),
        F.current_timestamp().alias("ProcessedDate"),
    )


def load_batch(
    df: DataFrame,
    cfg: IntegrationConfig,
    *,
    output_dir: Optional[str] = None,
    sink_format: str = "parquet",
    jdbc: bool = False,
    lookup_values: Optional[Mapping[str, Any]] = None,
    dim_tables: Optional[Mapping[str, DataFrame]] = None,
    extensions: bool = False,
) -> PipelineReport:
    """Validate, count and load one frame that carries ``FileSource``
    lineage. ``jdbc`` loads the target table and ``ERROR_TABLE`` on
    ``cfg.target``'s connection; else ``output_dir`` receives
    ``quality_data/`` and ``validation_errors/``; with neither, nothing is
    written. ``fail_fast`` raises before any sink write."""
    report = PipelineReport()
    result: ValidationResult = validate(
        df, cfg, lookup_values=lookup_values, dim_tables=dim_tables, extensions=extensions
    )

    # The annotated frame fans out to counters + valid sink + error sink;
    # persist it so the scan+validation plan executes ONCE, not once per
    # consumer (3 full scans of the source at 100 TB otherwise).
    annotated = result.annotated.persist()
    try:
        # per-file breakdown (A4) in one agg over the cached frame — the
        # glob stays ONE distributed read, lineage recovers the per-file
        # loop; the totals (A3) are its sums, so no second counting job
        per_file = (
            annotated.groupBy(F.col(FILE_SOURCE_COL).alias("file"))
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.when(F.size("errors") == 0, 1).otherwise(0)).alias("valid"),
                F.sum(F.size("errors")).alias("errors"),
            )
            .collect()
        )
        report.file_counts = [
            {"file": r["file"], "total": r["total"], "valid": r["valid"], "invalid": r["total"] - r["valid"]}
            for r in per_file
        ]
        report.total_records = sum(f["total"] for f in report.file_counts)
        report.valid_records = sum(f["valid"] for f in report.file_counts)
        report.invalid_records = report.total_records - report.valid_records

        # first-5 error preview (O2) — tiny limit, rides the cache
        report.error_preview = [r.asDict() for r in result.errors.limit(5).collect()]

        if cfg.etl.error_handling.strip().lower() in ("fail_fast", "failfast", "abort"):
            if report.invalid_records > 0:
                raise ValidationFailFast(report)

        target = project_to_target(result.valid, cfg)
        if jdbc:
            opts = jdbc_writer_options(cfg.target, cfg.etl)
            report.rows_inserted = write_valid(target, "", fmt="jdbc", jdbc_options=opts)
            report.errors_logged = write_errors(
                result.errors, "", fmt="jdbc", jdbc_options={**opts, "dbtable": ERROR_TABLE}
            )
        elif output_dir:
            report.rows_inserted = write_valid(target, f"{output_dir}/quality_data", fmt=sink_format)
            report.errors_logged = write_errors(
                result.errors, f"{output_dir}/validation_errors", fmt=sink_format
            )
        else:
            report.rows_inserted = report.valid_records
            report.errors_logged = sum(r["errors"] for r in per_file)
    finally:
        annotated.unpersist()
    return report


def run_etl_pipeline(
    spark: SparkSession,
    input_path: str,
    config: IntegrationConfig | str,
    *,
    output_dir: Optional[str] = None,
    sink_format: str = "parquet",
    jdbc: bool = False,
    lookup_values: Optional[Mapping[str, Any]] = None,
    dim_tables: Optional[Mapping[str, DataFrame]] = None,
    extensions: bool = False,
    archive: Optional[bool] = None,
    archive_dir: Optional[str] = None,
) -> PipelineReport:
    """End-to-end run over one file or a glob: read, :func:`load_batch`,
    then (``archive`` on and ``archive_dir`` given) archive every file the
    read listed, header-only ones included."""
    cfg = load_config(config) if isinstance(config, str) else config
    df = read_source_csv(spark, input_path, cfg)
    report = load_batch(
        df, cfg, output_dir=output_dir, sink_format=sink_format, jdbc=jdbc,
        lookup_values=lookup_values, dim_tables=dim_tables, extensions=extensions,
    )

    do_archive = cfg.etl.archive_processed_files if archive is None else archive
    if do_archive and archive_dir:
        # inputFiles() lists from the read's file index (no job) and keeps
        # the scheme, so a remote glob archives what it read
        for f in sorted(df.inputFiles()):
            report.archived.append(archive_file(spark, f, archive_dir))
    return report


def processing_summary(quality_data: DataFrame, days: int = 7, anchor=None) -> DataFrame:
    """The reference's summary query (``src/etl_processor.py:146-158``):
    last-N-days counts by processed date and validation status, newest first.
    ``anchor`` pins "now" for deterministic tests (defaults to
    ``current_date()``)."""
    anchor_col = F.lit(anchor).cast("timestamp") if anchor is not None else F.current_timestamp()
    return (
        quality_data.filter(F.col("ProcessedDate") >= F.date_sub(anchor_col.cast("date"), days))
        .groupBy(
            F.to_date("ProcessedDate").alias("ProcessDate"),
            F.col("ValidationStatus"),
        )
        .agg(F.count(F.lit(1)).alias("RecordCount"))
        .orderBy(F.desc("ProcessDate"), "ValidationStatus")
    )
