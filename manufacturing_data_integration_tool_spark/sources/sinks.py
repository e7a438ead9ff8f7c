"""Sinks.

Reference behavior being re-expressed (SURVEY.md S4/S5):

* valid rows -> target table with literal ``ValidationStatus='VALID'`` and
  ``FileSource`` lineage (``src/etl_processor.py:53-108``). The reference
  does row-wise parameterized INSERTs with a manual 1000-row commit loop;
  on Spark that's a single ``df.write`` — JDBC ``batchsize``/``numPartitions``
  options replace the hand-rolled commit chunking, and the parquet/Delta
  path is a plain distributed append.
* validation errors -> the error table (``ERROR_TABLE``) with
  ``field_value`` truncated to 255 chars (``src/etl_processor.py:110-144``).

Both writers share one ``_write``: JDBC pre-coalesce, ``observe`` count,
format dispatch.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, functions as F

from ..config import EtlSettings, TargetSettings

ERROR_SINK_COLUMNS = ("FileSource", "ErrorType", "ErrorMessage", "FieldName", "FieldValue")
# the reference's error-log table (src/etl_processor.py:110-144)
ERROR_TABLE = "Production.DataValidationErrors"


def jdbc_writer_options(target: TargetSettings, etl: EtlSettings) -> dict[str, str]:
    """JDBC writer options equivalent to the reference's pyodbc loop:
    ``batchsize`` replaces the manual commit-every-N (etl_processor.py:96-98)."""
    return {
        "url": target.connection_string,
        "dbtable": target.target_table,
        "batchsize": str(etl.batch_size),
        "isolationLevel": "READ_COMMITTED",
    }


def _write(
    df: DataFrame,
    path_or_table: str,
    *,
    fmt: str,
    mode: str,
    jdbc_options: Optional[Mapping[str, str]],
    partition_by: Optional[list[str]] = None,
) -> int:
    """Run ONE write job and return the row count via an ``observe`` metric —
    the count rides along with the write instead of a second full scan
    (the reference reports rows_inserted, etl_processor.py:103; a separate
    ``df.count()`` would execute the whole upstream plan twice, which at
    100 TB is two scans of the table)."""
    from pyspark.sql import Observation

    if fmt == "jdbc" and jdbc_options and "numPartitions" in jdbc_options:
        # Take over the JDBC ``numPartitions`` cap BELOW the observe node.
        # When the option reaches Spark's V1 JDBC writer, the execution that
        # moves rows no longer reports the plan's ``CollectMetrics`` node:
        # ``Observation.get`` returns 0 while every row lands (verified
        # against embedded Derby in tests/test_jdbc_sink.py). ``coalesce``
        # has the option's semantics (it only ever REDUCES the partition
        # count), so apply it here and strip the option.
        jdbc_options = dict(jdbc_options)
        df = df.coalesce(int(jdbc_options.pop("numPartitions")))
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(mode)
    if fmt == "jdbc":
        writer.format("jdbc").options(**(jdbc_options or {})).save()
    else:
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(fmt).save(path_or_table)
    return int(obs.get["n"])


def write_valid(
    df: DataFrame,
    path_or_table: str,
    *,
    fmt: str = "parquet",
    mode: str = "append",
    jdbc_options: Optional[Mapping[str, str]] = None,
    partition_by: Optional[list[str]] = None,
) -> int:
    """Append valid rows to the target sink; returns the row count."""
    return _write(df, path_or_table, fmt=fmt, mode=mode, jdbc_options=jdbc_options, partition_by=partition_by)


def shape_errors_for_sink(errors: DataFrame, file_source: Optional[str] = None) -> DataFrame:
    """Error report -> sink schema, with the reference's 255-char value cap
    (etl_processor.py:134)."""
    src = F.col("FileSource") if "FileSource" in errors.columns else F.lit(file_source or "")
    return errors.select(
        src.alias("FileSource"),
        F.col("error_type").alias("ErrorType"),
        F.col("error_message").alias("ErrorMessage"),
        F.col("field_name").alias("FieldName"),
        F.substring(F.col("field_value").cast("string"), 1, 255).alias("FieldValue"),
    )


def write_errors(
    errors: DataFrame,
    path_or_table: str,
    *,
    file_source: Optional[str] = None,
    fmt: str = "parquet",
    mode: str = "append",
    jdbc_options: Optional[Mapping[str, str]] = None,
) -> int:
    """Append the error report, shaped for the sink, to the error sink;
    returns the row count."""
    shaped = shape_errors_for_sink(errors, file_source)
    return _write(shaped, path_or_table, fmt=fmt, mode=mode, jdbc_options=jdbc_options)


def write_orc(df, path: str, *, mode: str = "overwrite", partition_by=None):
    """ORC sink twin of the parquet writers: columnar, footer-typed,
    stripe-indexed — the interchange format for Hive-era consumers the
    parquet sinks don't reach. Pure pass-through to Spark's native ORC
    writer (same distributed write path, no driver materialization);
    ``partition_by`` maps to directory partitioning for downstream
    partition pruning."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(
            *([partition_by] if isinstance(partition_by, str) else partition_by)
        )
    w.orc(path)
