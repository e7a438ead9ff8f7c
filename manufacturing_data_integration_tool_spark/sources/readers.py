"""Sources.

The reference reads one CSV per pipeline run with pandas inference
(``src/etl_processor.py:197``) and loops a glob for batches
(``src/main.py:34-55``). Spark-first: a single ``spark.read.csv`` over the
whole glob reads every file in one distributed job, with per-file lineage via
``input_file_name()`` — no driver loop.

Validation-fidelity note: the source CSV is read **all-string** so rule
semantics (NUMERIC-on-cast-failure, whitespace-only not_null, unparseable
dates) evaluate against the raw text exactly like the reference's row loop;
typed casting happens at target projection (``pipeline.project_to_target``).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..config import IntegrationConfig

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

FILE_SOURCE_COL = "FileSource"


def source_schema(config: IntegrationConfig) -> T.StructType:
    """The pinned all-string schema of the config's declared source
    columns — shared by every batch reader and the file stream."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in config.source_columns])


def _paths(path_or_glob: str | Sequence[str]) -> str | list[str]:
    return list(path_or_glob) if isinstance(path_or_glob, (list, tuple)) else path_or_glob


# Parquet files written with INT64 TIMESTAMP(NANOS) (e.g. pandas
# ``timestamp[ns]``) are rejected by Spark's vectorized reader with
# PARQUET_TYPE_ILLEGAL. The documented escape hatch is the legacy conf that
# surfaces the raw nanosecond count as a LongType column; we then downcast
# to microsecond precision (Spark's native timestamp resolution).
NANOS_AS_LONG_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def enable_nanos_as_long(spark: SparkSession) -> None:
    spark.conf.set(NANOS_AS_LONG_CONF, "true")


def nanos_to_timestamp(col: Column | str) -> Column:
    """LongType nanoseconds-since-epoch -> TimestampType (µs, truncating)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(F.floor(c / F.lit(1000)).cast("long"))


def read_source_csv(
    spark: SparkSession,
    path_or_glob: str | Sequence[str],
    config: Optional[IntegrationConfig] = None,
    *,
    with_lineage: bool = True,
) -> DataFrame:
    """Read one CSV / a glob of CSVs with an all-string schema.

    When ``config`` is given, the schema is pinned to the declared source
    columns (string-typed) so malformed extra text can't shift columns;
    otherwise the header drives the schema.
    """
    delimiter = config.source.delimiter if config else ","
    header = config.source.has_header if config else True
    reader = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if config:
        reader = reader.schema(source_schema(config))
    df = reader.csv(_paths(path_or_glob))
    if with_lineage:
        df = df.withColumn(FILE_SOURCE_COL, F.input_file_name())
    return df


def read_source_jsonl(
    spark: SparkSession,
    path_or_glob: str | Sequence[str],
    config: Optional[IntegrationConfig] = None,
    *,
    with_lineage: bool = True,
) -> DataFrame:
    """Read newline-delimited JSON with the same pinned all-string
    discipline as :func:`read_source_csv`: when ``config`` is given, the
    schema is the declared source columns (string-typed) — no inference
    job (at scale, JSON schema inference is a full extra pass over the
    landing zone) and unexpected fields are simply not materialized
    (column pruning pushes into the JSON parser). JSONL is the landing
    format crawl/export pipelines actually hand over; semantics
    otherwise mirror the CSV source (PERMISSIVE, optional lineage)."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if config:
        reader = reader.schema(source_schema(config))
    df = reader.json(_paths(path_or_glob))
    if with_lineage:
        df = df.withColumn(FILE_SOURCE_COL, F.input_file_name())
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table.

    ``events.ts`` storage has shipped in two flavors across driver testdata
    generations — INT64 TIMESTAMP(NANOS) (read via the legacy nanos-as-long
    escape hatch) and plain TIMESTAMP/TIMESTAMP_NTZ (µs). Either way the
    loaded frame exposes BOTH a raw-nanos ``ts_ns`` LongType twin (what the
    DuckDB oracle's ``epoch_ns(ts)`` sees) and a timestamp ``ts`` column
    for window/date functions, so every consumer sees one schema.
    """
    if name == "events":
        enable_nanos_as_long(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts_ns", F.col("ts")).withColumn("ts", nanos_to_timestamp("ts"))
        elif ts_type == "timestamp_ntz":
            # plain TIMESTAMP_NTZ (µs) storage: synthesize the raw-nanos twin
            # so every ts_ns consumer (and DuckDB's epoch_ns(ts) oracle, which
            # yields µs*1000 for microsecond timestamps) sees one schema.
            # timestampdiff is timezone-free — the naive wall-clock value maps
            # to epoch micros exactly as DuckDB treats it.
            df = df.withColumn(
                "ts_ns",
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
                ).cast("bigint"),
            )
        elif ts_type == "timestamp":
            df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_tables(spark: SparkSession, sf_dir: str, names: Sequence[str] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Load the driver's parquet tables for one scale factor."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: "T.StructType | str",
    *,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Read newline-delimited JSON with an EXPLICIT schema.

    Schema inference on JSON triggers a full pre-scan of the data — at
    100 TB that is a second read of the corpus before the first real job,
    so this helper makes the schema mandatory. Corrupt lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the scan;
    route them to the error sink like any validation failure.
    """
    # PERMISSIVE mode only captures bad lines if the corrupt column exists
    # in the schema — without it they'd surface as all-NULL rows,
    # indistinguishable from legitimate nulls. Append it when absent so the
    # documented error-sink flow always has the raw payload.
    if isinstance(schema, str):
        if "_corrupt_record" not in schema:
            schema = schema + ", _corrupt_record STRING"
    elif "_corrupt_record" not in schema.fieldNames():
        schema = schema.add("_corrupt_record", T.StringType())
    reader = spark.read.schema(schema)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def conform_to_contract(
    df: DataFrame,
    contract: "T.StructType | str",
    *,
    on_type_mismatch: str = "try_cast",
) -> DataFrame:
    """Conform a drifting source frame to a stable schema CONTRACT.

    Long-lived pipelines read sources whose physical schema drifts across
    vintages (columns appear, disappear, change type). Downstream
    operators must not care, so the contract is enforced at the boundary:

    * contract column missing from the source -> typed NULL column;
    * extra source columns -> dropped (projection, pushed into the scan);
    * type mismatch -> ``try_cast`` (value-level failures become NULL for
      the validation engine to flag, never a job abort — ANSI-safe), or
      ``"strict"`` to raise at plan time for schema-incompatible vintages.

    Pure projection: zero shuffle, column pruning still reaches the scan,
    and the output schema is bit-identical across every vintage — which
    is what makes multi-year backfills unionable by position-free name.
    """
    schema = T._parse_datatype_string(contract) if isinstance(contract, str) else contract
    if on_type_mismatch not in ("try_cast", "strict"):
        raise ValueError(f"on_type_mismatch must be try_cast|strict, got {on_type_mismatch!r}")
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have[f.name] == f.dataType:
            cols.append(F.col(f.name))
        elif on_type_mismatch == "strict":
            raise TypeError(
                f"column {f.name!r}: source has {have[f.name].simpleString()}, "
                f"contract wants {f.dataType.simpleString()}"
            )
        else:
            cols.append(F.col(f.name).try_cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_source_fixed_width(
    spark: SparkSession,
    path_or_glob: str | Sequence[str],
    colspecs: Sequence[tuple[str, int, int]],
    *,
    with_lineage: bool = True,
) -> DataFrame:
    """Read fixed-width (mainframe-/PLC-export-style) records with the
    same pinned all-string discipline as :func:`read_source_csv`.

    ``colspecs`` is ``(name, start, width)`` with 1-based ``start`` —
    the layout is DECLARED, never inferred (layout drift must fail
    validation downstream, not silently reshuffle columns). Each field
    is ``trim(substr(line, start, width))`` with empty-after-trim
    mapped to NULL, mirroring how the CSV source surfaces missing
    values to the rule engine.

    Scale posture: ``spark.read.text`` splits by newline like the CSV
    reader (same partitioning/pushdown behavior); the substrings are
    pure column expressions — zero UDF, zero shuffle.
    """
    df = spark.read.text(_paths(path_or_glob))
    cols = [
        F.nullif(
            F.trim(F.substring(F.col("value"), start, width)), F.lit("")
        ).alias(name)
        for name, start, width in colspecs
    ]
    if with_lineage:
        return df.select(*cols, F.input_file_name().alias(FILE_SOURCE_COL))
    return df.select(*cols)


def read_source_xml(
    spark: SparkSession,
    path_or_glob: str | Sequence[str],
    config: Optional[IntegrationConfig] = None,
    *,
    row_tag: str = "record",
    with_lineage: bool = True,
) -> DataFrame:
    """Read XML records through Spark 4's NATIVE xml datasource with the
    same pinned all-string discipline as the CSV/JSONL/fixed-width
    sources: when ``config`` is given, the schema is the declared source
    columns (string-typed) — no inference pass (XML inference is a full
    extra scan of the landing zone), missing elements surface as NULL.
    The reference's own config format is XML (src/xml_parser.py), so
    XML *data* interchange belongs in the source matrix too.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if config:
        reader = reader.schema(source_schema(config))
    df = reader.load(_paths(path_or_glob))
    if with_lineage:
        df = df.withColumn(FILE_SOURCE_COL, F.input_file_name())
    return df


def read_source_orc(
    spark: SparkSession,
    path_or_glob: str | Sequence[str],
    config: Optional[IntegrationConfig] = None,
    *,
    with_lineage: bool = True,
) -> DataFrame:
    """Read ORC landing files with the same pinned discipline as the
    CSV/JSONL/fixed-width/XML sources: when ``config`` is given, the
    output is exactly the declared source columns cast to string —
    columns the file happens to carry beyond the contract are dropped,
    declared columns the file lacks surface as NULL (layout drift must
    fail validation downstream, never silently reshape).

    Unlike text formats, ORC is self-describing and columnar — Spark's
    native reader prunes to the selected columns and pushes filters into
    stripe/row-group skipping, so at landing-zone scale this source is
    strictly cheaper than the text siblings; the string casts keep rule
    semantics (NUMERIC-on-cast-failure etc.) byte-identical across
    formats.
    """
    df = spark.read.orc(_paths(path_or_glob))
    if config:
        present = set(df.columns)
        cols = [
            (
                F.col(c).cast("string")
                if c in present
                else F.lit(None).cast("string")
            ).alias(c)
            for c in config.source_columns
        ]
        df = df.select(*cols)
    if with_lineage:
        df = df.withColumn(FILE_SOURCE_COL, F.input_file_name())
    return df


def schema_drift_report(
    spark: SparkSession,
    file_columns: Sequence[str],
    config: IntegrationConfig,
) -> DataFrame:
    """Layout-drift audit: compare a landing file's ACTUAL columns
    against the config-declared source columns and report every column's
    status — ``ok`` (declared and present), ``missing_in_file``
    (declared, absent: downstream rules would see all-NULL), or
    ``undeclared`` (present, not mapped: silently dropped by the pinned
    readers). The reference's row loop fails obscurely on layout drift;
    this surfaces it as a first-class pre-flight table (the check
    `plans/validator.py` runs driver-side, as data).

    ``file_columns`` is file METADATA (a header read / parquet-ORC
    footer), inherently driver-sized — the report is a tiny
    createDataFrame, never a scan.
    """
    declared = list(config.source_columns)
    everything = list(
        dict.fromkeys(list(file_columns) + declared)
    )  # stable union
    fset, dset = set(file_columns), set(declared)
    rows = []
    for c in everything:
        in_cfg, in_file = c in dset, c in fset
        status = (
            "ok"
            if in_cfg and in_file
            else ("missing_in_file" if in_cfg else "undeclared")
        )
        rows.append((c, in_cfg, in_file, status))
    return spark.createDataFrame(
        rows, "column_name string, in_config boolean, in_file boolean, status string"
    )
