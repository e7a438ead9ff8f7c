"""CLI entry point — argument surface mirrors the reference's
``src/main.py:58-90`` (``--input`` / ``--batch`` / ``--config`` /
``--dry-run``), re-expressed on Spark.

Key difference by design: ``--batch`` does NOT loop files on the driver.
The whole glob is one distributed read with per-file lineage, and the
batch summary (``N/M files processed successfully``) comes from a
``groupBy(FileSource)`` over the same cached validation pass.

``--dry-run`` is ``run_etl_pipeline`` with no sink and no archive step. A
real run stopped by ``error_handling=fail_fast`` prints its counts, exits 1.

Usage:
    python -m manufacturing_data_integration_tool_spark --input data.csv --config mapping.xml
    python -m manufacturing_data_integration_tool_spark --batch 'raw/*.csv' --config mapping.xml --output-dir out/
"""

from __future__ import annotations

import argparse
import glob as _glob
import os
import sys
from typing import Optional, Sequence

from .config import load_config
from .pipeline import ValidationFailFast, run_etl_pipeline


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="manufacturing_data_integration_tool_spark",
        description="Manufacturing Data Integration Tool (PySpark engine)",
    )
    parser.add_argument("--input", "-i", help="Single CSV file to process")
    parser.add_argument("--batch", "-b", help="Process multiple files (glob pattern)")
    parser.add_argument("--config", "-c", required=True, help="Path to XML mapping config")
    parser.add_argument(
        "--dry-run", action="store_true", help="Validate only, do not write sinks"
    )
    parser.add_argument("--output-dir", "-o", help="Directory for parquet sinks")
    parser.add_argument("--archive-dir", help="Archive processed files here")
    parser.add_argument("--master", default="local[*]", help="Spark master (default local[*])")
    return parser


def main(argv: Optional[Sequence[str]] = None) -> int:
    args = build_parser().parse_args(argv)
    if not args.input and not args.batch:
        print("No input specified: pass --input FILE or --batch GLOB", file=sys.stderr)
        return 2

    path = args.input or args.batch
    if args.input and not os.path.exists(args.input):
        print(f"Error: File not found: {args.input}", file=sys.stderr)
        return 1
    if args.batch and not _glob.glob(args.batch):
        print(f"No files found matching: {args.batch}", file=sys.stderr)
        return 1

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName("mdi-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    cfg = load_config(args.config)

    code = 0
    try:
        report = run_etl_pipeline(
            spark,
            path,
            cfg,
            output_dir=None if args.dry_run else args.output_dir,
            archive=False if args.dry_run else bool(args.archive_dir) or None,
            archive_dir=args.archive_dir,
        )
    except ValidationFailFast as exc:
        # raised before any sink write, so a dry run still succeeds; the
        # counted report rides on the exception
        report = exc.report
        if not args.dry_run:
            print(f"Error: {exc}", file=sys.stderr)
            code = 1
    spark.stop()

    if args.dry_run:
        print(
            f"[DRY RUN] total={report.total_records} valid={report.valid_records} "
            f"invalid={report.invalid_records}"
        )
    else:
        print(
            f"total={report.total_records} valid={report.valid_records} "
            f"invalid={report.invalid_records} ({report.valid_pct:.1f}% valid) "
            f"inserted={report.rows_inserted} errors_logged={report.errors_logged}"
        )
        for fc in report.file_counts:
            status = "OK " if fc["invalid"] == 0 else "ERR"
            print(f"  {status} {fc['file']}: total={fc['total']} valid={fc['valid']} invalid={fc['invalid']}")
        if report.file_counts:
            print(
                f"BATCH COMPLETE: {report.files_succeeded}/{len(report.file_counts)} "
                "files fully valid"
            )
    for r in report.error_preview:
        print(f"  error: {r['field_name']} {r['error_type']}: {r['error_message']}")
    if report.archived:
        print(f"archived {len(report.archived)} file(s)")
    return code


if __name__ == "__main__":
    raise SystemExit(main())
