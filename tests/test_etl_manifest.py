"""run_etl_pipeline against an engine-independent manifest.

``perfbench/datagen.write_etl_glob`` plants a known number of rows of each
error kind (all eleven, DUPLICATE at zero by construction) and returns the
counts the pipeline must report, computed from the rows it wrote, not from
the engine. The golden 9-row fixture covers four error kinds; this covers
the report totals, the per-file counts and the error sink by kind, with the
extension rules on.
"""

import os
import sys

from manufacturing_data_integration_tool_spark.pipeline import run_etl_pipeline

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
import datagen  # noqa: E402


def test_etl_pipeline_matches_generated_manifest(spark, mapping_config_path, tmp_path):
    src = tmp_path / "etl_in"
    m = datagen.write_etl_glob(str(src), seed=5, files=2, rows_per_file=500)
    dim = spark.createDataFrame([(o,) for o in datagen.OPERATORS], "operator_id string")
    out = tmp_path / "out"

    report = run_etl_pipeline(
        spark,
        str(src / "production_data_*.csv"),
        mapping_config_path,
        output_dir=str(out),
        dim_tables={"Production.Operators": dim},
        extensions=True,
    )

    assert (
        report.total_records, report.valid_records, report.invalid_records,
        report.rows_inserted, report.errors_logged,
    ) == (m.total, m.valid, m.invalid, m.rows_inserted, m.errors_logged)
    per_file = {
        os.path.basename(f["file"]): {k: f[k] for k in ("total", "valid", "invalid")}
        for f in report.file_counts
    }
    assert per_file == m.per_file
    assert spark.read.parquet(str(out / "quality_data")).count() == m.rows_inserted
    errors = spark.read.parquet(str(out / "validation_errors"))
    by_kind = {r["ErrorType"]: r["count"] for r in errors.groupBy("ErrorType").count().collect()}
    assert len(m.errors_by_kind) == 11
    assert by_kind == {k: v for k, v in m.errors_by_kind.items() if v}
