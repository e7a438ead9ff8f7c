"""The one validate -> count -> sink body (``pipeline.load_batch``) as its
three callers see it: the batch pipeline (JDBC sinks, archive), the file
stream under ``fail_fast`` and the CLI under ``fail_fast``."""

import dataclasses
import shutil
import subprocess
import sys
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException

from manufacturing_data_integration_tool_spark import load_config
from manufacturing_data_integration_tool_spark.pipeline import run_etl_pipeline
from manufacturing_data_integration_tool_spark.sources.archive import archive_file
from manufacturing_data_integration_tool_spark.sources.sinks import ERROR_TABLE
from manufacturing_data_integration_tool_spark.streaming import start_file_stream

REPO = Path(__file__).resolve().parents[1]


def _with_error_handling(cfg, mode: str):
    return dataclasses.replace(cfg, etl=dataclasses.replace(cfg.etl, error_handling=mode))


def test_jdbc_run_loads_target_and_error_tables(spark, golden_csv, mapping_config_path, tmp_path):
    """Valid rows land in the target table and error rows in the
    reference's error table, on one connection string (embedded Derby; its
    driver registers itself, so no ``driver`` option is needed)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    except Exception:
        pytest.skip("Derby embedded driver not on the Spark classpath")
    url = f"jdbc:derby:{tmp_path}/etl;create=true"
    cfg = load_config(mapping_config_path)
    cfg = dataclasses.replace(cfg, target=dataclasses.replace(cfg.target, connection_string=url))

    report = run_etl_pipeline(spark, golden_csv, cfg, jdbc=True)

    assert (report.rows_inserted, report.errors_logged) == (6, 4)

    def rows(table):
        return spark.read.format("jdbc").options(url=url, dbtable=table).load()

    assert rows(cfg.target.target_table).count() == 6
    errors = rows(ERROR_TABLE)
    assert errors.count() == 4
    assert set(errors.columns) == {"FileSource", "ErrorType", "ErrorMessage", "FieldName", "FieldValue"}


def test_batch_glob_archives_header_only_file(spark, golden_csv, mapping_config_path, tmp_path):
    """Every file the read listed is archived, including a header-only one
    that contributes no rows; the space in the inbox name checks that the
    percent-encoded URIs Spark lists are decoded."""
    inbox = tmp_path / "in box"
    inbox.mkdir()
    shutil.copy(golden_csv, inbox / "data.csv")
    (inbox / "empty.csv").write_text(Path(golden_csv).read_text().splitlines()[0] + "\n")
    arch = tmp_path / "arch"

    report = run_etl_pipeline(
        spark, str(inbox / "*.csv"), mapping_config_path, archive=True, archive_dir=str(arch)
    )

    assert report.total_records == 9 and len(report.file_counts) == 1
    assert len(report.archived) == 2
    assert list(inbox.iterdir()) == []
    assert sorted(p.name.split("_", 2)[2] for p in arch.iterdir()) == ["data.csv", "empty.csv"]


def test_archive_file_uri_defaults_to_processed_beside_source(spark, tmp_path):
    inbox = tmp_path / "in box"
    inbox.mkdir()
    src = inbox / "a.csv"
    src.write_text("x\n")

    dest = archive_file(spark, src.as_uri(), now=datetime(2024, 1, 2, 3, 4, 5))

    assert not src.exists()
    assert (inbox / "processed" / "20240102_030405_a.csv").read_text() == "x\n"
    assert dest.endswith("in box/processed/20240102_030405_a.csv")


def test_file_stream_fail_fast_writes_and_archives_nothing(spark, golden_csv, mapping_config_path, tmp_path):
    cfg = _with_error_handling(load_config(mapping_config_path), "fail_fast")
    inbox = tmp_path / "in"
    inbox.mkdir()
    shutil.copy(golden_csv, inbox / "prod_0.csv")
    out = tmp_path / "out"

    q = start_file_stream(
        spark,
        str(inbox),
        cfg,
        str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=str(tmp_path / "arch"),
        available_now=True,
    )
    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination(120)

    assert "ValidationFailFast" in str(exc.value)
    assert not (out / "quality_data").exists()
    assert not (out / "validation_errors").exists()
    assert [p.name for p in inbox.iterdir()] == ["prod_0.csv"]
    assert not (tmp_path / "arch").exists()


def _fail_fast_config(mapping_config_path, tmp_path) -> str:
    xml = Path(mapping_config_path).read_text()
    assert "<ErrorHandling>continue</ErrorHandling>" in xml
    p = tmp_path / "fail_fast.xml"
    p.write_text(xml.replace("<ErrorHandling>continue</ErrorHandling>", "<ErrorHandling>fail_fast</ErrorHandling>"))
    return str(p)


def _cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "manufacturing_data_integration_tool_spark", *args, "--master", "local[2]"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_cli_dry_run_fail_fast_reports_and_succeeds(golden_csv, mapping_config_path, tmp_path):
    r = _cli("--input", golden_csv, "--config", _fail_fast_config(mapping_config_path, tmp_path), "--dry-run")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "[DRY RUN] total=9 valid=6 invalid=3" in r.stdout
    assert "error:" in r.stdout


def test_cli_fail_fast_reports_counts_and_exits_1(golden_csv, mapping_config_path, tmp_path):
    out = tmp_path / "out"
    r = _cli(
        "--input", golden_csv,
        "--config", _fail_fast_config(mapping_config_path, tmp_path),
        "--output-dir", str(out),
    )
    assert r.returncode == 1, r.stderr[-2000:]
    assert "total=9 valid=6 invalid=3" in r.stdout
    assert "Traceback" not in r.stderr
    assert "fail_fast: 3 of 9 rows invalid" in r.stderr
    assert not out.exists()
