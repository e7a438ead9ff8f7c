"""The benchmark's workloads: what each one touches in set-up, checks in its
warm pass and times in a pass.

* ``etl_ingest``: one ``run_etl_pipeline`` call over a seeded glob of
  production CSVs with planted errors (``datagen.write_etl_glob``).
* ``query_mix``: queries from ``__spark_entry__.queries()`` over the generated parquet tables, each
  executed in full (Spark's ``noop`` sink) with its row count taken by an
  ``Observation`` on the same job.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from contextlib import nullcontext
from pathlib import Path
from typing import Callable

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
CONFIG_XML = ROOT / "tests" / "fixtures" / "mapping_config.xml"

# The ETL glob: files x rows per file.
ETL_FILES = 8
ETL_ROWS_PER_FILE = 5_000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release_persistent(spark) -> None:
    """Drop what an operation left cached, after it has been counted."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def local_bytes_read(spark) -> int:
    """Bytes read through Hadoop's local file system in this JVM (executors
    share the driver JVM under ``local[N]``)."""
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem
    return int(sum(s.getBytesRead() for s in fs.getAllStatistics() if s.getScheme() == "file"))


# query -> tables it reads (for the rows-read throughput of query workloads).
# A scan -> join -> aggregate plan behind the round-robin scan fan-out,
# per-row text and embedding work, and a job-count-bound graph loop.
QUERY_MIX = {
    "q43_shipping_priority": ("customer", "orders", "lineitem"),
    "q59_tfidf": ("documents",),
    "q91_semantic_dedup": ("embeddings",),
    "q179_kcore": ("documents",),
}


class Workload:
    """One workload: its set-up touch, its checked warm pass, and the timed
    operations of one pass. A pass returns one record per operation with
    the facts the per-layer metrics need."""

    def touch(self, spark) -> None:
        raise NotImplementedError

    def warm(self, spark) -> tuple[int, int]:
        """Untimed checked pass; returns (attempted, failed)."""
        raise NotImplementedError

    def run_pass(self, spark, pass_no: int, tracer) -> tuple[float, int, int, list[dict]]:
        """Timed pass; returns (wall seconds, attempted, failed, records)."""
        raise NotImplementedError

    def rows_per_pass(self) -> int:
        raise NotImplementedError


class EtlIngest(Workload):
    def __init__(self, seed: int):
        import datagen

        src = WORK / "etl_input"
        self.manifest = datagen.write_etl_glob(str(src), seed, ETL_FILES, ETL_ROWS_PER_FILE)
        self.glob = str(src / "production_data_*.csv")
        self.operators = datagen.OPERATORS
        self.cfg = None
        self.dim = None

    def rows_per_pass(self) -> int:
        return self.manifest.total

    def touch(self, spark) -> None:
        from manufacturing_data_integration_tool_spark.config import load_config

        self.cfg = load_config(str(CONFIG_XML))  # a span when traced
        spark.read.option("header", True).csv(self.glob).write.format("noop").mode("overwrite").save()
        self.dim = spark.createDataFrame([(o,) for o in self.operators], "operator_id string")
        self.dim.write.format("noop").mode("overwrite").save()

    def _call(self, spark, glob: str, sink: Path):
        from manufacturing_data_integration_tool_spark.pipeline import run_etl_pipeline

        return run_etl_pipeline(
            spark,
            glob,
            self.cfg,
            output_dir=str(sink),
            sink_format="parquet",
            dim_tables={"Production.Operators": self.dim},
            extensions=True,
        )

    def _fresh_sink(self) -> Path:
        sink = WORK / "sink"
        shutil.rmtree(sink, ignore_errors=True)
        sink.mkdir(parents=True)
        return sink

    @staticmethod
    def check(spark, m, report, sink: Path, read_sinks: bool) -> list[str]:
        """Differences between a ``PipelineReport`` (and, with
        ``read_sinks``, the rows in both sinks) and manifest ``m``."""
        bad = []
        for key, want in (
            ("total_records", m.total),
            ("valid_records", m.valid),
            ("invalid_records", m.invalid),
            ("errors_logged", m.errors_logged),
            ("rows_inserted", m.rows_inserted),
        ):
            got = getattr(report, key)
            if got != want:
                bad.append(f"{key}={got} want {want}")
        per_file = {os.path.basename(f["file"]): {k: f[k] for k in ("total", "valid", "invalid")} for f in report.file_counts}
        if per_file != m.per_file:
            bad.append(f"file_counts differ: {per_file} want {m.per_file}")
        if read_sinks:
            valid_rows = spark.read.parquet(str(sink / "quality_data")).count()
            if valid_rows != m.rows_inserted:
                bad.append(f"quality_data rows={valid_rows} want {m.rows_inserted}")
            errors = spark.read.parquet(str(sink / "validation_errors"))
            kinds = {r[0]: r[1] for r in errors.groupBy("ErrorType").count().collect()}
            want = {k: v for k, v in m.errors_by_kind.items() if v}
            if kinds != want:
                bad.append(f"validation_errors by kind {kinds} want {want}")
        return bad

    def warm(self, spark) -> tuple[int, int]:
        sink = self._fresh_sink()
        try:
            report = self._call(spark, self.glob, sink)
            bad = self.check(spark, self.manifest, report, sink, read_sinks=True)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            bad = [f"{type(e).__name__}: {e}"]
        for b in bad:
            log(f"etl warm check failed: {b}")
        release_persistent(spark)
        return 1, int(bool(bad))

    def run_pass(self, spark, pass_no, tracer):
        sink = self._fresh_sink()
        bytes0 = local_bytes_read(spark)
        t0 = time.perf_counter()
        try:
            report = self._call(spark, self.glob, sink)
            err = None
        except Exception as e:  # noqa: BLE001
            report, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        scanned = local_bytes_read(spark) - bytes0
        # the sinks of the full glob are read back once per run
        bad = [err] if err else self.check(spark, self.manifest, report, sink, read_sinks=pass_no == 0)
        for b in bad:
            log(f"etl pass {pass_no} check failed: {b}")
        files = [p for p in sink.rglob("*") if p.is_file() and p.name.startswith("part-")]
        rec = {
            "op": "run_etl_pipeline",
            "scan_passes": scanned / self.manifest.bytes,
            "output_bytes": sum(p.stat().st_size for p in files),
            "output_files": len(files),
            "rdds_left": persistent_rdds(spark),
        }
        release_persistent(spark)
        return wall, 1, int(bool(bad)), [rec]


def _span(tracer, name: str, layer: str):
    return nullcontext() if tracer is None else tracer.span(name, layer)


class QueryMix(Workload):
    def __init__(self, seed: int):
        import datagen

        self.seed = seed
        self.queries = QUERY_MIX
        self.data_dir = WORK / "tables"
        datagen.write_query_tables(str(self.data_dir))
        self.table_rows = dict(datagen.QUERY_TABLE_ROWS, region=5, nation=25)
        pins = json.loads((HERE / "pinned.json").read_text())
        self.pinned = {q: pins[q] for q in self.queries}
        self.fns: dict[str, Callable] = {}

    def rows_per_pass(self) -> int:
        return sum(self.table_rows[t] for tables in self.queries.values() for t in tables)

    def touch(self, spark) -> None:
        import __spark_entry__

        registry = __spark_entry__.queries()
        self.fns = {q: registry[q] for q in self.queries}
        tables = sorted({t for ts in self.queries.values() for t in ts})
        for t in tables:
            spark.read.parquet(str(self.data_dir / f"{t}.parquet")).write.format("noop").mode("overwrite").save()

    def order(self, pass_no: int) -> list[str]:
        names = list(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(names)
        return names

    def warm(self, spark) -> tuple[int, int]:
        """Collect every query once and compare it with its DuckDB oracle
        twin (the canonical comparison of tools/parity_check.py) and with
        its pinned row count."""
        import duckdb

        sys.path.insert(0, str(ROOT / "tools"))
        import __spark_entry__
        from parity_check import canon, values_equal

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in sorted({t for ts in self.queries.values() for t in ts}):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir / f'{t}.parquet'}')")
            failed = 0
            for q in self.order(-1):
                try:
                    got = self.fns[q](spark, str(self.data_dir)).toPandas()
                    why = None
                    if len(got) != self.pinned[q]:
                        why = f"rows={len(got)} pinned {self.pinned[q]}"
                    elif q in oracles:
                        ok, why = values_equal(canon(got), canon(con.execute(oracles[q]).fetchdf()))
                        why = None if ok else why
                except Exception as e:  # noqa: BLE001
                    why = f"{type(e).__name__}: {str(e)[:300]}"
                if why:
                    failed += 1
                    log(f"{q}: oracle check failed: {why}")
                release_persistent(spark)
        finally:
            con.close()
        return len(self.queries), failed

    def run_pass(self, spark, pass_no, tracer):
        from pyspark.sql import Observation, functions as F

        records, failed, wall = [], 0, 0.0
        for q in self.order(pass_no):
            rec = {"op": q}
            try:
                t0 = time.perf_counter()
                with _span(tracer, f"spark_entry.{q}", "spark_entry") as sp:
                    df = self.fns[q](spark, str(self.data_dir))
                t1 = time.perf_counter()
                obs = Observation()
                observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                if tracer is not None:
                    rec["build_span"] = sp.id
                    with tracer.span(f"spark_sql.plan.{q}", "spark_sql.plan"):
                        observed._jdf.queryExecution().executedPlan()
                with _span(tracer, f"spark_sql.exec.{q}", "spark_sql.exec") as sp:
                    observed.write.format("noop").mode("overwrite").save()
                if tracer is not None:
                    rec["exec_span"] = sp.id
                t2 = time.perf_counter()
                rows = obs.get["rows"]
                wall += t2 - t0
                rec.update(build_s=t1 - t0, exec_s=t2 - t1)
                if rows != self.pinned[q]:
                    failed += 1
                    log(f"{q}: rows={rows} pinned {self.pinned[q]}")
            except Exception as e:  # noqa: BLE001
                failed += 1
                log(f"{q}: {type(e).__name__}: {str(e)[:300]}")
            rec["rdds_left"] = persistent_rdds(spark)
            release_persistent(spark)
            records.append(rec)
        return wall, len(self.queries), failed, records


WORKLOADS: dict[str, Callable[[int], Workload]] = {"etl_ingest": EtlIngest, "query_mix": QueryMix}
