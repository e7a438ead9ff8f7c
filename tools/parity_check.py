"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column set,
and order-insensitive values (strict equality after canonical sorting).
Queries without an oracle get a rows-only report.

Usage:
    python tools/parity_check.py --sf /root/testdata/sf0.01
    python tools/parity_check.py --sf /root/testdata/sf0.001 -q q01_pricing_summary
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def create_views(con: duckdb.DuckDBPyConnection, sf: str) -> None:
    """One DuckDB view per table under ``sf``. A table may be a single
    parquet file or a Spark-style directory of part files; DuckDB's
    ``read_parquet`` finds no files in a directory, so that takes a glob."""
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        if Path(path).is_dir():
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row counts differ: {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col].to_numpy(), b[col].to_numpy()
        a_float = np.issubdtype(av.dtype, np.floating)
        b_float = np.issubdtype(bv.dtype, np.floating)
        a_int = np.issubdtype(av.dtype, np.integer)
        b_int = np.issubdtype(bv.dtype, np.integer)
        # The driver's hash is type-sensitive: a Spark bigint vs a DuckDB
        # HUGEINT-rendered-as-float64 mismatch must FAIL here too, or this
        # gate is weaker than the one it stands in for (r7 verdict #1).
        if (a_float and b_int) or (a_int and b_float):
            return False, (
                f"col {col} dtype mismatch: {av.dtype} vs {bv.dtype}"
                " (int-vs-float; CAST the oracle's published column)"
            )
        if a_float or b_float:
            af = av.astype("float64")
            bf = bv.astype("float64")
            same = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not same.all():
                i = int(np.argmin(same))
                return False, f"col {col} differs at sorted-row {i}: {af[i]!r} vs {bf[i]!r}"
        else:
            astr = pd.Series(av).astype("string").fillna("<NULL>")
            bstr = pd.Series(bv).astype("string").fillna("<NULL>")
            same = (astr == bstr).to_numpy()
            if not same.all():
                i = int(np.argmin(same))
                return False, f"col {col} differs at sorted-row {i}: {astr[i]!r} vs {bstr[i]!r}"
    return True, "ok"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-q", "--queries", nargs="*", action="extend", default=None)
    ap.add_argument(
        "--json",
        default=None,
        help="also write a per-query JSON report (CORRECTNESS-style) to this path",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("parity-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    create_views(con, args.sf)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.queries or list(qs)
    failures = 0
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {str(e)[:300]}")
            report[name] = {"status": "error", "error": f"{type(e).__name__}: {str(e)[:300]}"}
            failures += 1
            continue
        spark_s = round(time.time() - t0, 2)
        if name not in oracles:
            # A rows-only entry that emits nothing proves only that the
            # query doesn't crash (r4 verdict #1) — 0 rows is a FAILURE.
            vacuous = len(sdf) == 0
            tag = "FAIL" if vacuous else "rows"
            note = " VACUOUS: 0 rows" if vacuous else ""
            print(
                f"{tag}  {name}: {len(sdf)} rows (no oracle; rows-only)"
                f" [{spark_s:.1f}s]{note}"
            )
            report[name] = {
                "status": "fail_vacuous" if vacuous else "rows_only",
                "spark_rows": len(sdf),
                "seconds": spark_s,
            }
            failures += 1 if vacuous else 0
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {str(e)[:300]}")
            report[name] = {"status": "error", "error": f"{type(e).__name__}: {str(e)[:300]}"}
            failures += 1
            continue
        ok, why = values_equal(canon(sdf), canon(odf))
        status = "OK  " if ok else "FAIL"
        print(f"{status}  {name}: spark={len(sdf)} oracle={len(odf)} rows [{spark_s:.1f}s] {'' if ok else why}")
        report[name] = {
            "status": "ok" if ok else "fail",
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "rows_match": len(sdf) == len(odf),
            "columns_match": sorted(sdf.columns) == sorted(odf.columns),
            "values_match": ok,
            "seconds": spark_s,
            **({} if ok else {"why": why}),
        }
        failures += 0 if ok else 1

    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'} over {len(names)} queries")
    if args.json:
        import json

        summary = {
            "sf": args.sf,
            "n_queries": len(names),
            "n_failures": failures,
            "queries": report,
        }
        Path(args.json).write_text(json.dumps(summary, indent=1) + "\n")
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
