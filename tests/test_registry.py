"""The query registry is derived from the ``q<N>_*`` function names, and
every tool that walks it sees the same names in the same order."""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

import pytest
from conftest import TESTDATA

REPO = Path(__file__).resolve().parents[1]
SF = TESTDATA / "sf0.001"


def test_queries_are_the_q_functions_in_number_order():
    import __spark_entry__ as e

    qs = e.queries()
    defined = [n for n in vars(e) if re.fullmatch(r"q\d+_\w+", n)]
    assert sorted(qs) == sorted(defined)
    nums = [int(re.match(r"q(\d+)_", n)[1]) for n in qs]
    assert nums == sorted(set(nums)), "registry not in strictly ascending N"
    for name, fn in qs.items():
        assert fn is getattr(e, name)


def test_bench_headline_is_the_registry_minus_exclusions():
    import bench
    import __spark_entry__ as e

    assert bench.HEADLINE == [q for q in e.queries() if q not in bench.EXCLUDED]


def test_bench_refuses_an_exclusion_that_names_no_query(monkeypatch):
    import bench

    monkeypatch.setitem(bench.EXCLUDED, "q999_renamed_away", "no longer registered")
    with pytest.raises(SystemExit, match="q999_renamed_away"):
        bench.main()


def test_parity_views_read_a_table_stored_as_a_directory(tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "parity_check", REPO / "tools" / "parity_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    for t in mod.TABLES:
        if t != "region":
            (tmp_path / f"{t}.parquet").symlink_to(SF / f"{t}.parquet")
    region = pq.read_table(SF / "region.parquet")
    part_dir = tmp_path / "region.parquet"
    part_dir.mkdir()
    pq.write_table(region.slice(0, 2), part_dir / "part-00000.parquet")
    pq.write_table(region.slice(2), part_dir / "part-00001.parquet")
    (part_dir / "_SUCCESS").touch()

    con = duckdb.connect()
    mod.create_views(con, str(tmp_path))
    assert con.execute("SELECT count(*) FROM region").fetchone()[0] == 5
