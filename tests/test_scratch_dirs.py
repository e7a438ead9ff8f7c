"""Disk-writing queries in ``__spark_entry__`` keep one scratch tree per
(Spark app, query, sf) under the temp dir, so calling a query again leaves
nothing new behind."""

import tempfile

import pytest
from conftest import TESTDATA

import __spark_entry__ as entry


@pytest.mark.parametrize("query", ["q326_orc_roundtrip", "q302_streaming_bloom_state"])
def test_repeated_calls_leave_one_scratch_tree(spark, tmp_path, monkeypatch, query):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fn = getattr(entry, query)
    results = [
        sorted(tuple(r) for r in fn(spark, str(TESTDATA / "sf0.001")).collect())
        for _ in range(2)
    ]
    assert results[0] == results[1] and results[0]
    assert len(list(tmp_path.glob(f"mdi_{query.split('_')[0]}_*"))) <= 1
