"""Property-based tests (hypothesis) for driver-side pure functions —
no Spark jobs, so examples are cheap and shrinking works."""

import re

from hypothesis import given, settings, strategies as st

from manufacturing_data_integration_tool_spark.config import (
    _coerce_rule_params,
    parse_config_xml,
)
from manufacturing_data_integration_tool_spark.plans.rules import anchored


@given(st.text(min_size=1).filter(lambda p: _compilable(p)))
@settings(max_examples=200, deadline=None)
def test_anchored_matches_re_match_semantics(pattern):
    """rlike(anchored(p)) must equal re.match(p) semantics: anchoring never
    changes which strings a start-match accepts."""
    probe = "LINE123 and more"
    try:
        py_match = re.match(pattern, probe) is not None
        search_anchored = re.search(anchored(pattern), probe) is not None
    except re.error:
        return
    assert py_match == search_anchored


def _compilable(p: str) -> bool:
    try:
        re.compile(p)
        re.compile(anchored(p))
        return True
    except re.error:
        return False


@given(
    st.one_of(
        st.integers(min_value=-10**9, max_value=10**9),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    )
)
@settings(max_examples=200, deadline=None)
def test_range_param_coercion_matches_reference(v):
    """Reference parser quirk (src/xml_parser.py:114-121): min/max become
    int when the literal has no '.', float otherwise."""
    raw = str(v)
    out = _coerce_rule_params("range", {"min": raw})
    if "." in raw:
        assert isinstance(out["min"], float) and out["min"] == float(raw)
    else:
        assert isinstance(out["min"], int) and out["min"] == int(raw)


@given(
    st.text(
        # XML normalizes \t\r\n in attribute values to spaces (spec), and
        # control chars are not well-formed — exclude both; <>&"' need
        # escaping we don't do in this fixture
        alphabet=st.characters(
            blacklist_characters="<>&\"'\t\r\n",
            blacklist_categories=("Cc", "Cs"),
        ),
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_config_field_roundtrip(name):
    """Any XML-attribute-safe source name survives parse; required flag
    parses case-insensitively."""
    if not name.strip():
        return
    xml = f"""
    <ETLMapping>
      <FieldMappings>
        <Field source="{name}" target="T" dataType="varchar(10)" required="TRUE">
          <Validation rule="not_null"/>
        </Field>
      </FieldMappings>
    </ETLMapping>
    """
    cfg = parse_config_xml(xml)
    assert cfg.fields[0].source == name
    assert cfg.fields[0].required is True
    assert cfg.fields[0].rules[0].kind == "not_null"


def test_driver_contract_oracle_coverage():
    """Tripwire: every registered query carries a DuckDB value oracle
    unless it is on the documented rows-only list (KMeans-, BLAS-, or
    engine-private-sketch-backed). A new query added without an oracle —
    or a regression that drops one — fails here before the driver sees
    it. Also pins the first-50 driver-gate window to fully-oracled
    entries."""
    import __spark_entry__ as e

    ROWS_ONLY_ALLOWED = {
        "q156_pca_embeddings",    # BLAS eigendecomposition
        "q74_hll_distinct",       # engine-private HLL state
        "q100_approx_quantiles",  # engine-private GK sketch
        "q108_sketch_rollup",     # engine-private HLL state
    }
    q = list(e.queries())
    o = set(e.oracle_sql())
    missing = [k for k in q if k not in o and k not in ROWS_ONLY_ALLOWED]
    assert not missing, f"queries without oracle or allowlist entry: {missing}"
    stale = ROWS_ONLY_ALLOWED - set(q)
    assert not stale, f"allowlist entries no longer registered: {stale}"
    upgraded = ROWS_ONLY_ALLOWED & o
    assert not upgraded, f"allowlisted queries now have oracles — prune: {upgraded}"
    first50 = q[:50]
    gate_rows_only = [k for k in first50 if k not in o]
    assert not gate_rows_only, (
        f"rows-only queries inside the driver's first-50 gate window: {gate_rows_only}"
    )


def test_oracle_published_types_are_hash_portable():
    """Tripwire for the r7 driver red (q145): DuckDB renders HUGEINT sums
    as float64 in pandas while Spark's bigint stays int64, so any
    type-sensitive hash mismatches even when values are identical.
    DESCRIBE every oracle (binds only, no execution — ~1s for all 300)
    and assert each published column is from the known-portable set.
    A bare SUM(bigint) in a final SELECT lands here as HUGEINT and fails."""
    import importlib.util
    from pathlib import Path

    import duckdb

    import __spark_entry__ as e

    spec = importlib.util.spec_from_file_location(
        "parity_check", Path(__file__).resolve().parents[1] / "tools" / "parity_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    ALLOWED = {"VARCHAR", "DOUBLE", "BIGINT", "INTEGER", "BOOLEAN", "DATE"}
    con = duckdb.connect()
    mod.create_views(con, "/root/testdata/sf0.001")
    offenders = []
    for name, sql in e.oracle_sql().items():
        for col, ty, *_ in con.execute(f"DESCRIBE ({sql})").fetchall():
            if ty.split("(")[0] not in ALLOWED:
                offenders.append((name, col, ty))
    assert not offenders, (
        "oracles publishing hash-unportable column types (CAST the final "
        f"SELECT, e.g. CAST(SUM(x) AS BIGINT)): {offenders}"
    )


def test_parity_comparator_rejects_int_vs_float():
    """The builder's gate must be at least as strict as the driver's
    (r7 verdict #1): value-identical frames that differ int64-vs-float64
    must FAIL, not be silently coerced."""
    import importlib.util
    from pathlib import Path

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "parity_check", Path(__file__).resolve().parents[1] / "tools" / "parity_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    a = pd.DataFrame({"k": ["x", "y"], "v": pd.array([5, 7], dtype="int64")})
    b = pd.DataFrame({"k": ["x", "y"], "v": pd.array([5.0, 7.0], dtype="float64")})
    ok, why = mod.values_equal(mod.canon(a), mod.canon(b))
    assert not ok and "dtype mismatch" in why
    # and identical-dtype frames still pass
    ok2, _ = mod.values_equal(mod.canon(a), mod.canon(a.copy()))
    assert ok2


def test_plan_audit_fails_on_a_query_that_raises(monkeypatch, tmp_path):
    """A query that raises gives the same error text at every scale, so
    its 'fingerprint' never drifts; both audit modes must still fail on it.
    The session is stubbed: the query raises before any plan exists."""
    import importlib.util
    from pathlib import Path
    from types import SimpleNamespace

    import pytest

    import __spark_entry__ as e

    spec = importlib.util.spec_from_file_location(
        "plan_audit", Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def q1_broken(spark, sf_dir):
        raise NameError("name 'undefined_helper' is not defined")

    monkeypatch.setattr(e, "queries", lambda: {"q1_broken": q1_broken})
    monkeypatch.setattr(mod, "_session", lambda: SimpleNamespace(stop=lambda: None))
    assert mod.sweep(["a", "b"]) == 1

    out = tmp_path / "PLANS.md"
    monkeypatch.setattr("sys.argv", ["plan_audit.py", "--out", str(out)])
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 1
    assert "| q1_broken |" in out.read_text() and "ERROR" in out.read_text()


def test_bench_ledger_covers_every_registered_query():
    """bench.py's no-silent-caps ledger: every queries() entry is either
    timed (HEADLINE) or excluded with a written reason — and nothing
    stale or double-listed. Mirrors the runtime tripwire in bench.main()
    so drift fails fast in CI, not only at bench time."""
    import bench
    import __spark_entry__ as entry

    qs = set(entry.queries())
    h, x = set(bench.HEADLINE), set(bench.EXCLUDED)
    assert not (qs - h - x), f"neither benched nor excluded: {sorted(qs - h - x)}"
    assert not ((h | x) - qs), f"stale ledger entries: {sorted((h | x) - qs)}"
    assert not (h & x), f"both benched and excluded: {sorted(h & x)}"
    assert len(bench.HEADLINE) == len(h), "duplicate HEADLINE entries"
    for name, reason in bench.EXCLUDED.items():
        assert isinstance(reason, str) and len(reason) > 10, name
