"""Per-rule unit tests pinning the reference's edge semantics
(SURVEY.md §2.2, verified against src/data_validator.py:137-202)."""

import pytest
from pyspark.sql import functions as F

from manufacturing_data_integration_tool_spark import IntegrationConfig, FieldMapping, Rule, validate


def mk_cfg(*fields):
    return IntegrationConfig(fields=tuple(fields))


def run(spark, cfg, rows, schema):
    df = spark.createDataFrame(rows, schema)
    res = validate(df, cfg)
    return sorted(
        (r.field_name, r.error_type) for r in res.errors.collect()
    ), res.valid.count(), res.invalid.count()


def test_required_short_circuits_other_rules(spark):
    """Missing required value -> exactly one REQUIRED_FIELD_MISSING; the
    field's other rules must not also fire (data_validator.py:114-123)."""
    cfg = mk_cfg(
        FieldMapping("v", "V", "varchar", True, (Rule("not_null"), Rule("regex", {"pattern": "^X$"})))
    )
    errs, valid, invalid = run(spark, cfg, [(None,), ("X",)], "v string")
    assert errs == [("v", "REQUIRED_FIELD_MISSING")]
    assert (valid, invalid) == (1, 1)


def test_optional_missing_skips_rules(spark):
    cfg = mk_cfg(FieldMapping("v", "V", "decimal(5,2)", False, (Rule("range", {"min": 0, "max": 10}),)))
    errs, valid, invalid = run(spark, cfg, [(None,), ("5",)], "v string")
    assert errs == [] and valid == 2


def test_not_null_rejects_whitespace_only(spark):
    """Whitespace-only passes the required check (not NaN) but fails
    not_null (data_validator.py:141)."""
    cfg = mk_cfg(FieldMapping("v", "V", "varchar", True, (Rule("not_null"),)))
    errs, valid, invalid = run(spark, cfg, [("   ",), ("ok",)], "v string")
    assert errs == [("v", "NOT_NULL")] and invalid == 1


def test_range_numeric_error_on_cast_failure(spark):
    cfg = mk_cfg(FieldMapping("v", "V", "decimal(5,2)", True, (Rule("range", {"min": 0, "max": 10}),)))
    errs, _, _ = run(spark, cfg, [("abc",), ("-1",), ("11",), ("10",), ("0",), (" 5 ",)], "v string")
    assert errs == [("v", "NUMERIC"), ("v", "RANGE"), ("v", "RANGE")]


def test_range_bounds_inclusive(spark):
    cfg = mk_cfg(FieldMapping("v", "V", "decimal(5,2)", True, (Rule("range", {"min": -10.0, "max": 200.0}),)))
    errs, valid, _ = run(spark, cfg, [("-10.0",), ("200.0",), ("200.01",)], "v string")
    assert errs == [("v", "RANGE")] and valid == 2


def test_range_on_numeric_column(spark):
    """Rules also run on already-typed (parquet) columns, incl. NaN = missing."""
    cfg = mk_cfg(FieldMapping("v", "V", "decimal(5,2)", True, (Rule("range", {"min": 0, "max": 10}),)))
    errs, valid, invalid = run(
        spark, cfg, [(float("nan"),), (5.0,), (20.0,)], "v double"
    )
    assert ("v", "REQUIRED_FIELD_MISSING") in errs and ("v", "RANGE") in errs
    assert valid == 1


def test_regex_is_start_anchored(spark):
    """re.match anchors at start: 'XLINE001' fails, 'LINE001x' also fails a
    fully-anchored pattern, but a start-only pattern allows suffixes."""
    cfg = mk_cfg(FieldMapping("v", "V", "varchar", True, (Rule("regex", {"pattern": "LINE[0-9]{3}"}),)))
    errs, valid, _ = run(spark, cfg, [("XLINE001",), ("LINE001suffix",), ("LINE001",)], "v string")
    assert errs == [("v", "REGEX")] and valid == 2


def test_date_range_format_vs_range_errors(spark):
    cfg = mk_cfg(
        FieldMapping(
            "v", "V", "datetime", True,
            (Rule("date_range", {"min": "2020-01-01", "max": "2099-12-31"}),),
        )
    )
    errs, valid, _ = run(
        spark, cfg,
        [("not-a-date",), ("2019-12-31 23:59:59",), ("2100-01-01",), ("2024-02-15 08:30:00",), ("2020-01-01",)],
        "v string",
    )
    assert errs == [("v", "DATE_FORMAT"), ("v", "DATE_RANGE"), ("v", "DATE_RANGE")]
    assert valid == 2


def test_lookup_literal_set(spark):
    cfg = mk_cfg(
        FieldMapping("v", "V", "varchar", True, (Rule("lookup", {"table": "T", "column": "C"}),))
    )
    from manufacturing_data_integration_tool_spark.plans.validator import validate as v2

    df = spark.createDataFrame([("A",), ("Z",)], "v string")
    # no lookup set registered for T.C and no referential path: STRICT by
    # default (r4 verdict #7) — a misspelled table must not silently
    # disable the validation
    with pytest.raises(ValueError, match="lookup rule on 'v'"):
        v2(df, cfg)
    # explicit opt-out restores the warn-and-skip behavior
    with pytest.warns(UserWarning, match="compiled to a no-op"):
        res0 = v2(df, cfg, strict_lookup=False)
    assert res0.errors.count() == 0 and res0.valid.count() == 2

    res = v2(df, cfg, lookup_values={"T.C": {"A", "B"}})
    errs2 = [(r.field_name, r.error_type) for r in res.errors.collect()]
    assert errs2 == [("v", "LOOKUP")]


def test_lookup_defers_silently_when_referential_path_configured(spark):
    """A lookup whose table has a configured referential_integrity rule
    legitimately compiles to None — dataset_rules.referential_check owns
    it (broadcast anti-join), no warning, no raise."""
    from manufacturing_data_integration_tool_spark import GlobalRule
    from manufacturing_data_integration_tool_spark.plans.validator import validate as v2

    cfg = IntegrationConfig(
        fields=(
            FieldMapping("v", "V", "varchar", True, (Rule("lookup", {"table": "DimT", "column": "C"}),)),
        ),
        global_rules=(
            GlobalRule("referential_integrity", {"foreignKey": "v", "foreignTable": "DimT"}),
        ),
    )
    df = spark.createDataFrame([("A",), ("Z",)], "v string")
    dim = spark.createDataFrame([("A",)], "C string")
    res = v2(
        df, cfg, dim_tables={"DimT": dim.withColumnRenamed("C", "v")},
        extensions=True,
    )
    errs = [(r.field_name, r.error_type) for r in res.errors.collect()]
    assert errs == [("v", "REFERENTIAL")]


def test_unknown_rule_kind_silently_ignored(spark):
    """Unknown rule types fall through (data_validator.py:202)."""
    cfg = mk_cfg(FieldMapping("v", "V", "varchar", True, (Rule("made_up_rule", {"x": "1"}),)))
    errs, valid, _ = run(spark, cfg, [("anything",)], "v string")
    assert errs == [] and valid == 1


def test_multiple_fields_accumulate_errors_per_row(spark):
    """One row can carry errors on several fields (no row short-circuit)."""
    cfg = mk_cfg(
        FieldMapping("a", "A", "decimal(5,2)", True, (Rule("range", {"min": 0, "max": 1}),)),
        FieldMapping("b", "B", "varchar", True, (Rule("regex", {"pattern": "^OK$"}),)),
    )
    errs, valid, invalid = run(spark, cfg, [("9", "NO")], "a string, b string")
    assert errs == [("a", "RANGE"), ("b", "REGEX")] and invalid == 1


def test_missing_column_raises_before_job(spark):
    cfg = mk_cfg(FieldMapping("nope", "N", "varchar", True, ()))
    df = spark.createDataFrame([("x",)], "v string")
    with pytest.raises(ValueError, match="Missing required columns"):
        validate(df, cfg)


def test_duplicate_check_keep_false_and_already_invalid_guard(spark):
    """All members of a dup group get DUPLICATE — unless already invalid
    (data_validator.py:212-226)."""
    from manufacturing_data_integration_tool_spark import GlobalRule

    cfg = IntegrationConfig(
        fields=(FieldMapping("k", "K", "varchar", True, (Rule("regex", {"pattern": "^[a-z]+$"}),)),
                FieldMapping("v", "V", "varchar", False, ())),
        global_rules=(GlobalRule("duplicate_check", {"fields": "k"}),),
    )
    rows = [("dup", "1"), ("dup", "2"), ("uniq", "3"), ("BAD", "4"), ("BAD", "5")]
    df = spark.createDataFrame(rows, "k string, v string")
    res = validate(df, cfg)
    errs = [(r.v, r.error_type) for r in res.errors.collect()]
    # 'dup' group: both rows DUPLICATE; 'BAD' group: REGEX already made them
    # invalid so no DUPLICATE is appended (reference guard)
    assert sorted(errs) == [("1", "DUPLICATE"), ("2", "DUPLICATE"), ("4", "REGEX"), ("5", "REGEX")]
    assert res.valid.count() == 1


def test_rules_render_backslashes_quotes_and_bounds_exactly(spark):
    """Rules reach Spark as SQL text. A backslash in a pattern must stay a
    regex escape (a plain SQL literal would eat it: '^\\d$' -> '^d$'); a
    quote in a pattern, description, lookup value or column name must not
    end the literal; bounds keep their double value."""
    cfg = mk_cfg(
        FieldMapping("line id", "L", "varchar", True, (Rule("regex", {"pattern": r"^LINE\d{3}$", "description": r"it's LINE\d"}),)),
        FieldMapping("name", "N", "varchar", True, (Rule("regex", {"pattern": "^O'[A-Z]+$"}),)),
        FieldMapping("code", "C", "varchar", True, (Rule("lookup", {"table": "T", "column": "C"}),)),
        FieldMapping("x", "X", "float", True, (Rule("range", {"min": -0.5, "max": 1e20}),)),
    )
    df = spark.createDataFrame(
        [("LINE001", "O'NEIL", "O'Brien", "1e19"), ("LINEabc", "ONEIL", "x", "2e20"), ("LINEd", "O'N", r"a\b", "-0.6")],
        "`line id` string, name string, code string, x string",
    )
    res = validate(df, cfg, lookup_values={"T.C": {"O'Brien", r"a\b"}})
    errs = sorted((r["line id"], r.field_name, r.error_type, r.error_message) for r in res.errors.collect())
    assert errs == [
        ("LINEabc", "code", "LOOKUP", "code='x' not found in T"),
        ("LINEabc", "line id", "REGEX", "line id='LINEabc' does not match required format: it's LINE\\d"),
        ("LINEabc", "name", "REGEX", "name='ONEIL' does not match required format: match pattern ^O'[A-Z]+$"),
        ("LINEabc", "x", "RANGE", "x=2.0E20 exceeds maximum 1e+20"),
        ("LINEd", "line id", "REGEX", "line id='LINEd' does not match required format: it's LINE\\d"),
        ("LINEd", "x", "RANGE", "x=-0.6 below minimum -0.5"),
    ]
    assert res.valid.count() == 1
