"""Rule compiler: validation rules -> Spark SQL text.

This is the architectural core of the rebuild. The reference evaluates rules
row-at-a-time in Python (``src/data_validator.py:75,137-202``); here every
rule renders to one SQL expression that evaluates to an error struct when
the rule fails and to NULL when it passes. The validator joins the
per-field arrays into one ``errors`` expression and parses it with ONE
``F.expr``: Catalyst parses SQL text and DataFrame calls into the same
logical plan, but the text costs a handful of py4j round trips where a
``Column`` tree costs one per node (thousands per ``validate()``). No Python
runs per row; the plan scales with partitions.

Codegen: each field's entries are packed with ``array_compact``, a lambda
``filter`` that Spark evaluates interpreted (``CodegenFallback``), so the
projection that builds ``errors`` runs outside whole-stage codegen. A
codegen-friendly ``CASE ... array()`` packing returned equal values but
measured 1.7x slower (0.36 vs 0.21 s over a 0.08 s scan of 40,000 rows), so
the lambda stays.

Pinned semantic quirks (verified against the reference by execution,
SURVEY.md §5/§7.3):

* ``required`` missing value short-circuits all other rules for the field
  and emits REQUIRED_FIELD_MISSING (``src/data_validator.py:114-127``).
* missing + not-required skips all rules for the field.
* ``not_null`` also rejects whitespace-only strings
  (``src/data_validator.py:140-142``).
* ``range``: non-numeric value -> NUMERIC error; bounds inclusive-pass
  (strict <, > comparisons fail); min checked before max — at most ONE
  error per rule application (``src/data_validator.py:144-158``).
* ``regex`` is anchored at the start (Python ``re.match``,
  ``src/data_validator.py:160-165``) — we anchor explicitly because Spark's
  ``rlike`` is a *search*.
* ``date_range``: unparseable -> DATE_FORMAT, else DATE_RANGE on bound
  violation (``src/data_validator.py:167-185``).
* ``lookup``: membership in a reference set; compiled to ``IN`` for
  literal sets (big dims go through the broadcast join path in
  ``dataset_rules``) (``src/data_validator.py:187-200``).

Literals: a Spark SQL string literal treats ``\\`` as an escape, so
``'^\\s*$'`` would parse as ``^s*$``. Every config-supplied string (regex
pattern, description, lookup value, field name) renders through
:func:`sql_string` as a raw literal, which keeps backslashes as written; a
quote, which a raw literal cannot hold, is spliced in as ``char(39)``.
Numeric bounds render as double literals (:func:`sql_double`).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Mapping, Optional

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

__all__ = [
    "ERROR_STRUCT_TYPE",
    "ERRORS_ARRAY_TYPE",
    "CompileContext",
    "quote_ident",
    "sql_string",
    "sql_double",
    "sql_concat",
    "error_struct",
    "compile_rule",
    "field_errors_sql",
    "compile_field_errors",
    "empty_errors_sql",
    "register_rule",
    "anchored",
]

ERROR_STRUCT_TYPE = T.StructType(
    [
        T.StructField("field_name", T.StringType()),
        T.StructField("field_value", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)
ERRORS_ARRAY_TYPE = T.ArrayType(ERROR_STRUCT_TYPE)


@dataclass
class CompileContext:
    """Driver-side inputs the compilers may need.

    ``lookup_values`` maps "table.column" -> iterable of allowed literals
    (small dims); large dims belong in ``dataset_rules.referential_check``.
    ``extensions=True`` additionally compiles rule kinds the reference only
    *declared* (``unique``, ``outlier_detection`` — SURVEY.md P7/P8).
    """

    lookup_values: dict[str, Any] = dc_field(default_factory=dict)
    extensions: bool = False
    timestamp_field: Optional[str] = None
    # lookup rules with no registered literal set: raising beats the
    # reference's silent fall-through (src/data_validator.py:197 simply
    # never dispatches an unknown column) — a misspelled lookup table
    # must not silently disable a validation. Tables listed in
    # ``deferred_lookup_tables`` (a referential-integrity rule or dim
    # table is configured for them) legitimately compile to None here.
    strict_lookup: bool = True
    deferred_lookup_tables: frozenset = frozenset()


# ---------------------------------------------------------------------------
# SQL text rendering
# ---------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    """A backquoted identifier for column ``name``."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """A SQL expression that evaluates to the string ``s`` whatever the
    parser's escaping confs: raw literals keep backslashes as written, and
    each quote is spliced in as ``char(39)``."""
    parts = [f"r'{p}'" for p in str(s).split("'")]
    return parts[0] if len(parts) == 1 else "concat(" + ", char(39), ".join(parts) + ")"


def sql_double(x: Any) -> str:
    """A DOUBLE literal for ``x``."""
    v = float(x)
    if math.isfinite(v):
        return f"{v!r}D"
    return "CAST('NaN' AS DOUBLE)" if math.isnan(v) else f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"


def sql_concat(*parts: str) -> str:
    """``concat`` of SQL expressions."""
    return "concat(" + ", ".join(parts) + ")"


def error_struct(field_name: str, value_sql: str, error_type: str, message_sql: str) -> str:
    """The one error-struct renderer, shared by the row rules and the
    dataset rules: ``value_sql`` and ``message_sql`` are SQL expressions."""
    return (
        f"named_struct('field_name', {sql_string(field_name)}, "
        f"'field_value', CAST({value_sql} AS STRING), "
        f"'error_type', {sql_string(error_type)}, "
        f"'error_message', {message_sql})"
    )


def _case(*branches: tuple[str, str]) -> str:
    """``CASE WHEN c THEN t ... END``: the first true condition wins, NULL
    when none is."""
    return "CASE " + " ".join(f"WHEN {c} THEN {t}" for c, t in branches) + " END"


def anchored(pattern: str) -> str:
    """Python ``re.match`` anchors at the start; Java ``rlike`` searches."""
    return pattern if pattern.startswith("^") else "^(?:" + pattern + ")"


# ---------------------------------------------------------------------------
# individual rule compilers: (field, value SQL, params, ctx) -> SQL text
# (error struct when failing, NULL when passing), or None for no check
# ---------------------------------------------------------------------------

RuleCompiler = Callable[[str, str, Mapping[str, Any], CompileContext], Optional[str]]
_REGISTRY: dict[str, RuleCompiler] = {}


def register_rule(kind: str) -> Callable[[RuleCompiler], RuleCompiler]:
    def deco(fn: RuleCompiler) -> RuleCompiler:
        _REGISTRY[kind] = fn
        return fn

    return deco


def _quoted_value_msg(fname: str, v: str, tail: str) -> str:
    """``<fname>='<value>'<tail>`` — the reference's message shape."""
    return sql_concat(sql_string(f"{fname}='"), f"CAST({v} AS STRING)", sql_string(f"'{tail}"))


_BLANK = sql_string(r"^\s*$")


@register_rule("not_null")
def _not_null(fname: str, v: str, params: Mapping[str, Any], ctx: CompileContext) -> str:
    # RLIKE '^\s*$', not trim()='': trim strips only ASCII spaces, while
    # the reference's str.strip() (src/data_validator.py:141) also rejects
    # tab/newline-only values
    failing = f"{v} IS NULL OR CAST({v} AS STRING) RLIKE {_BLANK}"
    return _case((failing, error_struct(fname, v, "NOT_NULL", sql_string(f"{fname} cannot be null"))))


@register_rule("range")
def _range(fname: str, v: str, params: Mapping[str, Any], ctx: CompileContext) -> str:
    num = f"try_cast({v} AS DOUBLE)"
    lo = params.get("min")
    hi = params.get("max")
    # numeric rendering: Python float(x) then str() => '300.0'; Spark
    # double->string matches for the magnitudes in play.
    nums = f"CAST({num} AS STRING)"
    branches = [
        (f"{num} IS NULL", error_struct(fname, v, "NUMERIC", _quoted_value_msg(fname, v, " is not a valid number"))),
        # NaN passes the bounds in the reference (float('nan') <|> bound is
        # False in Python), but Spark orders NaN greater than everything —
        # without this guard 'nan' would wrongly fall into the max branch.
        (f"isnan({num})", "NULL"),
    ]
    if lo is not None:
        msg = sql_concat(sql_string(f"{fname}="), nums, sql_string(f" below minimum {lo}"))
        branches.append((f"{num} < {sql_double(lo)}", error_struct(fname, v, "RANGE", msg)))
    if hi is not None:
        msg = sql_concat(sql_string(f"{fname}="), nums, sql_string(f" exceeds maximum {hi}"))
        branches.append((f"{num} > {sql_double(hi)}", error_struct(fname, v, "RANGE", msg)))
    return _case(*branches)


@register_rule("regex")
def _regex(fname: str, v: str, params: Mapping[str, Any], ctx: CompileContext) -> Optional[str]:
    pattern = params.get("pattern")
    if not pattern:
        return None
    desc = params.get("description", f"match pattern {pattern}")
    failing = f"NOT (CAST({v} AS STRING) RLIKE {sql_string(anchored(pattern))})"
    msg = _quoted_value_msg(fname, v, f" does not match required format: {desc}")
    return _case((failing, error_struct(fname, v, "REGEX", msg)))


@register_rule("date_range")
def _date_range(fname: str, v: str, params: Mapping[str, Any], ctx: CompileContext) -> str:
    s = f"CAST({v} AS STRING)"
    ts = f"coalesce(try_to_timestamp({s}), try_to_timestamp({s}, 'yyyy-MM-dd'))"
    branches = [
        (f"{ts} IS NULL", error_struct(fname, v, "DATE_FORMAT", _quoted_value_msg(fname, v, " is not a valid date"))),
    ]
    lo = params.get("min")
    hi = params.get("max")
    if lo:
        msg = sql_string(f"{fname} date before minimum {lo}")
        branches.append((f"{ts} < to_timestamp({sql_string(lo)})", error_struct(fname, v, "DATE_RANGE", msg)))
    if hi:
        msg = sql_string(f"{fname} date after maximum {hi}")
        branches.append((f"{ts} > to_timestamp({sql_string(hi)})", error_struct(fname, v, "DATE_RANGE", msg)))
    return _case(*branches)


@register_rule("lookup")
def _lookup(fname: str, v: str, params: Mapping[str, Any], ctx: CompileContext) -> Optional[str]:
    table = params.get("table", "")
    column = params.get("column", "")
    # Key resolution order: fully-qualified "table.column", then bare column
    # name — the reference dispatches its demo set on the column name alone
    # (src/data_validator.py:197), regardless of the table attribute.
    values = ctx.lookup_values.get(f"{table}.{column}")
    if values is None:
        values = ctx.lookup_values.get(column, params.get("values"))
    if values is None:
        if table in ctx.deferred_lookup_tables:
            # A referential-integrity rule / dim table is configured for
            # this table: dataset_rules.referential_check (broadcast
            # join) owns the validation; per-row compilation has
            # nothing to check.
            return None
        if ctx.strict_lookup:
            raise ValueError(
                f"lookup rule on '{fname}' against {table}.{column} has no "
                "literal set registered and no referential path configured — "
                "a misspelled table would silently disable this validation. "
                "Register the set in lookup_values, configure a "
                "referential_integrity rule / dim table, or pass "
                "strict_lookup=False to restore the warn-and-skip behavior."
            )
        import warnings

        warnings.warn(
            f"lookup rule on '{fname}' against {table}.{column} compiled to a "
            "no-op: no literal set registered and no referential path configured",
            stacklevel=2,
        )
        return None
    vals = sorted(str(x) for x in values)
    # an empty set admits nothing (`x IN ()` does not parse)
    member = f"CAST({v} AS STRING) IN ({', '.join(sql_string(x) for x in vals)})" if vals else "false"
    msg = _quoted_value_msg(fname, v, f" not found in {table}")
    return _case((f"NOT ({member})", error_struct(fname, v, "LOOKUP", msg)))


def compile_rule(fname: str, value_sql: str, kind: str, params: Mapping[str, Any], ctx: CompileContext) -> Optional[str]:
    """Compile a single rule over the SQL expression ``value_sql``; unknown
    kinds return None — matching the reference's silent fall-through for
    undispatched rule types (``src/data_validator.py:202``).
    Window/dataset-scoped kinds (``unique``, ``outlier_detection``) are
    handled in ``dataset_rules``."""
    fn = _REGISTRY.get(kind)
    if fn is None:
        return None
    return fn(fname, value_sql, params, ctx)


def missing_test(v: str, dtype: T.DataType) -> str:
    """pandas ``pd.isna`` analogue: NULL, plus NaN for floating columns."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return f"({v} IS NULL OR isnan({v}))"
    return f"{v} IS NULL"


def empty_errors_sql() -> str:
    """A typed empty errors array."""
    return f"CAST(array() AS {ERRORS_ARRAY_TYPE.simpleString()})"


def field_errors_sql(
    fname: str,
    value_sql: str,
    dtype: T.DataType,
    required: bool,
    rules,
    ctx: CompileContext,
) -> str:
    """SQL text of the errors array for one field, reproducing the
    reference's control flow (``src/data_validator.py:106-135``):
    required-missing short-circuits, optional-missing skips, otherwise
    every rule runs and each failing rule contributes one error struct."""
    missing = missing_test(value_sql, dtype)
    entries: list[str] = []
    if required:
        msg = sql_string(f"Required field '{fname}' is empty")
        entries.append(_case((missing, error_struct(fname, value_sql, "REQUIRED_FIELD_MISSING", msg))))
    for rule in rules:
        compiled = compile_rule(fname, value_sql, rule.kind, rule.params, ctx)
        if compiled is not None:
            entries.append(_case((f"NOT ({missing})", compiled)))
    if not entries:
        return empty_errors_sql()
    return f"array_compact(array({', '.join(entries)}))"


# The lambda variable compile_field_errors binds its value Column to.
_BOUND = "__value"


def compile_field_errors(
    fname: str,
    c: Column,
    dtype: T.DataType,
    required: bool,
    rules,
    ctx: CompileContext,
) -> Column:
    """:func:`field_errors_sql` as a Column over any value Column ``c``:
    the text is parsed as a lambda that a one-element ``transform`` applies
    to ``c``. The validator renders over the column reference directly."""
    body = field_errors_sql(fname, _BOUND, dtype, required, rules, ctx)
    return F.call_function("transform", F.array(c), F.expr(f"{_BOUND} -> {body}"))[0]
