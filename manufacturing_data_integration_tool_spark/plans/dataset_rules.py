"""Dataset-scoped rules: facts on the raw rows, one error entry each.

These are the rules that need to see more than one row. The reference ran
only ``duplicate_check`` (``src/data_validator.py:204-226``); ``unique
scope="daily"``, ``outlier_detection`` and ``referential_integrity`` were
declared in config but silently ignored (SURVEY.md P7/P8/J2). We implement
all four; the declared-only ones are gated behind ``extensions=True`` so
reference-exact behavior stays available.

A rule does not touch the ``errors`` array. Each rule function returns a
:class:`DatasetRule`: the *fact* columns it needs, computed on the raw rows
by :func:`with_facts`, and the SQL text of its error entry, which reads only
the row and those facts. The validator builds ``errors`` once, after every
fact exists (``plans.validator``).

Scale notes (100 TB posture, SURVEY.md §7.3):

* **Facts on raw rows.** Every shuffle and join below carries the source
  columns and a few fact columns, never an errors array, and the errors
  array is built once per row after the last fact, not re-wrapped per rule.
* ``duplicate_check`` / ``unique daily`` are ``count(1)`` windows
  partitioned by their keys — a key-hash shuffle that scales horizontally;
  never a global sort.
* **Shared exchange.** When two or more window rules share a key beyond the
  file scope, one ``repartition(*scope, *common_keys)`` serves them all: a
  hash partitioning on a subset of a window's partition keys satisfies that
  window's required distribution, so the planner adds no exchange of its
  own (*Spark SQL*, SIGMOD 2015). The repartition has no explicit count, so
  AQE may coalesce it; that is fine because the windows are cheap counts.
* **File-scope guard.** If the window rules share only the file scope (or
  nothing), each window keeps its own exchange: hashing on ``FileSource``
  alone would funnel every row of one file into one task.
* ``outlier zscore`` computes mean/stddev with a two-pass **aggregate +
  broadcast join of the per-scope stats** — an unpartitioned ``Window``
  would funnel the whole table through one task. The aggregate is a second
  scan of the source.
* ``referential_integrity`` broadcasts the distinct dim keys and left-joins
  a marker (anti-join detection that keeps the row).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .rules import error_struct, quote_ident, sql_concat, sql_double, sql_string

__all__ = [
    "DatasetRule",
    "duplicate_check",
    "unique_within_day",
    "zscore_outlier_check",
    "referential_check",
    "with_facts",
]


@dataclass(frozen=True)
class DatasetRule:
    """One dataset rule: the facts it needs and the error it derives.

    ``error`` is SQL text: an error struct when the rule fails, else NULL.
    A window rule has ``window`` set to its partition keys (SQL text); its
    one fact, ``facts[0]``, is the row count of the row's window. A join
    rule has ``join``, which adds ``facts`` to the raw rows by a broadcast
    join. ``clean_rows_only`` rules fire only on rows that no earlier entry
    of ``errors`` made invalid."""

    error: str
    facts: tuple[str, ...]
    window: Optional[tuple[str, ...]] = None
    join: Optional[Callable[[DataFrame], DataFrame]] = None
    clean_rows_only: bool = False


def duplicate_check(key_fields: list[str], scope_cols: Optional[list[str]] = None) -> DatasetRule:
    """All members of any duplicate key group get a DUPLICATE error —
    pandas ``duplicated(keep=False)`` semantics (``src/data_validator.py:212``)
    — but only rows that are not already invalid, matching the reference's
    ``if idx not in self.invalid_rows`` guard (``:215``).

    NULL keys group together (pandas treats NaN as equal in ``duplicated``;
    ``PARTITION BY`` groups nulls the same way).

    ``scope_cols`` (typically the file-lineage column) reproduces the
    reference's per-file batch loop: a glob is ONE distributed read here,
    but each file is still its own validation universe.
    """
    n = "__dup_n_" + "_".join(key_fields)
    err = error_struct(
        ",".join(key_fields),
        sql_string("multiple"),
        "DUPLICATE",
        sql_string(f"Duplicate combination of {key_fields}"),
    )
    return DatasetRule(
        error=f"CASE WHEN {quote_ident(n)} > 1 THEN {err} END",
        facts=(n,),
        window=tuple(quote_ident(c) for c in [*(scope_cols or []), *key_fields]),
        clean_rows_only=True,
    )


def unique_within_day(field: str, ts_field: str, scope_cols: Optional[list[str]] = None) -> DatasetRule:
    """``unique scope="daily"`` (declared-only in the reference,
    ``config/mapping_config.xml:27``): the same value must not repeat within
    one event-time day. Extension rule."""
    # try_to_timestamp: malformed raw strings must yield a NULL day (the row
    # already gets its DATE_FORMAT error from the row rules), not an ANSI
    # SparkDateTimeException that kills the job.
    day = f"to_date(try_to_timestamp(CAST({quote_ident(ts_field)} AS STRING)))"
    n, v = f"__uniq_n_{field}", quote_ident(field)
    msg = sql_concat(sql_string(f"{field}='"), f"CAST({v} AS STRING)", sql_string("' repeats within one day"))
    err = error_struct(field, v, "UNIQUE", msg)
    return DatasetRule(
        error=f"CASE WHEN {quote_ident(n)} > 1 AND {v} IS NOT NULL THEN {err} END",
        facts=(n,),
        window=(*(quote_ident(c) for c in scope_cols or []), day, v),
    )


def zscore_outlier_check(
    source: DataFrame,
    field: str,
    threshold: float = 3.0,
    partition_by: Optional[list[str]] = None,
) -> DatasetRule:
    """``outlier_detection method="zscore"`` (declared-only in the reference,
    ``config/mapping_config.xml:38``). Two-pass: aggregate mean/stddev_samp
    over ``source``, broadcast the stats back, flag |z| > threshold. With
    ``partition_by``, stats are per-group via groupBy + broadcast join —
    still no unpartitioned window anywhere."""
    v = f"try_cast({quote_ident(field)} AS DOUBLE)"
    mu, sigma = f"__mu_{field}", f"__sigma_{field}"
    aggs = (F.expr(f"avg({v}) AS {quote_ident(mu)}"), F.expr(f"stddev_samp({v}) AS {quote_ident(sigma)}"))

    def join(df: DataFrame) -> DataFrame:
        if partition_by:
            stats = source.groupBy(*partition_by).agg(*aggs)
            return df.join(F.broadcast(stats), on=partition_by, how="left")
        return df.crossJoin(F.broadcast(source.agg(*aggs)))

    z = f"try_divide({v} - {quote_ident(mu)}, {quote_ident(sigma)})"
    msg = sql_concat(
        sql_string(f"{field}="), f"CAST({v} AS STRING)", sql_string(f" is a zscore outlier (|z| > {threshold})")
    )
    err = error_struct(field, quote_ident(field), "OUTLIER", msg)
    return DatasetRule(
        error=f"CASE WHEN abs({z}) > {sql_double(threshold)} THEN {err} END",
        facts=(mu, sigma),
        join=join,
    )


def referential_check(
    fk_field: str,
    dim: DataFrame,
    dim_key: Optional[str] = None,
    foreign_table: str = "",
) -> DatasetRule:
    """``referential_integrity`` (declared-only in the reference,
    ``config/mapping_config.xml:63``): fk value must exist in the dimension
    table. Broadcast the distinct dim keys; rows with no match get a
    REFERENTIAL error (anti-join detection that keeps the row)."""
    marker = f"__ref_ok_{fk_field}_{foreign_table}"
    fk = quote_ident(fk_field)

    def join(df: DataFrame) -> DataFrame:
        keys = dim.selectExpr(f"{quote_ident(dim_key or fk_field)} AS {fk}").distinct()
        keys = keys.selectExpr("*", f"true AS {quote_ident(marker)}")
        return df.join(F.broadcast(keys), on=fk_field, how="left")

    msg = sql_concat(
        sql_string(f"{fk_field}='"),
        f"CAST({fk} AS STRING)",
        sql_string(f"' not present in {foreign_table or 'reference table'}"),
    )
    err = error_struct(fk_field, fk, "REFERENTIAL", msg)
    return DatasetRule(
        error=f"CASE WHEN {quote_ident(marker)} IS NULL AND {fk} IS NOT NULL THEN {err} END",
        facts=(marker,),
        join=join,
    )


def with_facts(df: DataFrame, rules: Sequence[DatasetRule], scope_cols: Sequence[str] = ()) -> DataFrame:
    """``df`` plus every rule's fact columns: the window counts first (over
    one shared exchange when the windows share a key beyond ``scope_cols``,
    see the module notes), then the broadcast joins."""
    windows = {r.facts[0]: r.window for r in rules if r.window is not None}
    if windows:
        scope = [quote_ident(c) for c in scope_cols]
        common = [k for k in next(iter(windows.values())) if k not in scope]
        for keys in windows.values():
            common = [k for k in common if k in keys]
        if len(windows) > 1 and common:
            df = df.repartition(*[F.expr(k) for k in scope + common])
        df = df.selectExpr(
            "*",
            *(f"count(1) OVER (PARTITION BY {', '.join(keys)}) AS {quote_ident(n)}" for n, keys in windows.items()),
        )
    joined: set[tuple[str, ...]] = set()
    for r in rules:
        # a rule repeated in the config needs its facts only once
        if r.join is not None and r.facts not in joined:
            df = r.join(df)
            joined.add(r.facts)
    return df
