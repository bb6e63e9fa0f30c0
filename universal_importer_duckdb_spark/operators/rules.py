"""Custom-validation rule engine (reference main.py:161-197).

Pluggable registry ``{rule_name: builder}`` where a builder returns a
boolean *failure* Column for the configured field. The reference has
exactly one rule, ``age_gte`` (main.py:172-176), implemented there as
DuckDB ``DATE_PART('year', AGE(today, field::DATE)) < min_age``.

``age_years`` reproduces DuckDB/Postgres AGE year-component semantics
exactly: full calendar years elapsed, decremented when the month/day
of ``today`` precedes the anniversary. (``months_between/12`` is NOT
used — its 31-day-month fractional convention diverges on month-end
edges; golden-tested against DuckDB in tests/test_oracle_parity.py.)

Modes (reference main.py:186-194): ``stop`` raises ValueError when any
row fails; ``skip`` filters failing rows out, returning them as data.
``today`` is injectable for deterministic tests (the reference uses
wall-clock ``datetime.today()``, main.py:169).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def age_years(col: Column, today: Column) -> Column:
    """Whole calendar years between ``col`` (a date) and ``today`` —
    DuckDB ``date_part('year', age(today, col))`` equivalent."""
    d = F.to_date(col)
    t = F.to_date(today)
    not_yet = (F.month(t) < F.month(d)) | (
        (F.month(t) == F.month(d)) & (F.dayofmonth(t) < F.dayofmonth(d))
    )
    return F.year(t) - F.year(d) - F.when(not_yet, 1).otherwise(0)


def _age_gte_fail(field: str, params: dict[str, Any], today: str) -> Column:
    min_age = params["min_age"]
    return age_years(F.col(field), F.lit(today)) < F.lit(min_age)


def _range_between_fail(field: str, params: dict[str, Any], today: str) -> Column:
    """Fail when the value lies outside [min, max] (either bound
    optional)."""
    c = F.col(field)
    fail = F.lit(False)
    if "min" in params:
        fail = fail | (c < F.lit(params["min"]))
    if "max" in params:
        fail = fail | (c > F.lit(params["max"]))
    return fail


def _regex_match_fail(field: str, params: dict[str, Any], today: str) -> Column:
    """Fail when the value does not match the (anchored) pattern."""
    return ~F.col(field).rlike(params["pattern"])


def _value_in_set_fail(field: str, params: dict[str, Any], today: str) -> Column:
    """Fail when the value is outside the allowed literal set (small
    sets only — an isin literal list, evaluated JVM-side; use
    referential_check for table-sized domains)."""
    return ~F.col(field).isin(list(params["allowed"]))


# rule name -> (field, params, today_iso) -> failure Column
RULE_REGISTRY: dict[str, Callable[[str, dict[str, Any], str], Column]] = {
    "age_gte": _age_gte_fail,
    "range_between": _range_between_fail,
    "regex_match": _regex_match_fail,
    "value_in_set": _value_in_set_fail,
}


def register_rule(name: str, builder: Callable[[str, dict[str, Any], str], Column]) -> None:
    RULE_REGISTRY[name] = builder


def referential_check(
    df: DataFrame,
    lookup: DataFrame,
    fk_cols: list[str],
    pk_cols: list[str] | None = None,
    broadcast_lookup: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Foreign-key integrity as data: split ``df`` into
    (referenced, orphans) by semi/anti join against ``lookup``'s keys
    — the table-sized analog of value_in_set. The lookup side is
    projected to its key columns and broadcast by default (dimension
    tables); pass broadcast_lookup=False to let the planner shuffle
    when the lookup is fact-sized."""
    pk_cols = pk_cols or fk_cols
    keys = lookup.select(
        *[F.col(p).alias(f) for p, f in zip(pk_cols, fk_cols)]
    ).distinct()
    if broadcast_lookup:
        keys = F.broadcast(keys)
    referenced = df.join(keys, fk_cols, "left_semi")
    orphans = df.join(keys, fk_cols, "left_anti")
    return referenced, orphans


def rule_failure(rule: dict[str, Any], today: str) -> Column | None:
    """The failure Column of one configured rule (True = the row
    fails; NULL = the predicate could not be evaluated, which keeps
    the row, matching the reference's DELETE semantics), or None for
    an unknown rule name."""
    builder = RULE_REGISTRY.get(rule.get("validation"))
    if builder is None:
        return None
    return builder(rule.get("field"), rule.get("params", {}), today)


def execute_custom_validations(
    df: DataFrame,
    rules: list[dict[str, Any]],
    mode: str = "skip",
    today: str | None = None,
) -> tuple[DataFrame, list[dict[str, Any]]]:
    """Apply configured rules; return ``(kept, issues)``.

    ``issues`` is one entry per rule: {field, validation, params,
    invalid: DataFrame}. Unknown rule names are skipped with a notice
    (reference main.py:195 logs and continues). ``stop`` mode raises
    ValueError naming the first failing rule (reference main.py:186-187).
    """
    today = today or _dt.date.today().isoformat()
    kept = df
    issues: list[dict[str, Any]] = []
    for rule in rules:
        name = rule.get("validation")
        field = rule.get("field")
        params = rule.get("params", {})
        fail = rule_failure(rule, today)
        if fail is None:
            issues.append({"field": field, "validation": name, "params": params,
                           "invalid": None, "skipped": True})
            continue
        invalid = kept.filter(fail)
        if mode == "stop":
            n = invalid.count()
            if n > 0:
                raise ValueError(stop_message(rule, n))
        else:
            kept = kept.filter(~F.coalesce(fail, F.lit(False)))
        issues.append({"field": field, "validation": name, "params": params,
                       "invalid": invalid, "skipped": False})
    return kept, issues


def stop_message(rule: dict[str, Any], n: int) -> str:
    """The stop-mode error for a rule that ``n`` rows fail."""
    return (
        f"Custom validation '{rule.get('validation')}' failed for {n} rows "
        f"on field '{rule.get('field')}'"
    )
