"""Declarative data-quality expectations, and commit gating.

The Delta Live Tables / Great Expectations pattern reduced to engine
primitives: a rule set compiles to ONE aggregate pass (every rule is a
combinable ``sum(violation)`` — uniqueness rides the same pass as
``count - count(distinct)``), and ``SnapshotTable.commit(...,
expectations=...)`` evaluates the rules on the STAGED files before the
manifest is created — a failing batch's data files are deleted and
never become visible, so quality gating inherits the commit protocol's
atomicity instead of needing its own quarantine bookkeeping.

Scale: one extra scan of the new files only (never the table), all
combinable aggregates; the uniqueness rule adds the usual
count-distinct Expand over that scan.
"""

from __future__ import annotations

import typing as ty
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = [
    "Rule",
    "not_null",
    "in_range",
    "accepted_values",
    "unique_key",
    "check_expectations",
    "ExpectationFailed",
]


class ExpectationFailed(ValueError):
    """One or more expectations had violations; carries the full report."""

    def __init__(self, report: dict[str, int]) -> None:
        self.report = report
        failed = {k: v for k, v in report.items() if k != "__rows" and v > 0}
        super().__init__(
            f"expectations failed on {report.get('__rows', '?')} rows: "
            f"{failed}"
        )


@dataclass(frozen=True)
class Rule:
    """``violation`` is a Column that is true where THIS ROW violates the
    rule; ``distinct_over`` instead declares a uniqueness key (violations
    = duplicate rows = count - distinct count)."""

    name: str
    violation: Column | None = None
    distinct_over: tuple[str, ...] = field(default_factory=tuple)


def not_null(*cols: str) -> Rule:
    cond = None
    for c in cols:
        n = F.col(c).isNull()
        cond = n if cond is None else cond | n
    return Rule(name=f"not_null({','.join(cols)})", violation=cond)


def in_range(col: str, lo, hi) -> Rule:
    # NULL is not a range violation — compose with not_null to reject it
    return Rule(
        name=f"in_range({col},{lo},{hi})",
        violation=~F.col(col).between(F.lit(lo), F.lit(hi))
        & F.col(col).isNotNull(),
    )


def accepted_values(col: str, values: ty.Sequence) -> Rule:
    return Rule(
        name=f"accepted_values({col})",
        violation=~F.col(col).isin(*list(values)) & F.col(col).isNotNull(),
    )


def unique_key(*cols: str) -> Rule:
    """Duplicate rows on the key = count - count(DISTINCT key).  DISTINCT
    skips null-valued keys, so every null-keyed row counts as a
    violation — conservative, and the right call: a unique key is
    implicitly non-null (pair with ``not_null`` for a separate count)."""
    return Rule(name=f"unique_key({','.join(cols)})", distinct_over=tuple(cols))


def check_expectations(
    df: DataFrame, rules: ty.Sequence[Rule]
) -> dict[str, int]:
    """Violation count per rule in ONE aggregate pass, plus ``__rows``.
    All-zero (except ``__rows``) means the frame passes."""
    if not rules:
        raise ValueError("check_expectations: empty rule set")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for r in rules:
        if r.distinct_over:
            aggs.append(
                (
                    F.count(F.lit(1))
                    - F.count_distinct(*[F.col(c) for c in r.distinct_over])
                ).alias(r.name)
            )
        elif r.violation is not None:
            aggs.append(
                F.sum(r.violation.cast("long")).alias(r.name)
            )
        else:
            raise ValueError(f"rule {r.name}: neither violation nor key")
    row = df.agg(*aggs).first()
    # sum over 0 rows is NULL; an empty frame violates nothing
    return {k: int(row[k] or 0) for k in row.asDict()}
