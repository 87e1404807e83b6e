"""Validation + quarantine split (SURVEY.md §2.B F1, §2.A K3, §2.I O1).

The reference validates row-by-row in a Python loop
(``load_hhs.py:104-127``) and re-reads the raw CSV to emit quarantine
rows (``load_hhs.py:154``).  Here both branches are filters over one
input:

    valid   = cleaned.filter(pred)
    invalid = cleaned.filter(~pred)

Null semantics matter: the reference treats NULL as *valid*
(``is not None and value < 0``).  In Spark ``~(col >= 0)`` is NULL —
not True — for NULL inputs and a filter drops NULL predicates, so both
branches must use explicit null-safe predicates rather than relying on
negation.

Scale: a caller that consumes both branches persists the input first
(the HHS loader persists its cleaned scan); at 100 TB you would instead
write both branches in one pass via ``df.write.partitionBy("is_valid")``
to avoid caching pressure.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RangeRule:
    """Null-safe bounds check for one column: NULL passes, out-of-range fails."""

    col: str
    min: float | None = None
    max: float | None = None

    def predicate(self) -> Column:
        c = F.col(self.col)
        ok = F.lit(True)
        if self.min is not None:
            ok = ok & (c >= F.lit(self.min))
        if self.max is not None:
            ok = ok & (c <= F.lit(self.max))
        return c.isNull() | ok


def non_negative_rules(cols) -> list[RangeRule]:
    """The reference's F1 rule set: reject any named column that is
    non-null and negative (``load_hhs.py:104-127``)."""
    return [RangeRule(c, min=0.0) for c in cols]


def validity_predicate(rules: list[RangeRule]) -> Column:
    return reduce(and_, (r.predicate() for r in rules), F.lit(True))


def validation_split(df: DataFrame, rules: list[RangeRule]) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, invalid).

    ``invalid`` is the exact complement: rows failing >=1 rule.  Because
    each rule's predicate is null-safe (never NULL), plain negation is
    correct here.
    """
    pred = validity_predicate(rules)
    return df.filter(pred), df.filter(~pred)


def write_quarantine(invalid: DataFrame, path: str) -> None:
    """CSV quarantine sink (reference K3: ``load_hhs.py:153-155``).

    Drops the reference's ``\\r`` line-terminator quirk (an artifact —
    it makes the file read as 0 lines with ``wc -l``).
    """
    invalid.write.mode("overwrite").option("header", True).csv(path)
