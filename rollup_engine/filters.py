"""Predicate builders — the reference's FilterConditions re-expressed as
Catalyst Column expressions (/root/reference/src/filter/mod.rs:4-43).

Because these are plain expressions, Catalyst pushes them below the
window/aggregate where legal and down to the parquet/Iceberg scan
(PushedFilters), which the reference could not do (its term filters run
after the pairing join — SURVEY.md §4).

``now`` is a required parameter, never wall-clock: the reference calls
``Utc::now()`` per pair (/root/reference/src/filter/mod.rs:35) — a latent
nondeterminism we deliberately fix by binding now once per run.
"""

from __future__ import annotations

from datetime import datetime
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column
from pyspark.sql import functions as F

# Columns a term can match against: the transcript analog of testing both
# the request line and the response line of a pair
# (/root/reference/src/filter/mod.rs:12-30 matches on either raw line).
TERM_COLUMNS = ("text", "tool", "role")


def _contains_any(terms: list[str], cols=TERM_COLUMNS) -> Column:
    per_term = [
        reduce(or_, [F.coalesce(F.col(c), F.lit("")).contains(t) for c in cols])
        for t in terms
    ]
    return reduce(or_, per_term)


def include_terms(terms: list[str] | None, cols=TERM_COLUMNS) -> Column:
    """OR-any containment (F1, /root/reference/src/filter/mod.rs:12-20)."""
    if not terms:
        return F.lit(True)
    return _contains_any(terms, cols)


def exclude_terms(terms: list[str] | None, cols=TERM_COLUMNS) -> Column:
    """NOT-any containment (F2, /root/reference/src/filter/mod.rs:22-30)."""
    if not terms:
        return F.lit(True)
    return ~_contains_any(terms, cols)


def trailing_window(now: datetime | str, minutes: int | None) -> Column:
    """Keep turns with ``ts >= now − minutes`` (F3,
    /root/reference/src/filter/mod.rs:32-40).  ``now`` is bound once as a
    literal so the predicate constant-folds and prunes partitions/files
    on a ts-partitioned table.
    """
    if minutes is None:
        return F.lit(True)
    return F.col("ts") >= F.lit(now) - F.expr(f"INTERVAL {int(minutes)} MINUTES")


def conditions(
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    now: datetime | str | None = None,
    latest_minutes: int | None = None,
    term_cols=TERM_COLUMNS,
) -> Column:
    """Conjunction F1 ∧ F2 ∧ F3 (/root/reference/src/filter/mod.rs:42).
    ``term_cols`` selects which columns terms match against (compat mode
    passes log_source.COMPAT_TERM_COLUMNS = request + response lines)."""
    preds = [include_terms(include, term_cols), exclude_terms(exclude, term_cols)]
    if latest_minutes is not None:
        if now is None:
            raise ValueError("latest_minutes requires an explicit `now`")
        preds.append(trailing_window(now, latest_minutes))
    return reduce(and_, preds)

