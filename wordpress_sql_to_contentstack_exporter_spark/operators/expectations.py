"""Declarative data-quality expectations: N checks, ONE pass.

Every production pipeline gates its outputs on data-quality checks
(the Great-Expectations-style suite: not-null, ranges, accepted
values, uniqueness). Run naively, each check is its own scan — N
checks, N passes over 100 TB. This runner compiles the whole suite
into ONE aggregation: every row-level check becomes a
``sum(when(violation, 1))`` column in a single map-combinable
``agg`` (one scan, partial aggregation, a 1-row result), and the
report unpivots that row into ``(check, n_violations, n_rows,
passed)``.

Null semantics (the Great-Expectations convention): row-level checks
IGNORE NULLs — a NULL value is only a violation of ``expect_not_null``
itself, so range/set/regex checks compose with an explicit
``expect_not_null`` instead of double-counting. Uniqueness counts
``n_rows - count_distinct(struct(cols))`` — the struct is never NULL,
so NULL-bearing key tuples participate (two (NULL, 1) rows ARE a
duplicate pair). Each ``expect_unique`` adds a distinct-aggregate
(Spark plans multiple distincts via Expand, which replays input rows
once per distinct — keep unique checks to the few that matter, or run
them as their own suite).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "expect_not_null",
    "expect_between",
    "expect_in",
    "expect_unique",
    "run_expectations",
]


@dataclass(frozen=True)
class Expectation:
    """One check: either a row-level ``violation`` predicate (counted
    per row) or a ``distinct_cols`` uniqueness key."""

    name: str
    violation: Column | None = None
    distinct_cols: tuple[str, ...] = field(default=())

    def __post_init__(self):
        if (self.violation is None) == (not self.distinct_cols):
            raise ValueError(
                f"expectation {self.name!r}: exactly one of violation / "
                "distinct_cols required"
            )


def expect_not_null(col: str) -> Expectation:
    return Expectation(f"not_null({col})", F.col(col).isNull())


def expect_between(col: str, lo, hi) -> Expectation:
    return Expectation(
        f"between({col},{lo},{hi})",
        F.col(col).isNotNull() & ~F.col(col).between(F.lit(lo), F.lit(hi)),
    )


def expect_in(col: str, values: list) -> Expectation:
    return Expectation(
        f"in_set({col})", F.col(col).isNotNull() & ~F.col(col).isin(values)
    )


def expect_unique(*cols: str) -> Expectation:
    return Expectation(f"unique({','.join(cols)})", None, tuple(cols))


def run_expectations(
    df: DataFrame,
    expectations: list[Expectation],
    *,
    exemplar_key: str | None = None,
) -> DataFrame:
    """One scan, one report: ``(check, n_violations, n_rows, passed)``
    per expectation, in suite order (an ``ord`` column keeps it
    joinable/sortable without string games).

    ``exemplar_key`` (optional): a column identifying rows (a PK). Each
    ROW-LEVEL check then also reports ``exemplar`` — the violating
    row's minimum key — so the triage step ("show me one bad row")
    needs no second scan. The exemplar is ``min(when(violation, key))``:
    map-combinable, deterministic, and FREE inside the same
    aggregation. NULL when the check passed — and always NULL for
    ``expect_unique`` checks, whose violators are only identifiable
    with a per-key group-by (run the dedicated dedup/diff operators to
    chase those)."""
    if not expectations:
        raise ValueError("empty expectation suite")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, e in enumerate(expectations):
        if e.distinct_cols:
            aggs.append(
                (
                    F.count(F.lit(1))
                    - F.count_distinct(F.struct(*[F.col(c) for c in e.distinct_cols]))
                )
                .cast("long")
                .alias(f"__v{i}")
            )
        else:
            aggs.append(
                F.sum(F.when(e.violation, 1).otherwise(0))
                .cast("long")
                .alias(f"__v{i}")
            )
        if exemplar_key is not None:
            ex_col = (
                F.min(F.lit(None).cast(dict(df.dtypes)[exemplar_key]))
                if e.distinct_cols
                else F.min(F.when(e.violation, F.col(exemplar_key)))
            )
            aggs.append(ex_col.alias(f"__e{i}"))
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("ord"),
                F.lit(e.name).alias("check"),
                F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("n_violations"),
                *(
                    [F.col(f"__e{i}").cast("string").alias("exemplar")]
                    if exemplar_key is not None
                    else []
                ),
            )
            for i, e in enumerate(expectations)
        ]
    )
    return (
        row.select(F.explode(entries).alias("s"), F.col("__n").alias("n_rows"))
        .select(
            F.col("s.ord").alias("ord"),
            F.col("s.check").alias("check"),
            F.col("s.n_violations").alias("n_violations"),
            "n_rows",
            F.when(F.col("s.n_violations") == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("passed"),
            *([F.col("s.exemplar").alias("exemplar")] if exemplar_key is not None else []),
        )
    )
