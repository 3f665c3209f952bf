"""Multi-dimensional data layout: Z-order clustering + data-skipping audit.

At 100 TB the dominant cost of a selective multi-dimensional query is
how many files the scan can SKIP using per-file min/max statistics
(parquet row-group stats / lakehouse file stats). A single-column sort
gives perfect skipping on that column and none on the others; a Z-order
(Morton) interleave of the dimension bits gives good skipping on ALL
interleaved dimensions at once — the layout `OPTIMIZE ZORDER BY`
implements in lakehouse engines, built here from first principles as
plain column arithmetic.

Pieces:

- :func:`zorder_key` — the Morton interleave as a pure codegen column
  expression (shift/mask/or, no UDF, stays inside whole-stage codegen).
- :func:`assign_files` — deterministic file assignment by GLOBAL rank
  over a clustering key. Reuses :func:`~.relational.global_rank`
  (value-bucketed B-way windows + broadcast offsets) so the global sort
  shards across reducers instead of collapsing to the one-partition
  ``row_number() OVER (ORDER BY ...)`` window. ``file_id = (rank-1) *
  n_files // total`` is exact integer arithmetic — unlike
  ``repartitionByRange`` (whose sampled boundaries are run-dependent
  and can never be an oracle contract), the same rows land in the same
  files on every engine and every run.
- :func:`file_stats` / :func:`skip_audit` — per-file min/max over the
  dimension columns plus the scan/skip decision for a box predicate:
  a file is scanned iff its [min,max] envelope intersects the box,
  which is exactly the pruning rule a stats-based reader applies.

Per-file stats of a dataset written sorted by :func:`zorder_key` come
for free from the parquet footers. This module is the ANALYSIS side:
the rank construction is the oracle-able skeleton of the same
assignment (the audit needs deterministic file boundaries to be
checkable cross-engine), and the audit quantifies what the layout buys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import global_rank

__all__ = ["zorder_key", "zorder_sql_expr", "assign_files", "file_stats", "skip_audit"]


def zorder_key(dim_cols: list[str | Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of ``len(dim_cols)`` non-negative
    integer columns, ``bits`` bits each, into one LONG.

    Bit ``b`` of dimension ``i`` lands at position ``n*b + i`` — the
    standard interleave, so a prefix of the Z-value constrains every
    dimension simultaneously. Callers must pre-reduce dimensions into
    ``[0, 2**bits)`` (e.g. ``col % 1024`` or a quantile bucket);
    ``n_dims * bits`` must stay <= 62 to fit a signed long.

    Pure shift/mask/or column arithmetic — whole-stage codegen, no UDF,
    exact at any scale.
    """
    n = len(dim_cols)
    if n * bits > 62:
        raise ValueError(f"{n} dims x {bits} bits exceeds a signed long")
    out: Column | None = None
    for i, c in enumerate(dim_cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        for b in range(bits):
            term = F.shiftleft(F.shiftright(col, b).bitwiseAND(F.lit(1)), n * b + i)
            out = term if out is None else out.bitwiseOR(term)
    assert out is not None
    return out


def zorder_sql_expr(dim_exprs: list[str], bits: int = 16) -> str:
    """The same Morton interleave as portable ANSI-SQL integer
    arithmetic (``//``, ``%``, ``*``, ``+`` — no bit operators), for
    mirroring :func:`zorder_key` in an oracle. Exact on integers in any
    engine; bit-identical to the Spark expression by construction."""
    n = len(dim_exprs)
    parts = []
    for i, e in enumerate(dim_exprs):
        for b in range(bits):
            parts.append(f"((({e}) // {1 << b}) % 2) * {1 << (n * b + i)}")
    return " + ".join(parts)


def assign_files(
    df: DataFrame,
    *,
    order_col: str,
    tiebreak: list[str],
    n_files: int,
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministically assign every row to one of ``n_files`` files by
    global rank over ``(order_col, *tiebreak)``.

    ``file_id = (rank - 1) * n_files // total`` — file sizes differ by
    at most one row and the assignment is exact integer arithmetic,
    reproducible cross-engine (the oracle-able stand-in for the sampled
    boundaries of ``repartitionByRange``). The global rank itself runs
    through :func:`global_rank`'s value-bucketed B-way windows, so no
    single reducer sees the whole dataset.
    """
    ranked = global_rank(
        df,
        value_col=order_col,
        tiebreak=tiebreak,
        n_buckets=n_buckets,
        scale=1,
        out_col="__file_rank",
    )
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        ranked.join(F.broadcast(total))
        .withColumn(
            "file_id",
            F.expr(f"((__file_rank - 1) * {int(n_files)}) div __total").cast("long"),
        )
        .drop("__file_rank", "__total")
    )


def file_stats(df: DataFrame, *, dim_cols: list[str], layout: str) -> DataFrame:
    """Per-file row count + min/max envelope over the dimension columns
    — the statistics a stats-based scan planner consults. One partial
    agg per file; map-side combinable."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in dim_cols:
        aggs.append(F.min(c).cast("long").alias(f"min_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"max_{c}"))
    return df.groupBy("file_id").agg(*aggs).withColumn("layout", F.lit(layout))


def skip_audit(stats: DataFrame, box: dict[str, tuple[int, int]]) -> DataFrame:
    """Mark each file scanned (1) or skipped (0) for a conjunctive box
    predicate ``{dim: (lo, hi)}`` (inclusive bounds): a file must be
    scanned iff its [min,max] envelope intersects the box on EVERY
    dimension — exactly the min/max pruning rule. Integer comparisons
    only; sound by interval arithmetic (a skipped file provably
    contains no matching row)."""
    cond: Column | None = None
    for c, (lo, hi) in box.items():
        t = (F.col(f"max_{c}") >= F.lit(int(lo))) & (F.col(f"min_{c}") <= F.lit(int(hi)))
        cond = t if cond is None else cond & t
    assert cond is not None
    return stats.withColumn("scanned", cond.cast("long"))


def compaction_plan(
    files: DataFrame,
    *,
    partition_cols: list[str],
    path_col: str = "path",
    bytes_col: str = "bytes",
    target_bytes: int,
    min_group_files: int = 2,
) -> DataFrame:
    """Small-files compaction planner — the OPTIMIZE-style maintenance
    pass every long-lived 100 TB table needs (daily appends leave
    thousands of under-sized files per partition; every query then pays
    per-file open/footer costs and the scheduler pays per-split
    overhead).

    Input: a file manifest (partition columns + ``path_col`` +
    ``bytes_col`` — e.g. from the catalog or a storage listing). Per
    partition, files are walked in deterministic ``path`` order and
    coalesced next-fit into groups of ~``target_bytes``: group id =
    ``(running_bytes_before_file) div target_bytes`` — exact integer
    arithmetic, so the plan is engine-reproducible and the oracle is
    ULP-free. Groups with fewer than ``min_group_files`` files are
    dropped from the plan (rewriting a single file buys nothing).

    Output: one row per file selected for rewriting —
    partition cols + ``path``, ``bytes``, ``group_id`` (the rewrite
    task), plus per-group ``group_bytes``/``group_files`` for the
    executor that sizes rewrite tasks. The plan is METADATA-scale work:
    one shuffle of (partition, path, bytes) triples — never data — so
    planning a million-file table costs megabytes.

    Next-fit (not best-fit/first-fit-decreasing) is deliberate: it
    preserves path order, which for date/sequence-named files preserves
    rough time-locality inside rewritten files, and it is expressible
    as ONE window pass.

    Files already at or above ``target_bytes`` are EXCLUDED before the
    walk (Delta OPTIMIZE's rule): a compaction plan must never schedule
    re-writing a terabyte file to glue a 100-byte neighbor onto it —
    that is exactly the data-scale I/O the planner exists to avoid
    (round-8 review finding; an earlier draft pulled oversized files
    into groups). Consequence: remaining small files on either side of
    an excluded file coalesce with each other.
    """
    from pyspark.sql import Window

    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    files = files.filter(F.col(bytes_col) < F.lit(int(target_bytes)))
    w = Window.partitionBy(*partition_cols).orderBy(F.col(path_col).asc())
    cum_before = (
        F.coalesce(
            F.sum(F.col(bytes_col)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        )
    )
    staged = (
        files.select(
            *partition_cols,
            F.col(path_col).alias("path"),
            F.col(bytes_col).cast("long").alias("bytes"),
        )
        .withColumn("__cum_before", cum_before)
        # integer next-fit: floor-div in LONG (`div`), never the double
        # `/` path — exact at any byte total
        .withColumn(
            "group_id", F.expr(f"__cum_before div {int(target_bytes)}L")
        )
        .drop("__cum_before")
    )
    gw = Window.partitionBy(*partition_cols, "group_id")
    out = (
        staged.withColumn("group_bytes", F.sum("bytes").over(gw).cast("long"))
        .withColumn("group_files", F.count(F.lit(1)).over(gw).cast("long"))
        .filter(F.col("group_files") >= min_group_files)
    )
    return out
