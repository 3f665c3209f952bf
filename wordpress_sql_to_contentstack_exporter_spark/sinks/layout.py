"""Two-column Morton (Z-order) sort key for clustered parquet writes.

Parquet footers store per-column min/max; they only prune row groups
when values are CLUSTERED. Sorting by one column leaves the other
columns' per-file ranges full-width; sorting by the interleaved bits of
two keys (``zorder_key``) bounds BOTH columns' per-file ranges at once —
the Delta/Iceberg Z-ORDER trick, as pure codegen bit arithmetic. Sort
with it inside ``sortWithinPartitions`` before the write; the result is
a plain parquet dataset any stats-based reader prunes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Bits per column in the Z-order interleave. 31 keeps the interleaved
#: key (2 x 31 = 62 bits) inside a non-negative signed long under ANSI.
_Z_BITS = 31


def zorder_key(a: Column, b: Column, *, bits: int = 21) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns.

    ``bits`` low bits of each input are interleaved (a in even
    positions, b in odd) into one long sort key; rows close in BOTH
    dimensions land close in the sort order, so per-file min/max stay
    tight for a and b simultaneously. Inputs are masked to ``bits``
    (rank-encode or bucketize wider domains first — Z-order needs
    bounded, roughly uniform key space to cluster well). Pure
    shift/mask expressions — whole-stage codegen, no UDF.
    """
    from ..operators.layout import zorder_key as _nd_zorder_key

    if not 1 <= bits <= _Z_BITS:
        raise ValueError(f"bits must be in [1, {_Z_BITS}], got {bits}")
    mask = F.lit((1 << bits) - 1)
    # mask to ``bits`` then delegate to the n-dimensional interleave
    # (operators/layout.py — dim i at position n*b+i, which for n=2 is
    # exactly a-even / b-odd); one Morton implementation in the repo.
    return _nd_zorder_key(
        [a.cast("long").bitwiseAND(mask), b.cast("long").bitwiseAND(mask)],
        bits=bits,
    )
