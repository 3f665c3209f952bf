"""Distributed linear algebra for embedding columns: exact Gramian
sufficient statistics.

Embedding preprocessing at corpus scale (whitening before ANN/dedup,
PCA for dimension reduction, covariance drift monitoring) needs ONE
distributed quantity: the Gramian/mean sufficient statistics
``(Σ vᵢvⱼ, Σ vᵢ, n)``. Everything downstream — covariance, eigenvectors,
whitening transform — is a ``d x d`` problem the driver solves in
microseconds. The classic scalable shape (one pass, map-side partial
Gramians, tiny shuffle) — never a row-pair join, never a global
collect of vectors.

Exactness discipline: vectors are integer-scaled ``floor(x * 2^scale_bits)``
BEFORE any product (exact in every engine, the registry's float
doctrine), so partial Gramians are exact longs and their sum is
combine-order-free — the statistics are bit-identical on any engine,
any partitioning, any retry. Overflow bound (documented, asserted):
``n * 2^(2*scale_bits + 2) < 2^63`` — at scale_bits=20 that allows
~2^21 rows; drop scale_bits as n grows (at 10^9 rows, scale_bits=10
still gives ~3 decimal digits of per-coordinate precision, and the
driver-side covariance divides the scale back out).

:func:`gram_stats` computes Arrow-batched partial Gramians (numpy int64
matmul per batch: d x d work per row batch, emitted as the d(d+1)/2
upper triangle + d sums + count), then one tiny aggregation keyed on
(i, j): the shuffle carries ~2k rows per PARTITION, independent of row
count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["gram_stats"]

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("val", T.LongType(), False),
    ]
)


def gram_stats(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    scale_bits: int = 20,
) -> DataFrame:
    """Exact integer Gramian sufficient statistics of an
    ``array<float>`` column.

    Output rows (i, j, val):
      - ``0 <= i <= j < dim``: ``Σ_rows v_i * v_j`` (upper triangle of
        the scaled Gramian),
      - ``(i, -1)``: ``Σ_rows v_i`` (per-dimension scaled sums),
      - ``(-1, -1)``: row count.
    with ``v = floor(x * 2^scale_bits)`` per coordinate — exact longs,
    combine-order-free, engine-portable. Rows whose vector is NULL, of
    the wrong length, or containing a non-finite value (NaN/Inf would
    floor to int64 garbage and silently poison every cell) are SKIPPED
    and excluded from the count (documented; the oracle applies the
    same filters). An all-skipped/empty input yields an EMPTY frame
    (no zero-statistics rows — "no data" and "statistics of nothing"
    must not alias). The int64 bound is ENFORCED: each partition
    raises if any accumulated statistic passes 2^62 (margin below the
    wrap point), so an oversized corpus/scale_bits combination fails
    loudly instead of wrapping — lower ``scale_bits`` as n grows (the
    cross-partition combine is covered by the session's ANSI mode,
    which raises on long-sum overflow instead of wrapping).
    """
    scale = 1 << scale_bits
    iu = np.triu_indices(dim)
    limit = 1 << 62

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gram = np.zeros((dim, dim), dtype=np.int64)
        sums = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            vecs = [
                v for v in pdf[vec_col] if v is not None and len(v) == dim
            ]
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            finite = np.isfinite(x).all(axis=1)
            if not finite.all():
                x = x[finite]
            if x.shape[0] == 0:
                continue
            v = np.floor(x * scale).astype(np.int64)
            # bound check BEFORE accumulating, in exact Python ints: a
            # single batch's matmul can wrap int64 internally, so a
            # post-hoc check would inspect already-corrupt values. The
            # worst-case increment is rows * max|v|^2 per cell.
            mx = int(np.abs(v).max()) if v.size else 0
            cur = int(np.abs(gram).max()) if n else 0
            if cur + v.shape[0] * mx * mx >= limit:
                raise OverflowError(
                    f"gram_stats int64 bound exceeded near {n} rows/partition "
                    f"with scale_bits={scale_bits}; lower scale_bits"
                )
            gram += v.T @ v
            sums += v.sum(axis=0)
            n += v.shape[0]
        if n == 0:
            return
        out_i = np.concatenate([iu[0], np.arange(dim), [-1]])
        out_j = np.concatenate([iu[1], np.full(dim, -1), [-1]])
        out_v = np.concatenate([gram[iu], sums, [n]])
        yield pd.DataFrame(
            {
                "i": out_i.astype("int32"),
                "j": out_j.astype("int32"),
                "val": out_v.astype("int64"),
            }
        )

    partial = df.select(vec_col).mapInPandas(run, _STATS_SCHEMA)
    return partial.groupBy("i", "j").agg(F.sum("val").cast("long").alias("val"))
