"""Distributed PCA sufficient statistics (operators/linalg.py): exact
Gramian against a numpy model, partition-invariance (the combine-order
freedom the integer scaling buys), and the skip and overflow guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import linalg as lin

SF_DIR = "/root/testdata/sf0.001"


def _fixture_vectors(spark, dim=64):
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    return {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}


def _model_stats(vecs: dict, scale_bits=20):
    v = np.floor(np.stack(list(vecs.values())) * (1 << scale_bits)).astype(np.int64)
    return v.T @ v, v.sum(axis=0), v.shape[0]


def test_gram_stats_match_numpy_model(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        (r["i"], r["j"]): r["val"]
        for r in lin.gram_stats(emb, dim=64, scale_bits=20).collect()
    }
    gram, sums, n = _model_stats(_fixture_vectors(spark))
    assert got[(-1, -1)] == n
    for i in range(64):
        assert got[(i, -1)] == sums[i]
        for j in range(i, 64):
            assert got[(i, j)] == gram[i, j]


def test_gram_stats_partition_invariant(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = lin.gram_stats(emb.repartition(1), dim=64).collect()
    b = lin.gram_stats(emb.repartition(17), dim=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_gram_stats_skips_malformed(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0, 3.0]), (4, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    got = {(r["i"], r["j"]): r["val"] for r in lin.gram_stats(df, dim=2).collect()}
    assert got[(-1, -1)] == 2  # only the two well-formed vectors


def test_nonfinite_vectors_skipped(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [float("nan"), 1.0]), (3, [float("inf"), 1.0]), (4, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r["i"], r["j"]): r["val"] for r in lin.gram_stats(df, dim=2).collect()}
    assert got[(-1, -1)] == 2  # NaN/Inf rows skipped, not poisoned


def test_empty_input_yields_empty_frame(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert lin.gram_stats(df, dim=2).count() == 0


def test_overflow_guard_raises_loudly(spark):
    rows = [(i, [1.0, 1.0]) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match="bound exceeded"):
        lin.gram_stats(df, dim=2, scale_bits=30).collect()
