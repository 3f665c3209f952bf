"""Distributed hashed-BoW logistic regression (operators/classify):
learnability on a separable fixture and the bit-stable-under-partitioning
claim (the module's central determinism contract)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import classify as clf

POS = ["good clean prose here", "well written good text", "good good prose"]
NEG = ["spam spam buy now", "buy spam click now", "spam click buy"]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(i, t, 1) for i, t in enumerate(POS)] + [
        (i + 100, t, 0) for i, t in enumerate(NEG)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_featurize_l1_normalized_and_sorted(spark):
    d = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    row = clf.featurize_hashed_bow(d, n_features=64).collect()[0]
    assert list(row["feats"]) == sorted(row["feats"])
    assert abs(sum(row["vals"]) - 1.0) < 1e-12
    assert len(row["feats"]) == len(set(row["feats"]))  # distinct buckets


def test_learns_separable_labels(labeled):
    _, hist = clf.train_logreg(labeled, n_features=64, iters=15, lr=2.0)
    rows = sorted(hist.collect(), key=lambda r: r["iter"])
    assert rows[-1]["correct"] == rows[-1]["n"] == 6  # fits the fixture
    assert rows[-1]["loss_q"] < rows[0]["loss_q"]  # loss decreased


def test_training_is_bit_stable_under_repartitioning(labeled):
    """The determinism contract: per-row fixed-point quantization before
    any cross-row sum makes the whole trajectory independent of
    partitioning — THE property that makes distributed training a
    reproducible artifact."""
    w1, h1 = clf.train_logreg(labeled, n_features=64, iters=8)
    w2, h2 = clf.train_logreg(
        labeled.repartition(7), n_features=64, iters=8
    )
    assert np.array_equal(w1, w2)
    assert sorted(map(tuple, h1.collect())) == sorted(map(tuple, h2.collect()))


def test_empty_frame_raises(spark):
    empty = spark.createDataFrame([], "doc_id long, text string, label int")
    with pytest.raises(ValueError, match="empty"):
        clf.train_logreg(empty, n_features=32, iters=1)


def test_parameter_guards(labeled):
    with pytest.raises(ValueError, match="scale_bits"):
        clf.train_logreg(labeled, scale_bits=10)
    with pytest.raises(ValueError, match="iters"):
        clf.train_logreg(labeled, iters=0)
    with pytest.raises(ValueError, match="n_features"):
        clf.featurize_hashed_bow(labeled, n_features=1)
