"""Declarative expectations runner (operators/expectations.py): one
scan, per-check confusion with GE-style null semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import expectations as ex


def test_suite_handworked(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, 60.0, "X"),     # range + set violations
            (None, 5.0, "N"),   # not_null violation
            (4, None, None),    # NULLs ignored by range/set checks
            (1, 7.0, "R"),      # duplicate id
        ],
        "id long, qty double, flag string",
    )
    out = {
        r["check"]: r
        for r in ex.run_expectations(
            df,
            [
                ex.expect_not_null("id"),
                ex.expect_between("qty", 1, 50),
                ex.expect_in("flag", ["A", "N", "R"]),
                ex.expect_unique("id"),
            ],
        ).collect()
    }
    assert out["not_null(id)"]["n_violations"] == 1
    assert out["between(qty,1,50)"]["n_violations"] == 1  # the 60; NULL ignored
    assert out["in_set(flag)"]["n_violations"] == 1  # the X; NULL ignored
    assert out["unique(id)"]["n_violations"] == 1  # two id=1 rows
    assert all(r["n_rows"] == 5 for r in out.values())
    assert out["not_null(id)"]["passed"] == 0


def test_all_green_passes(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    rows = ex.run_expectations(
        df, [ex.expect_not_null("id"), ex.expect_unique("id")]
    ).collect()
    assert all(r["passed"] == 1 and r["n_violations"] == 0 for r in rows)


def test_single_scan_plan(spark):
    """The whole suite (without unique checks) must compile to ONE
    aggregation over ONE scan — no per-check passes."""
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    out = ex.run_expectations(
        df,
        [ex.expect_not_null("id"), ex.expect_between("v", 0, 6), ex.expect_in("v", [0, 1, 2, 3, 4, 5, 6])],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1  # one scan of the source


def test_empty_suite_rejected(spark):
    with pytest.raises(ValueError, match="empty"):
        ex.run_expectations(spark.range(1), [])


def test_expectation_shape_validated():
    with pytest.raises(ValueError, match="exactly one"):
        ex.Expectation("bad")


def test_exemplar_reports_min_violating_key(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.expectations import (
        expect_between,
        expect_not_null,
        expect_unique,
        run_expectations,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, 99), (3, None), (4, 98), (4, 7)], "k long, v long"
    )
    out = {
        r["check"]: (r["n_violations"], r["exemplar"])
        for r in run_expectations(
            df,
            [
                expect_not_null("v"),
                expect_between("v", 0, 50),
                expect_unique("k"),
            ],
            exemplar_key="k",
        ).collect()
    }
    assert out["not_null(v)"] == (1, "3")
    assert out["between(v,0,50)"] == (2, "2")  # min violating key of {2,4}
    assert out["unique(k)"] == (1, None)  # unique exemplars are NULL by contract


def test_no_exemplar_key_keeps_legacy_schema(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.expectations import (
        expect_not_null,
        run_expectations,
    )

    df = spark.createDataFrame([(1,)], "k long")
    out = run_expectations(df, [expect_not_null("k")])
    assert out.columns == ["ord", "check", "n_violations", "n_rows", "passed"]
