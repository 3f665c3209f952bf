"""The plan audit reads the plans Spark executed, and its checks can fail."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import explain_audit as ea  # noqa: E402

from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd  # noqa: E402

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    rows = []
    for i in range(40):
        base = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(12)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(base[:-1] + ["omega"])))  # a near-dup
    path = str(tmp_path_factory.mktemp("audit_docs") / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_checkpointed_operator_is_audited_back_to_the_scan(spark, docs):
    plans = ea.executed_plans(
        spark, lambda: dd.setsim_join(docs, id_col="doc_id", text_col="text")
    )
    # the checkpoints run as executions of their own, besides the action
    assert len(plans) >= 2
    text = "\n".join(plans)
    assert "Scan parquet" in text
    assert re.search(ea.NO_TEXT_IN_EXCHANGE, text)


def test_text_shuffle_fails_the_exchange_check(spark, docs):
    plan = ea.executed_plan(spark, lambda: docs.repartition("text"))
    assert "hashpartitioning(text" in plan
    assert re.search(ea.NO_TEXT_IN_EXCHANGE, plan) is None
