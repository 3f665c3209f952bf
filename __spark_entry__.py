"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``wordpress_sql_to_contentstack_exporter_spark``; this module is a
thin adapter over its query registry (plans/registry.py), which maps
every operator in SURVEY.md §2 (plus the beyond-reference dedup/
similarity/text/multimodal operators) to a (spark, sf_dir) callable and,
where SQL-expressible, a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
    ORACLE_SQL,
    SPARK_QUERIES,
    flagship_query,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; hash-based ops (minhash_neardup,
    simhash_neardup, ann_lsh_topk) are rows-only by design."""
    return dict(ORACLE_SQL)
