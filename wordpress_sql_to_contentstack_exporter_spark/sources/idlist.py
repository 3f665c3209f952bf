"""ID-list file source — the reference's resume/backfill input.

The reference reads a comma-separated ID file and splices it into
``ID IN (...)`` SQL (app.js:12, posts.js:253-254,176-177 and clones;
workflow README.md:57-62). Here the file becomes a one-column DataFrame
to semi-join against — no SQL splicing, and it scales to arbitrarily
large ID lists (a 10^9-row DLQ re-drive is just a shuffle join; a small
list auto-broadcasts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_id_list(spark: SparkSession, path: str, col_name: str = "id") -> DataFrame:
    """Parse a text file of comma/newline-separated integer IDs."""
    lines = spark.read.text(path)
    return (
        lines.select(F.explode(F.split(F.col("value"), r"[,\s]+")).alias(col_name))
        .filter(F.col(col_name) != "")
        .select(F.col(col_name).cast("long").alias(col_name))
        .filter(F.col(col_name).isNotNull())
        .distinct()
    )


def filter_by_ids(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """Semi-join semantics of the reference's ``...ByID`` queries
    (SURVEY.md §2 rows 14, 23)."""
    id_col = ids.columns[0]
    return df.join(ids.withColumnRenamed(id_col, key), on=key, how="left_semi")
