"""Contenttype-schema validation (SURVEY.md §1.3).

The reference declares per-field metadata in ``contenttypes/*.json``
(``mandatory``, ``unique``, ``multiple``) but never enforces it. Here the
declared schema becomes an executable validation pass: each check returns
the violating rows as a DataFrame (empty == valid), so validation scales
with the data and composes with the plan (no driver-side row loops).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class FieldRule:
    name: str
    mandatory: bool = False
    unique: bool = False
    multiple: bool = False


@dataclass
class ContentType:
    """Executable subset of a contenttypes/*.json declaration."""

    name: str
    fields: list[FieldRule] = field(default_factory=list)

    def mandatory_violations(self, df: DataFrame) -> DataFrame:
        cond = None
        for f_ in self.fields:
            if not f_.mandatory:
                continue
            c = F.col(f_.name).isNull()
            cond = c if cond is None else cond | c
        if cond is None:
            return df.limit(0)
        return df.filter(cond)

    def unique_violations(self, df: DataFrame) -> DataFrame:
        """Rows whose unique-field value occurs more than once — a single
        hash aggregation per unique field, unioned."""
        outs = []
        for f_ in self.fields:
            if not f_.unique:
                continue
            dupes = (
                # SQL UNIQUE semantics: NULLs never collide with each other
                df.filter(F.col(f_.name).isNotNull())
                .groupBy(f_.name)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .select(
                    F.lit(f_.name).alias("field"),
                    F.col(f_.name).cast("string").alias("value"),
                    F.col("n"),
                )
            )
            outs.append(dupes)
        if not outs:
            return df.sparkSession.createDataFrame([], "field string, value string, n long")
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out


POSTS_TYPE = ContentType(
    "posts",
    [
        FieldRule("title", mandatory=True),
        FieldRule("url", mandatory=True, unique=True),
        FieldRule("uid", mandatory=True, unique=True),
        FieldRule("author", multiple=True),
        FieldRule("category", multiple=True),
    ],
)

AUTHORS_TYPE = ContentType(
    "authors",
    [
        FieldRule("title", mandatory=True),
        FieldRule("uid", mandatory=True, unique=True),
        FieldRule("email", mandatory=True),
    ],
)

CATEGORIES_TYPE = ContentType(
    "categories",
    [
        FieldRule("title", mandatory=True),
        FieldRule("uid", mandatory=True, unique=True),
        FieldRule("parent", multiple=True),
    ],
)
