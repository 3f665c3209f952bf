"""Structured JSON logging + per-stage metrics (SURVEY.md §2 row 47).

The reference uses winston JSON loggers with success/error/warn channels
and per-entity lines (logger.js:46-100, "exported post '16'"). Per-entity
logging is an anti-pattern at 100 TB (a log write per row); the engine
logs per-stage counts instead, collected for free via
``DataFrame.observe`` — metrics ride the action that already runs, no
extra pass over the data.
"""

from __future__ import annotations

import json
import logging
import sys
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class JsonFormatter(logging.Formatter):
    """winston-like JSON lines: {"level", "message", "timestamp", ...}."""

    def format(self, record: logging.LogRecord) -> str:
        doc = {
            "level": record.levelname.lower(),
            "message": record.getMessage(),
            "timestamp": time.strftime(
                "%Y-%m-%dT%H:%M:%S", time.gmtime(record.created)
            )
            + f".{int(record.msecs):03d}Z",
        }
        extra = getattr(record, "metrics", None)
        if extra:
            doc["metrics"] = extra
        return json.dumps(doc)


def get_logger(name: str = "wordpress_sql_to_contentstack_exporter_spark", stream=None) -> logging.Logger:
    logger = logging.getLogger(name)
    if not logger.handlers:
        handler = logging.StreamHandler(stream or sys.stderr)
        handler.setFormatter(JsonFormatter())
        logger.addHandler(handler)
        logger.setLevel(logging.INFO)
        logger.propagate = False
    return logger


def observe_stage(df: DataFrame, stage: str, *extra: Column):
    """Attach named observation metrics (row count + optional aggregates).

    Returns ``(df, observation)``; after any action on ``df``,
    ``observation.get`` holds the metrics dict. Rides the existing action —
    no extra pass.
    """
    from pyspark.sql import Observation

    obs = Observation(stage)
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra), obs
