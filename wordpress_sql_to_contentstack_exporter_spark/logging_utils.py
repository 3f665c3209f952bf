"""Structured JSON logging + per-stage metrics (SURVEY.md §2 row 47).

The reference uses winston JSON loggers with success/error/warn channels
and per-entity lines (logger.js:46-100, "exported post '16'"). Per-entity
logging is an anti-pattern at 100 TB (a log write per row); the engine
logs one line per export module instead, with counts taken from the rows
that module already collected — metrics ride the action that already
runs, no extra pass over the data.
"""

from __future__ import annotations

import json
import logging
import sys
import threading
import time


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


class _StderrHandler(logging.StreamHandler):
    """Writes to ``sys.stderr`` as it is when each record is emitted: the
    stream bound at set-up may be closed by then (a test runner's capture
    stream at interpreter exit)."""

    stream = property(lambda self: sys.stderr, lambda self, _: None)


_SETUP = threading.Lock()  # export modules log from concurrent threads


def get_logger(name: str = "wordpress_sql_to_contentstack_exporter_spark", stream=None) -> logging.Logger:
    logger = logging.getLogger(name)
    with _SETUP:
        if not logger.handlers:
            handler = logging.StreamHandler(stream) if stream else _StderrHandler()
            handler.setFormatter(JsonFormatter())
            logger.addHandler(handler)
            logger.setLevel(logging.INFO)
            logger.propagate = False
    return logger
