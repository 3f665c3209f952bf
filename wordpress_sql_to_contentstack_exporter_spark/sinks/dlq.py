"""Dead-letter sink (SURVEY.md §2 row 10).

The reference accumulates ``{ID: error}`` for failed asset downloads into
``wp_failed.json`` (assets.js:24,88,100,114,214), clears an entry on later
success, and re-drives failures via the ID-file path (README.md:57-62).

Here the DLQ is the (id, error) pairs of the download results the assets
module already collected; the JSON file keeps the reference's
``{id: error}`` shape, and ``read_dlq_ids`` closes the loop by turning run
N's failures into run N+1's ID input (a missing file re-drives nothing).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from .keyed_json import Written, read_document, write_document


def write_dlq(
    failures: Iterable[tuple[str, str]],
    *,
    path: str,
    succeeded: Iterable[str] = (),
) -> Written:
    """Merge this run's (id, error) failures into the DLQ file, mirroring
    the reference's behavior exactly (assets.js:24,133-137): existing
    entries are PRELOADED and kept, an id that succeeded this run is
    cleared, a failure (re)writes its entry. Untouched failures from prior
    runs survive — overwriting would silently orphan them."""
    doc = read_document(path)
    for k in succeeded:
        doc.pop(k, None)
    doc.update(failures)
    doc = dict(sorted(doc.items()))
    return Written(write_document(path, doc), len(doc))


def read_dlq_ids(spark: SparkSession, path: str, *, col_name: str = "id") -> DataFrame:
    """DLQ file -> one-column id DataFrame (the resume-by-ID input)."""
    ids = [(int(k),) for k in read_document(path)]
    return spark.createDataFrame(ids, schema=f"{col_name} long")
