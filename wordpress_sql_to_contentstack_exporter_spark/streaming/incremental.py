"""Incremental export via Structured Streaming (SURVEY.md §1.1 "batch, not
streaming" / §7 stage note).

The reference's incremental story is manual: resume files, skip-if-exists,
DLQ re-drive (assets.js:78-80, README.md:57-62). The Spark-native form is
``Trigger.AvailableNow`` over a file (or CDC) source: each run processes
exactly the files that arrived since the last checkpoint, then stops —
the batch pipeline becomes incremental with zero bespoke state tracking
(the checkpoint IS the manifest). At scale the same topology runs
continuously by swapping the trigger.

``foreachBatch`` bridges to the engine's batch sinks (keyed-JSON,
downloader): each micro-batch is a plain DataFrame, so every operator in
this package composes unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def incremental_export(
    spark: SparkSession,
    input_dir: str,
    schema: StructType,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
    reader_options: dict[str, str] | None = None,
    continuous: bool = False,
):
    """Process all not-yet-seen files under ``input_dir`` and stop —
    or, with ``continuous=True``, keep tailing the directory.

    ``batch_fn(batch_df, batch_id)`` receives each micro-batch (already
    ``transform``-ed) — attach any batch sink there. Re-running with the
    same ``checkpoint_dir`` is the resume path: only new files are read.

    Returns the ``StreamingQuery``. In the default AvailableNow mode it
    has already terminated; in continuous mode the CALLER owns it —
    discard the handle and the stream dies when the driver process
    exits, with no way to stop or monitor it short of fishing through
    ``spark.streams.active``.
    """
    reader = spark.readStream
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.schema(schema).format(fmt).load(input_dir)
    if transform is not None:
        stream = transform(stream)
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if not continuous:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if not continuous:
        query.awaitTermination()
    return query


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the standard late-data-tolerant
    streaming aggregate. Works identically on a batch DataFrame (the
    watermark is a no-op there), so correctness is testable in batch and
    the same plan deploys streaming.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_window_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SESSION-window aggregate via the built-in
    ``F.session_window`` — the engine-native complement to
    ``streaming/stateful.sessionize_stream``'s applyInPandasWithState
    sessionizer: use this when per-session count/sum/bounds suffice
    (state lives in the JVM state store, merges sessions on arrival,
    and expires via the watermark — no Python worker in the loop);
    drop to the stateful Pandas form only for custom per-session logic
    the built-in cannot express (e.g. emitting mid-session milestones).

    Identical semantics in batch (watermark is a no-op there), so
    correctness is batch-testable and the same plan deploys streaming —
    the windowed_event_counts discipline.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )
