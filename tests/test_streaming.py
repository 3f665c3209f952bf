"""Structured Streaming: Trigger.AvailableNow incremental processing with
checkpoint-based resume, and watermarked window aggregation."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.streaming import (
    incremental_export,
    windowed_event_counts,
)


def test_incremental_export_processes_only_new_files(spark, tmp_path):
    inp = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    out: list[tuple[int, list]] = []

    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    batch1.write.parquet(str(inp / "f1"))
    schema = batch1.schema

    def collect_batch(df, batch_id):
        out.append((batch_id, sorted(r["id"] for r in df.collect())))

    def transform(df):
        return df.filter(F.col("id") > 0)

    incremental_export(
        spark, f"{inp}/*", schema, collect_batch, ckpt, transform=transform
    )
    assert [ids for _, ids in out] == [[1, 2]]

    # second run with a new file: only the new rows are processed
    spark.createDataFrame([(3, "c")], "id long, v string").write.parquet(str(inp / "f2"))
    incremental_export(
        spark, f"{inp}/*", schema, collect_batch, ckpt, transform=transform
    )
    seen = [ids for _, ids in out]
    assert seen[0] == [1, 2]
    assert [i for ids in seen[1:] for i in ids] == [3]

    # third run, nothing new: no further rows
    incremental_export(
        spark, f"{inp}/*", schema, collect_batch, ckpt, transform=transform
    )
    assert [i for ids in [ids for _, ids in out][1:] for i in ids] == [3]


def test_windowed_event_counts_batch_parity(spark):
    T = dt.datetime
    events = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 5), "click"),
            (2, T(2024, 1, 1, 10, 55), "click"),
            (3, T(2024, 1, 1, 11, 5), "click"),
            (4, T(2024, 1, 1, 10, 20), "view"),
        ],
        "event_id long, ts timestamp, event_type string",
    )
    out = windowed_event_counts(events, window_duration="1 hour")
    rows = {
        (r["window_start"].hour, r["event_type"]): r["n_events"] for r in out.collect()
    }
    assert rows[(10, "click")] == 2
    assert rows[(11, "click")] == 1
    assert rows[(10, "view")] == 1


def test_streaming_exact_dedup_bounded_state_across_runs(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on the content hash: duplicate
    content inside the watermark horizon is dropped — including a
    duplicate arriving in a LATER AvailableNow run (state persists via
    the checkpoint) — while distinct content always passes."""
    import datetime as dt

    from wordpress_sql_to_contentstack_exporter_spark.streaming import streaming_exact_dedup

    T = dt.datetime
    inp = tmp_path / "docs"
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, ts timestamp"

    def run_once():
        got = []

        def sink(df, _bid):
            got.extend((r["doc_id"], r["text"]) for r in df.collect())

        stream = spark.readStream.schema(schema).parquet(f"{inp}/*")
        q = (
            streaming_exact_dedup(stream, watermark="1 hour")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    t0 = T(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            (1, "Same   Doc", t0),
            (2, "same doc", t0 + dt.timedelta(seconds=5)),  # dup (normalized)
            (3, "another doc", t0 + dt.timedelta(seconds=1)),
        ],
        schema,
    ).coalesce(1).write.parquet(str(inp / "f1"))
    first = run_once()
    texts = sorted(t for _, t in first)
    assert len(first) == 2  # one of the dup pair survived
    assert "another doc" in texts

    # second run: same content again (within watermark) dropped via
    # checkpointed state; fresh content passes
    spark.createDataFrame(
        [
            (4, "SAME DOC", t0 + dt.timedelta(seconds=30)),  # still a dup
            (5, "fresh doc", t0 + dt.timedelta(seconds=40)),
        ],
        schema,
    ).coalesce(1).write.parquet(str(inp / "f2"))
    second = run_once()
    assert [(i, t) for i, t in second] == [(5, "fresh doc")]


def test_streaming_minhash_neardup_matches_across_batches(spark, tmp_path):
    """A near-dup arriving in a LATER run must pair with its original from
    an EARLIER run (the accumulating signature index), and unrelated docs
    must not pair. Also checks new-vs-new pairs within one batch."""
    from wordpress_sql_to_contentstack_exporter_spark.streaming import streaming_minhash_neardup

    inp = tmp_path / "in"
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets slowly "
        "behind distant purple mountains and rivers wind through quiet green valleys "
        "carrying small wooden boats toward the old stone bridge near the village"
    )
    b1 = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),  # near-dup of 1, same batch
            (3, "completely different words about spark streaming state stores"),
        ],
        "doc_id long, text string",
    )
    b1.write.parquet(str(inp / "f1"))
    schema = b1.schema

    def run():
        stream = spark.readStream.schema(schema).parquet(f"{inp}/*")
        streaming_minhash_neardup(
            stream, index_dir, pairs_dir, ckpt,
            num_hashes=16, bands=2, min_est_jaccard=0.5,
        )

    run()
    pairs1 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 2) in pairs1
    assert not any(3 in p for p in pairs1)

    # second run: doc 4 is a near-dup of doc 1 (from run 1)
    spark.createDataFrame(
        [(4, base + " yesterday evening")], "doc_id long, text string"
    ).write.parquet(str(inp / "f2"))
    run()
    pairs2 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 4) in pairs2
    assert pairs1 <= pairs2  # earlier emissions retained

    # third run with nothing new: no growth
    run()
    pairs3 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_dir).collect()}
    assert pairs3 == pairs2


def test_session_window_counts_batch_parity_and_streaming(spark, tmp_path):
    import datetime as dt

    from wordpress_sql_to_contentstack_exporter_spark.streaming.incremental import session_window_counts

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 1, 10, 0), 1),
        (2, T(2024, 1, 1, 10, 10), 1),   # same session (gap 30m)
        (3, T(2024, 1, 1, 11, 30), 1),   # > 30m later -> new session
        (4, T(2024, 1, 1, 10, 5), 2),
    ]
    batch = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = session_window_counts(batch, gap="30 minutes")
    got = {
        (r["user_id"], r["session_start"].hour, r["session_start"].minute): r["n_events"]
        for r in out.collect()
    }
    # session end extends gap past the LAST event; counts split on the gap
    assert got == {(1, 10, 0): 2, (1, 11, 30): 1, (2, 10, 5): 1}

    # the same plan runs as a stream: feed the rows as one file batch
    src = tmp_path / "in"
    src.mkdir()
    batch.write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(str(src / "*.parquet"))
    q = (
        session_window_counts(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("svc_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    srows = {
        (r["user_id"], r["session_start"].hour): r["n_events"]
        for r in spark.sql("select * from svc_test").collect()
    }
    assert srows == {(1, 10): 2, (1, 11): 1, (2, 10): 1}
