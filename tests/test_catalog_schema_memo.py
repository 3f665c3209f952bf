"""``sources.catalog.read_parquet`` infers a parquet table's schema once
per session: a later read of an unchanged local path runs no Spark job, a
rewritten path is inferred again, and a path that is not a local file or
directory is never memoized."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from wordpress_sql_to_contentstack_exporter_spark.sources import catalog
from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import Catalog, load_table


def _jobs(spark, action) -> list[int]:
    """Spark job ids that ``action`` starts, read from the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write_posts(path, rows, *, extra=False):
    cols = {"ID": [r[0] for r in rows], "post_title": [r[1] for r in rows]}
    if extra:
        cols["post_status"] = ["publish"] * len(rows)
    pq.write_table(pa.table(cols), f"{path}/part-0.parquet")


def test_second_catalog_read_runs_no_spark_job(spark, tmp_path):
    posts = tmp_path / "wp_posts.parquet"
    posts.mkdir()
    _write_posts(posts, [(1, "a"), (2, "b")])
    cat = Catalog(spark, prefix="wp_")
    cat.register_parquet_dir(str(tmp_path), ["posts"])

    first = _jobs(spark, lambda: cat.table("posts"))
    assert len(first) >= 1  # the first read infers the schema with a job
    holder = {}
    second = _jobs(spark, lambda: holder.setdefault("df", cat.table("posts")))
    assert second == []
    assert sorted(r["ID"] for r in holder["df"].collect()) == [1, 2]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    posts = tmp_path / "posts.parquet"
    posts.mkdir()
    _write_posts(posts, [(1, "a")])
    cat = Catalog(spark)
    cat.register_parquet_dir(str(tmp_path), ["posts"])
    assert cat.table("posts").columns == ["ID", "post_title"]
    assert cat.table("posts").columns == ["ID", "post_title"]

    _write_posts(posts, [(1, "a"), (2, "b")], extra=True)
    df = cat.table("posts")
    assert df.columns == ["ID", "post_title", "post_status"]
    assert sorted(r["post_status"] for r in df.collect()) == ["publish", "publish"]


def test_events_nanos_read_through_the_memo(spark, tmp_path):
    """The nanosecond ``events.ts`` comes back as a microsecond timestamp
    on the memoized read too, with no inference job."""
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), f"{tmp_path}/events.parquet")
    first = load_table(spark, str(tmp_path), "events")
    holder = {}
    jobs = _jobs(spark, lambda: holder.setdefault("df", load_table(spark, str(tmp_path), "events")))
    assert jobs == []
    for df in (first, holder["df"]):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.selectExpr("CAST(ts AS STRING)").first()[0] == "2023-11-14 22:13:20.123456"


def test_non_local_paths_are_not_memoized(spark, tmp_path):
    assert catalog._file_stamps("s3a://bucket/posts.parquet") is None
    assert catalog._file_stamps(str(tmp_path / "missing.parquet")) is None
    posts = tmp_path / "p.parquet"
    posts.mkdir()
    _write_posts(posts, [(1, "a")])
    glob = f"{posts}/*.parquet"
    assert catalog._file_stamps(glob) is None
    assert catalog.read_parquet(spark, glob).count() == 1
    assert all(not k.endswith("*.parquet") for k in catalog._SCHEMAS.get(spark, {}))
