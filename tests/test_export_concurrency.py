"""The export plane's execution contract: the modules of one ``run_export``
run concurrently, each runs one action over its plan, and each logs one
JSON line whose numbers come from the rows it collected."""

from __future__ import annotations

import io
import json
import logging
import os
import threading

import pytest

from wordpress_sql_to_contentstack_exporter_spark.logging_utils import JsonFormatter, get_logger
from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline as pl
from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import Catalog


def make_fake_fetch():
    # nested so cloudpickle ships it by value to the Python workers
    def fake_fetch(url: str, timeout: float) -> bytes:
        if "fail" in url:
            raise RuntimeError("status code: 500")
        return b"PNGDATA:" + url.encode()

    return fake_fetch


fake_fetch = make_fake_fetch()


def tree(root: str) -> dict[str, bytes]:
    files = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                files[os.path.relpath(p, root)] = f.read()
    return files


def last_execution_id(spark) -> int:
    """Newest SQL execution id in the status store, after the listener bus
    has delivered every event (the store is fed asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((seq.apply(i).executionId() for i in range(seq.size())), default=-1)


def test_each_module_executes_its_plan_once(spark, wp_catalog, tmp_path):
    counts = {}
    for m in pl.MODULES:
        before = last_execution_id(spark)
        pl.run_export(wp_catalog, str(tmp_path / m), modules=[m], fetch=fake_fetch)
        counts[m] = last_execution_id(spark) - before
    assert counts["authors"] == 1
    assert counts["categories"] == 1
    assert counts["posts"] <= 2  # site options + the document
    assert counts["assets"] == 2  # the checkpointed download + one collect


def test_cli_runs_no_action_after_the_export(spark, wp_catalog, tmp_path, monkeypatch):
    """The CLI's per-module lines come from the modules' own rows: nothing
    re-runs a plan to count it once ``run_export`` has returned."""
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    tables = tmp_path / "tables"
    for name in ("users", "usermeta"):
        wp_catalog.table(name).write.parquet(str(tables / f"wp_{name}.parquet"))
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "data_dir": str(tmp_path / "out"),
        "source": {"kind": "parquet", "path": str(tables)},
    }))
    marks = {}
    real = pl.run_export

    def run_export(*args, **kwargs):
        out = real(*args, **kwargs)
        marks["after"] = last_execution_id(spark)
        return out

    monkeypatch.setattr(pl, "run_export", run_export)
    assert main(["export", "--config", str(cfg), "--module", "authors"]) == 0
    assert last_execution_id(spark) == marks["after"]


def test_full_run_matches_single_module_runs(wp_catalog, tmp_path):
    full, single = str(tmp_path / "full"), str(tmp_path / "single")
    out = pl.run_export(wp_catalog, full, fetch=fake_fetch)
    assert list(out) == pl.MODULES
    for m in pl.MODULES:
        pl.run_export(wp_catalog, single, modules=[m], fetch=fake_fetch)
    assert tree(full) == tree(single)


def test_failure_raises_after_every_module_finishes(spark, wp_catalog, tmp_path):
    """authors (no usermeta) and posts (no options) fail; assets and
    categories still write their files, and the authors failure, first
    in MODULES order, is the one raised. No export thread outlives it."""
    cat = Catalog(spark)
    for name in ("users", "posts", "postmeta", "terms", "term_taxonomy", "term_relationships"):
        cat.register(name, lambda s, n=name: wp_catalog.table(n))
    data = str(tmp_path / "data")
    threads = threading.active_count()
    with pytest.raises(KeyError, match="usermeta"):
        pl.run_export(cat, data, fetch=fake_fetch)
    assert threading.active_count() == threads
    assert os.path.exists(f"{data}/assets/wp_assets.json")
    assert os.path.exists(f"{data}/master/wp_failed.json")
    assert os.path.exists(f"{data}/entries/categories/en-us.json")
    assert not os.path.exists(f"{data}/entries/authors/en-us.json")
    assert not os.path.exists(f"{data}/entries/posts/en-us.json")


def test_one_log_line_per_module_from_collected_rows(wp_catalog, tmp_path):
    data = str(tmp_path / "data")
    logger = get_logger()
    buf = io.StringIO()
    handler = logging.StreamHandler(buf)
    handler.setFormatter(JsonFormatter())
    logger.addHandler(handler)
    try:
        pl.run_export(wp_catalog, data, fetch=fake_fetch)
    finally:
        logger.removeHandler(handler)
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    metrics = {d["metrics"]["module"]: d["metrics"] for d in lines}
    assert len(lines) == len(metrics) == 4

    def size(*rels):
        return sum(os.path.getsize(f"{data}/{r}") for r in rels)

    for m, rows in (("authors", 2), ("categories", 3), ("posts", 2)):
        assert metrics[m]["rows"] == rows
        assert metrics[m]["bytes"] == size(f"entries/{m}/en-us.json", f"master/entries/{m}.json")
        assert metrics[m]["wall_s"] > 0
    assets = metrics["assets"]
    # asset 20 downloads, 21 fails on both attempts (one retry) into the DLQ
    assert {k: assets[k] for k in ("rows", "downloaded", "skipped", "failed", "retries", "dlq")} == {
        "rows": 2, "downloaded": 1, "skipped": 0, "failed": 1, "retries": 1, "dlq": 1,
    }
    assert assets["bytes"] == size(
        "assets/wp_assets.json", "master/wp_assets.json", "master/wp_urls.json", "master/wp_failed.json"
    )


def test_concurrent_first_get_logger_adds_one_handler():
    """The modules' first log lines race to set the logger up; a lost
    check-then-act would attach two handlers and print every line twice."""
    import sys

    name = "export-concurrency-probe"
    barrier = threading.Barrier(16)

    def first_call():
        barrier.wait(timeout=10)
        get_logger(name, stream=io.StringIO())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(logging.getLogger(name).handlers) == 1
