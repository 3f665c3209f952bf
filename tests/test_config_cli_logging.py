"""Config loading, CLI module selection, and structured logging/metrics."""

from __future__ import annotations

import io
import json
import logging

import pytest

from wordpress_sql_to_contentstack_exporter_spark.config import ExportConfig, build_catalog
from wordpress_sql_to_contentstack_exporter_spark.logging_utils import JsonFormatter, get_logger


def test_config_roundtrip(tmp_path):
    doc = {
        "data_dir": "/tmp/out",
        "table_prefix": "wpx_",
        "asset_parallelism": 4,
        "source": {"kind": "parquet", "path": "/tmp/tables"},
    }
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(doc))
    cfg = ExportConfig.from_json(str(p))
    assert cfg.table_prefix == "wpx_"
    assert cfg.asset_parallelism == 4
    assert cfg.source.path == "/tmp/tables"
    assert cfg.http_timeout_s == 60.0  # reference default preserved


def test_build_catalog_parquet_prefix(spark, tmp_path):
    cfg = ExportConfig(
        table_prefix="wp_",
        source=__import__(
            "wordpress_sql_to_contentstack_exporter_spark.config", fromlist=["config"]
        ).SourceConfig(kind="parquet", path=str(tmp_path)),
    )
    spark.createDataFrame([(1, "x")], "ID long, user_login string").write.parquet(
        str(tmp_path / "wp_users.parquet")
    )
    cat = build_catalog(spark, cfg)
    assert cat.table("users").count() == 1


def test_cli_export_single_module(spark, tmp_path, monkeypatch):
    """Drive python -m ...__main__ main() against parquet WP tables."""
    import datetime as dt

    tables_dir = tmp_path / "tables"
    T = dt.datetime
    spark.createDataFrame(
        [(1, "ann", "a@x.io")], "ID long, user_login string, user_email string"
    ).write.parquet(str(tables_dir / "wp_users.parquet"))
    spark.createDataFrame(
        [(1, "first_name", "A"), (1, "last_name", "B"), (1, "description", "C")],
        "user_id long, meta_key string, meta_value string",
    ).write.parquet(str(tables_dir / "wp_usermeta.parquet"))

    cfg = {
        "data_dir": str(tmp_path / "out"),
        "source": {"kind": "parquet", "path": str(tables_dir)},
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))

    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    rc = main(["export", "--config", str(cfg_path), "--module", "authors"])
    assert rc == 0
    entries = json.loads((tmp_path / "out/entries/authors/en-us.json").read_text())
    assert entries["ann"]["first_name"] == "A"


def test_json_log_format():
    rec = logging.LogRecord("t", logging.INFO, "f", 1, "exported post '16'", None, None)
    rec.metrics = {"rows": 3}
    line = JsonFormatter().format(rec)
    doc = json.loads(line)
    assert doc["level"] == "info"
    assert doc["message"] == "exported post '16'"
    assert doc["metrics"] == {"rows": 3}
    assert doc["timestamp"].endswith("Z")


def test_default_log_stream_is_stderr_at_emit_time(monkeypatch):
    """A logger set up before ``sys.stderr`` is replaced writes to the
    replacement (at interpreter exit the first stream may be closed)."""
    import sys

    logger = get_logger("stderr-at-emit-probe")
    first, later = io.StringIO(), io.StringIO()
    monkeypatch.setattr(sys, "stderr", first)
    logger.info("one")
    monkeypatch.setattr(sys, "stderr", later)
    first.close()
    logger.info("two", extra={"metrics": {"n": 2}})
    assert json.loads(later.getvalue())["metrics"] == {"n": 2}


def test_cli_locale_threads_into_paths_and_master(spark, tmp_path):
    """A configured locale must reach the entries path AND the master
    mapping shape (round-1 advice: config was silently ignored)."""
    tables_dir = tmp_path / "tables"
    spark.createDataFrame(
        [(1, "ann", "a@x.io")], "ID long, user_login string, user_email string"
    ).write.parquet(str(tables_dir / "wp_users.parquet"))
    spark.createDataFrame(
        [(1, "first_name", "A"), (1, "last_name", "B"), (1, "description", "C")],
        "user_id long, meta_key string, meta_value string",
    ).write.parquet(str(tables_dir / "wp_usermeta.parquet"))

    cfg = {
        "data_dir": str(tmp_path / "out"),
        "locale": "fr-fr",
        "source": {"kind": "parquet", "path": str(tables_dir)},
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))

    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    rc = main(["export", "--config", str(cfg_path), "--module", "authors"])
    assert rc == 0
    entries = json.loads((tmp_path / "out/entries/authors/fr-fr.json").read_text())
    assert entries["ann"]["first_name"] == "A"
    master = json.loads((tmp_path / "out/master/entries/authors.json").read_text())
    assert master == {"fr-fr": {"ann": ""}}


def test_http_knobs_thread_into_download(spark, wp_catalog, tmp_path):
    """asset_parallelism / http_timeout_s / http_retries reach
    download_assets: the injected fetch observes the configured timeout,
    and a failing URL is attempted 1 + retries times."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.pipeline import run_export

    def make_fetch():
        def fetch(url, timeout):
            assert timeout == 7.5, f"configured timeout lost (got {timeout})"
            raise RuntimeError("always down")

        return fetch

    out = run_export(
        wp_catalog,
        str(tmp_path / "data"),
        modules=["assets"],
        fetch=make_fetch(),
        asset_parallelism=3,
        http_timeout_s=7.5,
        http_retries=2,
    )
    res = out["assets"]
    assert res.rdd.getNumPartitions() == 3  # parallelism honored
    rows = res.collect()
    assert rows and all(r["status"] == "failed" for r in rows)
    assert all(r["attempts"] == 3 for r in rows)  # 1 + 2 retries


def test_cli_list_and_query_subcommands(tmp_path, capsys):
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    assert main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "flagship_posts_export\toracle" in out
    assert "minhash_neardup\trows-only" in out
    # unknown query is a clean error, not a traceback
    assert main(["query", "--name", "nope", "--sf-dir", "/tmp"]) == 2
    # a real query writes parquet
    dest = str(tmp_path / "out")
    assert (
        main(["query", "--name", "count_group_by",
              "--sf-dir", "/root/testdata/sf0.001", "--out", dest]) == 0
    )
    import glob
    assert glob.glob(dest + "/*.parquet")


def test_cli_sql_subcommand(tmp_path, capsys):
    """Ad-hoc SQL front door: tables registered as temp views, result
    printed or written; a .sql file works the same."""
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    dest = str(tmp_path / "sqlout")
    assert (
        main(["sql", "--query",
              "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
              "--sf-dir", "/root/testdata/sf0.001", "--out", dest]) == 0
    )
    import glob

    assert glob.glob(dest + "/*.parquet")
    qfile = tmp_path / "q.sql"
    qfile.write_text("SELECT count(*) AS n FROM orders")
    assert main(["sql", "--file", str(qfile),
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "n" in capsys.readouterr().out


def test_cli_sql_names_a_table_that_does_not_load(tmp_path):
    """A table file that is there but does not load fails the command
    with its path, instead of surfacing later as a missing view."""
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    (tmp_path / "orders.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception, match="orders.parquet"):
        main(["sql", "--query", "SELECT count(*) AS n FROM orders",
              "--sf-dir", str(tmp_path)])
