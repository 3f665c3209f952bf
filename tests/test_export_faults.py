"""Crash safety of the export plane: documents are replaced whole, a
download becomes visible only once complete, a prior document that does
not parse fails with its path named, and a rerun after each fault
converges to the files of a clean run."""

from __future__ import annotations

import json
import os

import pytest

from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline as pl
from wordpress_sql_to_contentstack_exporter_spark.sinks.keyed_json import (
    CorruptDocumentError,
    atomic_open,
    read_document,
)

from test_export_concurrency import fake_fetch, tree


@pytest.fixture(scope="module")
def clean(wp_catalog, tmp_path_factory):
    """Files of one clean full export."""
    data = str(tmp_path_factory.mktemp("clean") / "data")
    pl.run_export(wp_catalog, data, fetch=fake_fetch)
    return tree(data)


def test_failed_write_keeps_the_previous_document(tmp_path):
    path = str(tmp_path / "doc.json")
    with atomic_open(path) as f:
        f.write('{"1": "a"}')
    with pytest.raises(RuntimeError), atomic_open(path) as f:
        f.write('{"1": "b", "2"')
        raise RuntimeError("crash mid-write")
    assert read_document(path) == {"1": "a"}
    assert os.listdir(tmp_path) == ["doc.json"]


def test_cut_short_download_is_fetched_again(wp_catalog, tmp_path, clean):
    """A crash mid-download leaves only ``<name>.part``; the rerun's skip
    check does not see it, downloads again and renames over it."""
    data = str(tmp_path / "data")
    pl.run_export(wp_catalog, data, fetch=fake_fetch)
    asset = f"{data}/assets/20/img one.png"
    os.remove(asset)
    with open(asset + ".part", "wb") as f:
        f.write(b"PNGDA")
    out = pl.run_export(wp_catalog, data, modules=["assets"], fetch=fake_fetch)
    assert {r["id"]: r["status"] for r in out["assets"].collect()}[20] == "downloaded"
    assert tree(data) == clean


def test_truncated_prior_document_names_its_path(spark, wp_catalog, tmp_path, clean):
    data = str(tmp_path / "data")
    pl.run_export(wp_catalog, data, fetch=fake_fetch)
    doc = f"{data}/entries/posts/en-us.json"
    with open(doc, "r+") as f:
        f.truncate(os.path.getsize(doc) // 2)
    ids = spark.createDataFrame([(10,)], "id long")
    with pytest.raises(CorruptDocumentError, match=doc):
        pl.run_export(wp_catalog, data, modules=["posts"], ids=ids)
    # a full run rewrites the document instead of merging into it
    pl.run_export(wp_catalog, data, fetch=fake_fetch)
    assert tree(data) == clean
    with open(doc) as f:
        assert set(json.load(f)) == {"10", "11"}
