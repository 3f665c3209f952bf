"""Self-test of the benchmark harness.

    python3 -m pytest perfbench -q

Run from the repository root. Checks that the input generators are
deterministic, that the asset origin keeps each URL's behaviour, that a
tiny-scale run of every workload (traced and untraced) prints a correct
result with every metric, and that a run without the package fails
without printing a result.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import dedup_corpus  # noqa: E402
import regdata  # noqa: E402
import wpgen  # noqa: E402
from pin import SELFTEST_SCALE  # noqa: E402


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_wordpress_tables_are_deterministic(tmp_path):
    base = "http://127.0.0.1:1"
    for d in ("a", "b"):
        wpgen.write_tables(wpgen.make_site(7, 0.1), str(tmp_path / d), base)
    wpgen.write_tables(wpgen.make_site(8, 0.1), str(tmp_path / "c"), base)
    a, b, c = (_tree_digest(str(tmp_path / d)) for d in "abc")
    assert a == b and len(a) == 8
    assert a != c


def test_wordpress_tables_have_the_fixture_shapes():
    site = wpgen.make_site(3)
    posts = site.tables["posts"]
    assert {"post", "page", "attachment"} <= set(posts["post_type"])
    assert {"publish", "draft"} <= set(posts["post_status"])
    authors = set(posts["post_author"])
    assert None in authors and 0 in authors
    assert authors - {None, 0} - set(site.tables["users"]["ID"])  # dangling
    assert any("&amp;" in n for n in site.tables["terms"]["name"])
    assert "_thumbnail_id" in site.tables["postmeta"]["meta_key"]
    assert {b for _, b, _, _ in site.assets.values()} == set(wpgen.BEHAVIOURS)
    keys: dict[int, set] = {}
    for uid, k in zip(site.tables["usermeta"]["user_id"], site.tables["usermeta"]["meta_key"]):
        keys.setdefault(uid, set()).add(k)
    assert any(not {"first_name", "last_name", "description"} <= ks for ks in keys.values())
    parent = dict(zip(site.tables["term_taxonomy"]["term_id"], site.tables["term_taxonomy"]["parent"]))
    depth = max(_depth(parent, t) for t in parent)
    assert depth >= 3
    with_cat = set(site.tables["term_relationships"]["object_id"])
    assert any(p not in with_cat for p, t in zip(posts["ID"], posts["post_type"]) if t == "post")


def _depth(parent: dict, t: int) -> int:
    n = 0
    while parent.get(t, 0):
        t, n = parent[t], n + 1
    return n


def test_dedup_corpus_is_deterministic_and_mixed_length(tmp_path):
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        dedup_corpus.write_corpus(str(tmp_path / d), 5, SELFTEST_SCALE)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    lengths = [len(t.split()) for t in dedup_corpus.corpus()["text"]]
    assert max(lengths) >= 10 * min(lengths)


def test_registry_tables_are_deterministic_in_content(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        os.makedirs(tmp_path / d)
        regdata.write(str(tmp_path / d), seed, 0.001)
    a, b, c = (_tree_digest(str(tmp_path / d)) for d in "abc")
    assert a == b and len(a) == len(regdata.TABLES) * regdata.FILES_PER_TABLE
    assert a != c  # another seed, another layout ...
    import pyarrow.parquet as pq

    for t in regdata.TABLES:  # ... of the same rows
        rows = [sorted(map(str, pq.read_table(str(tmp_path / d / f"{t}.parquet")).to_pylist())) for d in "ac"]
        assert rows[0] == rows[1]


def test_host_strip_matches_the_reference_shapes():
    assert wpgen.host_strip("http://example.com/blog/?p=10") == "/blog/?p=10"
    assert wpgen.host_strip("no-slash") == "/no-slash"


def test_origin_behaviours_and_counts(tmp_path):
    import export

    site = wpgen.make_site(11, 0.1)
    by_behaviour = {}
    for aid, (path, behaviour, length, _) in site.assets.items():
        by_behaviour.setdefault(behaviour, (aid, path, length))
    origin = export.Origin(site, str(tmp_path))
    try:
        conn = http.client.HTTPConnection(origin.base.split("//")[1], timeout=10)

        def get(path):
            conn.request("GET", path)
            r = conn.getresponse()
            return r.status, r.getheader("Location"), r.read()

        aid, path, n = by_behaviour["ok"]
        assert get(path) == (200, None, wpgen.asset_body(site.seed, aid, n))
        path = by_behaviour["fail"][1]
        assert get(path)[0] == 500 and get(path)[0] == 500
        aid, path, n = by_behaviour["flaky"]
        assert get(path)[0] == 500
        assert get(path) == (200, None, wpgen.asset_body(site.seed, aid, n))
        aid, path, n = by_behaviour["redirect"]
        status, location, _ = get(path)
        assert status == 301
        assert get(location) == (200, None, wpgen.asset_body(site.seed, aid, n))
        # far above what the exporter's two download connections draw
        t0 = time.perf_counter()
        for _ in range(500):
            assert get(path)[0] == 301
        assert time.perf_counter() - t0 < 5.0
        conn.close()
        assert origin.stats() == {"ok": 1, "fail": 2, "flaky": 2, "redirect": 502}
    finally:
        origin.stop()
    assert origin.proc.poll() is not None


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["export_full", "export_resume", "dedup_corpus", "registry_headline"])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", trace, "--scale", str(SELFTEST_SCALE))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stdout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in result["metrics"].items()}
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_run_without_the_package_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "export_full", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
