"""Fault tests for the driver JVM's class-data-sharing archive
(``jvm_archive``): whatever state the archive cache is in, the export
command starts its session, writes byte-identical output, prints no
``[cds]`` line and leaves no JVM behind.

Each case runs the command in a fresh process, with its own cache dir
(``XDG_CACHE_HOME``) and data dir.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from wordpress_sql_to_contentstack_exporter_spark import jvm_archive

ROOT = Path(__file__).resolve().parents[1]
PKG = "wordpress_sql_to_contentstack_exporter_spark"

# The command as ``python -m`` runs it (``__main__.run``: main, then stop the
# session), with ``main`` wrapped to read the session's conf before the stop;
# then the Spark JVMs still under this process.
_CHILD = r"""
import json, os, sys
from pyspark.sql import SparkSession
from wordpress_sql_to_contentstack_exporter_spark import __main__ as cli

seen = {}
main = cli.main

def traced(argv=None):
    rc = main(argv)
    conf = SparkSession.getActiveSession().sparkContext.getConf()
    seen["marker"] = conf.get("spark.marker.setting", None)
    seen["java_opts"] = conf.get("spark.driver.extraJavaOptions", "")
    return rc

cli.main = traced
seen["rc"] = cli.run()

def descendants(root):
    kids = {}
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(name))
        except (OSError, ValueError, IndexError):
            pass
    todo, out = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out

left = []
for pid in descendants(os.getpid()):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                left.append(pid)
    except OSError:
        pass
seen["left"] = left
print("RESULT " + json.dumps(seen))
"""


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("archive_tables")
    spark.createDataFrame(
        [(1, "ann", "a@x.io"), (2, "bo", "b@x.io"), (3, "cy", "c@x.io")],
        "ID long, user_login string, user_email string",
    ).write.parquet(str(d / "wp_users.parquet"))
    spark.createDataFrame(
        [(u, k, f"{k}-{u}") for u in (1, 2, 3) for k in ("first_name", "last_name", "description")],
        "user_id long, meta_key string, meta_value string",
    ).write.parquet(str(d / "wp_usermeta.parquet"))
    return d


def export(tables: Path, work: Path, cache: Path, **env: str) -> subprocess.Popen:
    """Start one export command (authors module) writing under ``work``."""
    work.mkdir(parents=True, exist_ok=True)
    cfg = work / "cfg.json"
    cfg.write_text(json.dumps({"data_dir": str(work / "out"), "source": {"kind": "parquet", "path": str(tables)}}))
    child_env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    child_env.update(
        XDG_CACHE_HOME=str(cache), PYTHONPATH=str(ROOT), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env
    )
    return subprocess.Popen(
        [sys.executable, "-c", _CHILD, "export", "--config", str(cfg), "--module", "authors"],
        cwd=work, env=child_env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def finish(proc: subprocess.Popen, work: Path) -> dict:
    """The command's result, archive log metrics and output files, once
    the checks every run must pass hold."""
    out, err = proc.communicate(timeout=300)
    result = [line for line in out.splitlines() if line.startswith("RESULT ")]
    assert proc.returncode == 0 and result, err[-3000:]
    res = json.loads(result[-1][len("RESULT "):])
    archive = [
        json.loads(line)["metrics"] for line in err.splitlines()
        if line.startswith("{") and "class-data archive" in line
    ]
    files = {str(p.relative_to(work / "out")): p.read_bytes() for p in sorted((work / "out").rglob("*")) if p.is_file()}
    assert res["rc"] == 0
    assert res["left"] == [], "a Spark JVM outlived the command"
    assert "[cds" not in out + err
    assert len(archive) == 1, "one archive log line per session"
    return dict(res, archive=archive[0], files=files)


def run(tables: Path, work: Path, cache: Path, **env: str) -> dict:
    return finish(export(tables, work, cache, **env), work)


def cds(cache: Path) -> Path:
    return cache / PKG / "cds"


def archive_path(cache: Path, monkeypatch) -> Path:
    """Where the export command keeps its archive under ``cache`` (the key
    covers the cache's own conf dir, which is on the driver classpath)."""
    with monkeypatch.context() as m:
        m.setenv("XDG_CACHE_HOME", str(cache))
        m.delenv("SPARK_CONF_DIR", raising=False)
        m.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
        return Path(jvm_archive.plan("").archive)


def jsa(cache: Path) -> list[str]:
    return sorted(p.name for p in cds(cache).iterdir() if ".jsa" in p.name)


@pytest.fixture(scope="module")
def published(tables, tmp_path_factory):
    """A first run (dump) and a second (use) in one cache dir."""
    base = tmp_path_factory.mktemp("archive_base")
    cache = base / "cache"
    dump = run(tables, base / "dump", cache)
    use = run(tables, base / "use", cache)
    names = jsa(cache)
    return {"cache": cache, "dump": dump, "use": use, "names": names}


def forge_stamp(archive: Path) -> None:
    """A stamp that matches the file, so the JVM itself is handed it."""
    st = archive.stat()
    archive.with_name(archive.name + ".stamp").write_text(json.dumps([st.st_size, st.st_ino, st.st_mtime_ns]))


def no_archive_flags(res: dict) -> None:
    assert "SharedArchiveFile" not in res["java_opts"] and "ArchiveClassesAtExit" not in res["java_opts"]


def test_first_run_dumps_and_second_uses(published, monkeypatch):
    dump, use = published["dump"], published["use"]
    archive = archive_path(published["cache"], monkeypatch)
    assert dump["archive"]["jvm_archive"] == "dumped"
    assert dump["archive"]["bytes"] > 10_000_000 and dump["archive"]["dump_s"] > 0
    assert "-XX:ArchiveClassesAtExit=" in dump["java_opts"]
    assert published["names"] == [archive.name, archive.name + ".stamp"]  # no .part left
    assert use["archive"] == {"jvm_archive": "used"}
    assert f"-XX:SharedArchiveFile={archive} -Xshare:auto" in use["java_opts"]
    assert use["files"] == dump["files"] and use["files"]


def test_garbage_archive_is_rejected_by_the_jvm_and_deleted(tables, published, tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    archive = archive_path(cache, monkeypatch)
    archive.write_bytes(os.urandom(1 << 20))
    forge_stamp(archive)
    res = run(tables, tmp_path, cache)
    assert "-XX:SharedArchiveFile=" in res["java_opts"]
    assert res["archive"]["jvm_archive"] == "off" and "did not map" in res["archive"]["reason"]
    assert res["files"] == published["dump"]["files"]
    assert jsa(cache) == []


def test_truncated_archive_is_not_passed_and_is_dumped_again(tables, published, tmp_path, monkeypatch):
    """The JVM dies of SIGBUS on a truncated archive, so the stamp check
    must catch it before the launch. The published archive is cut in
    place (an archive only serves the cache dir it was dumped in) and is
    whole again after the run."""
    cache = published["cache"]
    archive = archive_path(cache, monkeypatch)
    archive.chmod(0o644)
    with open(archive, "r+b") as f:
        f.truncate(archive.stat().st_size // 3)
    res = run(tables, tmp_path, cache)
    assert "SharedArchiveFile" not in res["java_opts"]
    assert res["archive"]["jvm_archive"] == "dumped"
    assert res["files"] == published["dump"]["files"]
    assert jsa(cache) == published["names"]
    assert archive.stat().st_size == res["archive"]["bytes"]


def test_archive_of_another_classpath_is_rejected_and_other_keys_pruned(tables, published, tmp_path, monkeypatch):
    """An archive dumped under another driver classpath (another conf dir,
    so another key), copied to this key's path with a matching stamp: the
    JVM refuses it. The other key's own files are deleted."""
    cache, other_conf = tmp_path / "cache", tmp_path / "conf"
    other_conf.mkdir()
    archive = archive_path(cache, monkeypatch)  # before the dump: a plan prunes other keys
    first = run(tables, tmp_path / "other", cache, SPARK_CONF_DIR=str(other_conf))
    assert first["archive"]["jvm_archive"] == "dumped"
    (other,) = [n for n in jsa(cache) if n.endswith(".jsa")]
    assert other != archive.name
    shutil.copyfile(cds(cache) / other, archive)
    forge_stamp(archive)
    res = run(tables, tmp_path / "this", cache)
    assert res["archive"]["jvm_archive"] == "off" and "did not map" in res["archive"]["reason"]
    assert res["files"] == published["dump"]["files"]
    assert jsa(cache) == []


def test_real_conf_dir_is_honoured_without_archive(tables, published, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.marker.setting  marked\n")
    res = run(tables, tmp_path, tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert res["marker"] == "marked"
    no_archive_flags(res)
    assert res["archive"] == {"jvm_archive": "off", "reason": f"{conf} holds spark-defaults.conf"}
    assert res["files"] == published["dump"]["files"]
    assert not (tmp_path / "cache").exists()


def unwritable_caches(tmp_path: Path) -> list[Path]:
    """A cache path whose parent is a file, and (unless root, whom modes
    do not stop) a read-only dir."""
    blocker = tmp_path / "file"
    blocker.write_text("")
    caches = [blocker / "cache"]
    if os.geteuid() != 0:
        ro = tmp_path / "ro"
        (ro / PKG / "cds").mkdir(parents=True)
        (ro / PKG / "cds").chmod(0o555)
        caches.append(ro)
    return caches


def test_unwritable_cache_dir_runs_without_archive(tables, published, tmp_path):
    for i, cache in enumerate(unwritable_caches(tmp_path)):
        res = run(tables, tmp_path / f"run{i}", cache)
        no_archive_flags(res)
        assert res["archive"]["jvm_archive"] == "off" and "not writable" in res["archive"]["reason"]
        assert res["files"] == published["dump"]["files"]


def test_concurrent_first_runs_publish_one_complete_archive(tables, published, tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    procs = [(export(tables, tmp_path / f"run{i}", cache), tmp_path / f"run{i}") for i in range(2)]
    results = [finish(p, work) for p, work in procs]
    states = sorted(r["archive"]["jvm_archive"] for r in results)
    assert states in (["dumped", "off"], ["dumped", "used"])  # the later one may start after the publish
    for r in results:
        assert r["files"] == published["dump"]["files"]
    archive = archive_path(cache, monkeypatch)
    assert jsa(cache) == [archive.name, archive.name + ".stamp"]  # one archive, no .part
    st = archive.stat()
    assert json.loads(archive.with_name(archive.name + ".stamp").read_text()) == [st.st_size, st.st_ino, st.st_mtime_ns]
    assert st.st_size == next(r["archive"]["bytes"] for r in results if r["archive"]["jvm_archive"] == "dumped")


def test_cache_dir_follows_xdg(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert jvm_archive.cache_dir() == str(tmp_path / PKG / "cds")
    monkeypatch.delenv("XDG_CACHE_HOME")
    monkeypatch.setenv("HOME", str(tmp_path / "home"))
    assert jvm_archive.cache_dir() == str(tmp_path / "home" / ".cache" / PKG / "cds")
