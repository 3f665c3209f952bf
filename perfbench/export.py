"""Export workloads: the CLI from config to files on disk.

``export_full`` writes all four modules into an empty data dir.
``export_resume`` re-drives an ``--ids-file`` (1% of post IDs spread evenly
plus every DLQ id) into a restored finished export, so the sinks take
their read-modify-write path and most downloads are skipped as existing.

Each timed iteration is one fresh CLI process, timed from launch to exit;
its set-up (input tables, a fresh asset origin, the restored prior state)
is timed separately. Every document, mapping file and asset the run was
due to write is checked against ``wpgen.expected_export``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from statistics import median

from common import PACKAGE, child_env, doc_digest, run_timed
import wpgen

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


class Origin:
    """The loopback asset origin process for one iteration."""

    def __init__(self, site: wpgen.Site, work: str):
        manifest = {p: [b, site.seed, aid, n] for aid, (p, b, n, _) in site.assets.items()}
        mpath, self.port_file = os.path.join(work, "manifest.json"), os.path.join(work, "origin.port")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"), mpath, self.port_file],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        deadline = time.monotonic() + 20
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError("asset origin failed to start")
            time.sleep(0.005)
        with open(self.port_file) as f:
            self.base = f"http://127.0.0.1:{int(f.read())}"

    def stats(self) -> dict[str, int]:
        with urllib.request.urlopen(self.base + "/__stats", timeout=10) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                urllib.request.urlopen(self.base + "/__quit", timeout=5).read()
                self.proc.wait(5)
            except Exception:  # noqa: BLE001 — fall back to a kill
                self.proc.kill()
                self.proc.wait()


def setup(ctx, resume: bool) -> dict:
    """Inputs for one iteration: tables written after the origin's port is
    known; for a resume, the restored prior state and the ids file."""
    work = ctx.new_dir("export")
    site = wpgen.make_site(ctx.seed, ctx.scale)
    origin = Origin(site, work)
    try:
        wpgen.write_tables(site, os.path.join(work, "in"), origin.base)
        data = os.path.join(work, "data")
        cfg = os.path.join(work, "config.json")
        with open(cfg, "w") as f:
            json.dump({"data_dir": data, "source": {"kind": "parquet", "path": os.path.join(work, "in")}}, f)
        st = {"work": work, "site": site, "origin": origin, "data": data, "cfg": cfg,
              "prior": None, "ids": None, "ids_file": None}
        if resume:
            prior = wpgen.prior_state(site, origin.base, n_lost=max(1, len(site.assets) // 50))
            wpgen.write_state(prior, data)
            ids = wpgen.resume_ids(site, prior)
            st["ids_file"] = os.path.join(work, "ids.txt")
            with open(st["ids_file"], "w") as f:
                f.write(",".join(map(str, ids)))
            st.update(prior=prior, ids=ids)
    except BaseException:
        origin.stop()
        raise
    return st


def teardown(st: dict) -> None:
    st["origin"].stop()
    shutil.rmtree(st["work"], ignore_errors=True)


def run_cli(ctx, st: dict, traced_out: str | None = None) -> dict:
    args = ["export", "--config", st["cfg"]]
    if st["ids_file"]:
        args += ["--ids-file", st["ids_file"]]
    if traced_out is None:
        cmd = [sys.executable, "-m", PACKAGE] + args
    else:
        cmd = [sys.executable, os.path.join(HERE, "traced_cli.py"), traced_out] + args
    log = os.path.join(ctx.work, "cli.log")
    res = run_timed(cmd, child_env(ctx.work), st["work"], log)
    if res["rc"] != 0:
        # the work dir is removed on exit, so the log's tail goes with the error
        with open(log, errors="replace") as f:
            tail = "".join(f.readlines()[-40:])
        raise RuntimeError(f"export CLI exited {res['rc']}:\n{tail}")
    return res


def check(st: dict, served: dict[str, int]) -> tuple[int, int, list[str]]:
    """(operations, wrong operations, what was wrong). An operation is one
    document or mapping file, one asset, or the origin's request tally."""
    site, base, ids = st["site"], st["origin"].base, st["ids"]
    exp = wpgen.expected_export(site, base, ids=set(ids) if ids else None, prior=st["prior"])
    ops, wrong = 0, []
    for rel, doc in exp.items():
        if rel.startswith("__"):
            continue
        ops += 1
        try:
            with open(os.path.join(st["data"], rel)) as f:
                got = json.load(f)
        except (OSError, ValueError) as e:
            wrong.append(f"{rel}: {type(e).__name__}")
            continue
        if doc_digest(got) != doc_digest(doc):
            bad = sum(got.get(k) != v for k, v in doc.items()) + len(set(got) - set(doc))
            wrong.append(f"{rel}: {bad} entries differ")
    scope = [a for a in site.assets if ids is None or a in set(ids)]
    for aid in scope:
        ops += 1
        rel = f"assets/{aid}/{site.assets[aid][3]}"
        path = os.path.join(st["data"], rel)
        want = exp["__files__"].get(rel)
        if want is None:
            if os.path.exists(path):
                wrong.append(f"{rel}: downloaded, expected dead-lettered")
        else:
            try:
                with open(path, "rb") as f:
                    if f.read() != want:
                        wrong.append(f"{rel}: bytes differ")
            except OSError:
                wrong.append(f"{rel}: missing")
    ops += 1
    if served != exp["__requests__"]:
        wrong.append(f"origin requests {served} != expected {exp['__requests__']}")
    return ops, len(wrong), wrong


def workload(ctx, resume: bool) -> dict:
    setups: list[float] = []
    tally = {"ops": 0, "failed": 0, "wrong": []}

    def iteration(traced_out: str | None = None) -> dict:
        t0 = time.perf_counter()
        st = setup(ctx, resume)
        setups.append(time.perf_counter() - t0)
        try:
            res = run_cli(ctx, st, traced_out)
            served = st["origin"].stats()
            n, bad, why = check(st, served)
            tally["ops"] += n
            tally["failed"] += bad
            tally["wrong"] += why
            ctx.info["input_tables"] = st["site"].table_rows()
            ctx.input_rows = sum(ctx.info["input_tables"].values()) + len(st["ids"] or [])
            ctx.info["origin_requests"] = served
            res["served"] = served
            return res
        finally:
            teardown(st)

    for _ in range(SETUP_REPS - 1):  # set-up only: its time is all we keep
        t0 = time.perf_counter()
        st = setup(ctx, resume)
        setups.append(time.perf_counter() - t0)
        teardown(st)

    start = time.perf_counter()
    iters = [iteration()]
    while not ctx.trace and time.perf_counter() - start < ctx.seconds:
        iters.append(iteration())
    wall = median([r["wall_s"] for r in iters])
    layers = spans = None
    if ctx.trace:
        tpath = os.path.join(ctx.work, "trace.json")
        res = iteration(tpath)
        with open(tpath) as f:
            traced = json.load(f)
        layers = dict(traced["metrics"], jvm_peak_rss_mb=res["jvm_peak_rss_mb"],
                      **{"trace.overhead_s": res["wall_s"] - wall})
        spans = traced["spans"]
        # each fetch attempt is one origin request, plus one per redirect hop
        served = res["served"]
        tally["ops"] += 1
        if layers["sources.http.fetch_attempts"] != sum(served.values()) - served["redirect"] // 2:
            tally["failed"] += 1
            tally["wrong"].append(f"fetch_attempts {layers['sources.http.fetch_attempts']} vs origin {served}")
    out = {
        "attempted": tally["ops"],
        "failed": tally["failed"],
        "wrong": tally["wrong"][:20],
        "e2e": {
            "wall_s": wall,
            "rows_per_s": ctx.input_rows / wall,
            "driver_peak_rss_mb": median([r["driver_peak_rss_mb"] for r in iters]),
            "setup_s": median(setups),
        },
        "walls": [r["wall_s"] for r in iters],
        "jvm_peak_rss_mb": [r["jvm_peak_rss_mb"] for r in iters],
        "setups": setups,
    }
    if layers is not None:
        out["layers"], out["spans"] = layers, spans
    return out
