"""Shared harness pieces: process environment, memory sampling, storage
stamp, order-independent digests, spans and Spark status-store reads."""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
PACKAGE = "wordpress_sql_to_contentstack_exporter_spark"
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def child_env(work: str) -> dict[str, str]:
    """Environment for the program and its Spark workers: the package on
    PYTHONPATH (so ``mapInPandas`` workers import it from any cwd), Spark
    local dirs and every temp dir inside the work dir, UTC."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env.update(
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def storage_kind(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (``tmpfs``, ``ext4``,
    ``overlay`` ...)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1].replace("\\040", " ")
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def load1() -> float:
    return round(os.getloadavg()[0], 2)


# ---------------------------------------------------------------- memory


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, ValueError, IndexError):
                pass
    return out


def find_java(pid: int) -> int | None:
    """The Spark driver JVM among ``pid``'s descendants (not the short-lived
    launcher JVM that ``spark-class`` runs first)."""
    todo = _children(pid)
    while todo:
        c = todo.pop(0)
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                    return c
        except OSError:
            continue
        todo.extend(_children(c))
    return None


def wait_gone(pid: int | None, timeout: float = 20.0) -> None:
    """Wait for a process we did not fork (the JVM) to end; kill it late."""
    if pid is None:
        return
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.05)
    if os.path.exists(f"/proc/{pid}"):
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


class RssSampler:
    """Samples a process's and its JVM's resident memory every 50 ms on a
    background thread. ``field="VmHWM"`` tracks the kernel's peak (for a
    fresh process), ``"VmRSS"`` the current size (for a region)."""

    def __init__(self, pid: int, field: str, jvm: int | None = None):
        self.pid, self.field, self.jvm = pid, field, jvm
        self.peak_kb = self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _status_kb(self.pid, self.field))
        if self.jvm is None:
            self.jvm = find_java(self.pid)
        if self.jvm is not None:
            self.jvm_peak_kb = max(self.jvm_peak_kb, _status_kb(self.jvm, self.field))

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self._sample()

    def __enter__(self):
        self._sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


def run_timed(cmd: list[str], env: dict, cwd: str, log_path: str, timeout: float = 170.0) -> dict:
    """Run one program process; wall from launch to exit, peak RSS of the
    process and of its JVM child."""
    with open(log_path, "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log)
        sampler = RssSampler(proc.pid, "VmHWM")
        with sampler:
            try:
                rc = proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                rc = proc.wait()
        wall = time.perf_counter() - t0
    wait_gone(sampler.jvm)
    return {
        "rc": rc, "wall_s": wall,
        "driver_peak_rss_mb": sampler.peak_kb / 1024, "jvm_peak_rss_mb": sampler.jvm_peak_kb / 1024,
    }


# ---------------------------------------------------------------- digests


def canon(v) -> str:
    """Engine-neutral text form of one value: floats to 6 decimals,
    sequences element-wise, timestamps ISO."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return repr(0.0 if r == 0 else r)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "as_integer_ratio") and not isinstance(v, int):  # Decimal
        return canon(float(v))
    return str(v)


def rows_digest(rows) -> str:
    """Order-independent digest of result rows."""
    h = hashlib.sha256()
    for line in sorted("\x1f".join(canon(x) for x in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def doc_digest(doc: dict) -> str:
    """Order-independent digest of a keyed JSON document, entry by entry."""
    return rows_digest(
        (k, json.dumps(v, sort_keys=True, separators=(",", ":"))) for k, v in doc.items()
    )


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters;
    the caller writes them out once, at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])


class StatusStore:
    """Reads Spark's status stores after an action (works with the UI off):
    jobs per job group, stage input/shuffle/spill totals, SQL execution
    intervals."""

    TRACE_GROUP = "perfbench-trace"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if prev is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(prev, prev_desc or prev)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def all_jobs(self) -> list[int]:
        seq = self.app.jobsList(None)
        ids = [seq.apply(i).jobId() for i in range(seq.size())]
        trace = set(self.jobs(self.TRACE_GROUP))
        return [j for j in ids if j not in trace]

    def stage_totals(self, job_ids) -> dict[str, int]:
        out = {"input_bytes": 0, "input_records": 0, "shuffle_bytes": 0,
               "shuffle_records": 0, "spill_bytes": 0}
        seen = set()
        for jid in job_ids:
            try:
                stages = self.app.job(jid).stageIds()
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            for i in range(stages.size()):
                sid = stages.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.app.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def last_execution_id(self) -> int:
        seq = self.sql.executionsList()
        n = seq.size()
        return max((seq.apply(i).executionId() for i in range(n)), default=-1)

    def executions(self, after: int, upto: int) -> list[tuple[int, float, float, str]]:
        """(id, start s, end s, plan text) of executions in ``(after, upto]``."""
        seq = self.sql.executionsList()
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = e.executionId()
            if after < eid <= upto:
                done = e.completionTime()
                end = done.get().getTime() if done.isDefined() else e.submissionTime()
                out.append((eid, e.submissionTime() / 1e3, end / 1e3, e.physicalPlanDescription()))
        return out

    @staticmethod
    def busy_s(intervals) -> float:
        """Length of the union of [start, end] intervals (nested and
        overlapping executions count once)."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((iv[1], iv[2]) for iv in intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total
