"""Class-data-sharing archive for the driver JVM (JDK dynamic CDS, JEP 350).

Every export is a fresh process, and most of a small export's wall is the
driver JVM loading Spark's classes: session start and the first job's
class loading. The first session under a given JDK and driver classpath
runs with ``-XX:ArchiveClassesAtExit``, so the JVM writes the classes it
loaded into an archive as it exits (about 10 s and 170 MB, once). Later
sessions start with ``-XX:SharedArchiveFile`` and map those classes
instead of loading them.

The archive lives in the per-user cache, ``$XDG_CACHE_HOME`` (else
``~/.cache``) ``/<package>/cds/<key>.jsa``, never in a temp or data dir.
The key hashes the JDK build and the driver classpath; archives under
other keys are deleted when the key changes.

A dump goes to ``<key>.jsa.<pid>.part`` and is published by
``os.replace`` only when its JVM exited 0, with a stamp (size, inode,
mtime) beside it. A start passes the archive only when the stamp still
matches: the JVM dies of SIGBUS on a truncated archive instead of falling
back. Wherever the archive cannot serve, the launch is left exactly as it
would be without it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import fcntl
import hashlib
import json
import os
import re
import shutil
import tempfile

from pyspark.find_spark_home import _find_spark_home

PACKAGE = __name__.rpartition(".")[0]
#: the dump logs thousands of ``[warning][cds]`` lines to stdout otherwise
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: launcher arguments that set the driver's JVM options or classpath after
#: ``get_spark``'s ``--conf`` (the last one wins) or from a properties file
_SUBMIT_OVERRIDES = (
    "--driver-java-options", "--driver-class-path", "--properties-file",
    "spark.driver.extraJavaOptions", "spark.driver.extraClassPath",
)
#: directories the launcher puts on the driver classpath; the JVM refuses
#: to dump while a non-empty directory is on it
_CLASSPATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_PART = re.compile(r"(?P<key>[0-9a-f]+)\.jsa\.(?P<pid>\d+)\.part")


@dataclasses.dataclass(frozen=True)
class Launch:
    """What one driver JVM launch does about the archive: ``used``,
    ``dump`` or ``off`` (with ``reason``)."""

    state: str
    reason: str = ""
    archive: str = ""
    java_opts: str = ""
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch; None keeps it

    @property
    def part(self) -> str:
        return f"{self.archive}.{os.getpid()}.part"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(os.path.realpath(base), PACKAGE, "cds")


def _java_home() -> str | None:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java and os.path.exists(java) else None


def _stat_id(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return f"{path} -"
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def _key(java_home: str, spark_home: str, conf_dir: str, extra_classpath: str) -> str:
    """Hash of the JDK build and of every driver classpath entry."""
    h = hashlib.sha256()
    with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    h.update(_stat_id(os.path.join(java_home, "lib", "server", "libjvm.so")).encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else []:
        h.update(_stat_id(os.path.join(jars, name)).encode())
    h.update(f"\0{conf_dir}\0{extra_classpath}".encode())
    return h.hexdigest()[:20]


@contextlib.contextmanager
def _locked(directory: str):
    """Serialises stamp reads and publishing across processes."""
    with open(os.path.join(directory, ".lock"), "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _prune(directory: str, key: str) -> None:
    """Delete archives of other keys and dumps whose process is gone."""
    for name in os.listdir(directory):
        if name in ("conf", ".lock"):
            continue
        part = _PART.fullmatch(name)
        if part and _alive(int(part["pid"])):
            continue
        if part or not name.startswith(key + "."):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(directory, name))


def _stamp(path: str) -> list[int]:
    st = os.stat(path)
    return [st.st_size, st.st_ino, st.st_mtime_ns]


def _published(archive: str) -> bool:
    """Whether ``archive`` is the file its stamp describes; a stale pair
    is deleted so that this launch dumps a fresh one."""
    try:
        with open(archive + ".stamp") as f:
            if json.load(f) == _stamp(archive):
                return True
    except (OSError, ValueError):
        pass
    discard(archive)
    return False


def discard(archive: str) -> None:
    for path in (archive, archive + ".stamp"):
        with contextlib.suppress(OSError):
            os.remove(path)


def plan(extra_classpath: str) -> Launch:
    """The archive plan for a driver JVM that is about to be launched."""
    try:
        return _plan(extra_classpath)
    except OSError as e:
        return Launch("off", f"archive cache: {e}")


def _plan(extra_classpath: str) -> Launch:
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return Launch("off", "the driver JVM was started outside this process")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    for flag in _SUBMIT_OVERRIDES:
        if flag in submit:
            return Launch("off", f"PYSPARK_SUBMIT_ARGS sets {flag}")
    for var in _CLASSPATH_VARS:
        if os.environ.get(var):
            return Launch("off", f"{var} adds to the driver classpath")
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    conf_files = sorted(os.listdir(conf_dir)) if os.path.isdir(conf_dir) else []
    real = [n for n in conf_files if not n.endswith(".template")]
    if real:
        return Launch("off", f"{conf_dir} holds {real[0]}")
    java_home = _java_home()
    if java_home is None:
        return Launch("off", "no java binary found")
    directory = cache_dir()
    if re.search(r"[\s\"']", directory):
        return Launch("off", f"{directory} has a space or quote in its path")
    try:
        os.makedirs(os.path.join(directory, "conf"), exist_ok=True)
        with tempfile.TemporaryFile(dir=directory):
            pass
    except OSError as e:
        return Launch("off", f"{directory} is not writable: {e.strerror}")
    # the conf dir holds only templates: the JVM still sees a non-empty
    # directory on its classpath, so the launch gets an empty one instead
    launch_conf = os.path.join(directory, "conf") if conf_files else None
    key = _key(java_home, spark_home, launch_conf or conf_dir, extra_classpath)
    archive = os.path.join(directory, key + ".jsa")
    with _locked(directory):
        _prune(directory, key)
        if _published(archive):
            return Launch("used", archive=archive, conf_dir=launch_conf,
                          java_opts=f"-XX:SharedArchiveFile={archive} -Xshare:auto {QUIET}")
    dump = Launch("dump", archive=archive, conf_dir=launch_conf)
    return dataclasses.replace(dump, java_opts=f"-XX:ArchiveClassesAtExit={dump.part} {QUIET}")


def mapped(archive: str, pid: int) -> bool:
    """Whether JVM ``pid`` mapped ``archive``: ``-Xshare:auto`` starts
    without it, silently, when it does not match the JDK or classpath.
    True where the process's mappings cannot be read."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            return archive in f.read()
    except OSError:
        return True


def publish(launch: Launch, returncode: int | None, exit_s: float) -> dict:
    """Publish the dump of a JVM that has exited; the log metrics."""
    done = {"dump_s": round(exit_s, 3)}
    part = launch.part
    if returncode != 0 or not os.path.exists(part):
        with contextlib.suppress(OSError):
            os.remove(part)
        return {"jvm_archive": "off", "reason": f"no complete dump (JVM exit status {returncode})", **done}
    try:
        with _locked(os.path.dirname(part)):
            if os.path.exists(launch.archive):
                os.remove(part)
                return {"jvm_archive": "off", "reason": "another process published the archive first", **done}
            stamp = _stamp(part)
            with open(launch.archive + ".stamp", "w") as f:
                json.dump(stamp, f)
            os.replace(part, launch.archive)
    except OSError as e:
        return {"jvm_archive": "off", "reason": f"could not publish the dump: {e}", **done}
    return {"jvm_archive": "dumped", "bytes": stamp[0], **done}
