"""SparkSession factory with scale-aware defaults.

Defaults chosen for the 100 TB target (AQE on, skew-join handling on,
UTC session timezone for ISO-8601 parity with the reference's
``toISOString`` — see SURVEY.md §2 row 35) while remaining correct on
local[N] test runs.

When ``get_spark`` launches the driver JVM, the JVM starts from the
class-data-sharing archive of ``jvm_archive`` (or dumps it at exit), and
``stop_spark`` — run at interpreter exit too — ends that JVM and waits
for it, so no process outlives the program.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import subprocess
import time

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import jvm_archive
from .logging_utils import get_logger

#: a JVM dumping its archive takes about 10 s to exit; one that takes
#: longer than this is killed, and its dump is not published
EXIT_WAIT_S = 120.0
#: (session, gateway, JVM process, archive plan) of the driver JVM that
#: get_spark launched. The gateway is process-wide in pyspark
#: (``SparkContext._gateway``), so this record is too.
_launched: list[tuple] = []


def get_spark(
    app_name: str = "wordpress_sql_to_contentstack_exporter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it unset and spark-submit provides it.
    ``shuffle_partitions`` should be ~2-3x total cores on a cluster; locally
    we match core count so tiny test shuffles don't fan into 200 empty tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-targeted coalescing (the Spark-docs-recommended production
        # setting): post-shuffle partitions aim at the advisory size
        # instead of maximal parallelism — fewer, fuller tasks; measured
        # -14% on the sf0.1 headline subset with no regression at the
        # 200k-doc dedup tier
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # answer eligible MIN/MAX/COUNT scans from parquet footer stats
        # instead of reading row groups (off by default; Spark only pushes
        # when semantics allow, so this is free at 100 TB)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    launch = None
    if SparkContext._gateway is None:  # this call launches the driver JVM
        launch = jvm_archive.plan(conf.get("spark.driver.extraClassPath", ""))
        if launch.java_opts:
            prior = conf.get("spark.driver.extraJavaOptions", "")
            conf["spark.driver.extraJavaOptions"] = f"{prior} {launch.java_opts}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir(launch.conf_dir if launch else None):
        spark = builder.getOrCreate()
    if launch is not None:
        _started(spark, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def _conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` for the launch only (the launcher reads it)."""
    if path is None:
        yield
        return
    prior = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if prior is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prior


def _log_archive(metrics: dict) -> None:
    get_logger().info("driver JVM class-data archive", extra={"metrics": metrics})


def _started(spark: SparkSession, launch: jvm_archive.Launch) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if launch.state == "used" and proc is not None and not jvm_archive.mapped(launch.archive, proc.pid):
        jvm_archive.discard(launch.archive)
        launch = jvm_archive.Launch("off", "the JVM did not map the archive; deleted it")
    if launch.state != "dump":  # a dump's line comes when its JVM exits
        _log_archive({"jvm_archive": launch.state, **({"reason": launch.reason} if launch.reason else {})})
    if proc is not None:
        _launched[:] = [(spark, gateway, proc, launch)]
        atexit.unregister(stop_spark)
        atexit.register(stop_spark)


def stop_spark() -> None:
    """End the driver JVM get_spark launched, wait for it to exit and
    publish the archive it dumped. A no-op when get_spark launched no JVM
    or this already ran; also right after a caller stopped the session
    and JVM itself."""
    if not _launched:
        return
    spark, gateway, proc, launch = _launched.pop()
    t0 = time.perf_counter()
    if proc.poll() is None:
        # the JVM's exit ends its connection to pyspark's accumulator
        # server: an expected EOF, not an error to print
        acc = getattr(spark.sparkContext, "_accumulatorServer", None)
        if acc is not None:
            acc.handle_error = lambda *_: None
        with contextlib.suppress(Py4JError):
            gateway.shutdown()
        # the gateway JVM exits with status 0 when its stdin closes, and
        # Spark's shutdown hook stops the context
        proc.stdin.close()
        try:
            proc.wait(EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if SparkContext._gateway is gateway:
        SparkContext._gateway = SparkContext._jvm = None
        # drop pyspark's handles on the stopped context too, so a later
        # get_spark starts a new one instead of reusing the dead session
        SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = SparkSession._activeSession = None
    if launch.state == "dump":
        _log_archive(jvm_archive.publish(launch, proc.returncode, time.perf_counter() - t0))
