"""The analytics workloads' shared runner: warm passes over a fixed list of
operators or queries in one Spark session that is already started.

Set-up (input generation, session start, a warm-up that also collects
every output for the check) is timed apart from the passes.
Each pass forces every operation with a ``noop`` write; the run reports
the median pass. The traced run makes one more pass with every operation
under its own job group and reads Spark's status store after it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from common import RssSampler, StatusStore, Tracer, child_env, find_java, rows_digest, wait_gone

#: (metric prefix, name, function that builds the output frame), in pass order.
Ops = list[tuple[str, str, Callable]]
SETUP_REPS = 3


def frame_digest(df) -> str:
    """Order-independent digest of a frame's rows, columns sorted by name
    (so a reordered projection reads the same)."""
    order = sorted(range(len(df.columns)), key=lambda i: df.columns[i])
    return rows_digest(tuple(r[i] for i in order) for r in df.collect())


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and its JVM: the gateway JVM exits when its stdin
    closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def start_spark(work: str, app: str):
    """A session whose JVM and Python workers inherit the harness
    environment (package on PYTHONPATH, local dirs in the work dir)."""
    os.environ.update(child_env(work))
    time.tzset()
    from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

    return get_spark(app)


def digests(spark, ops: Ops) -> dict[str, str]:
    """Every operation's output digest. The operations run concurrently:
    this is also the session's warm-up, and plan compilation, which is
    most of a cold operation's time, then overlaps across operations."""
    spark.catalog.clearCache()
    with ThreadPoolExecutor(len(ops)) as pool:
        futures = {name: pool.submit(lambda build: frame_digest(build()), build) for _, name, build in ops}
        return {name: f.result() for name, f in futures.items()}


def traced_call(tracer: Tracer, store: StatusStore, span: str, build) -> dict:
    """One operation under its own job group: wall, shuffle bytes from the
    status store, output rows from an Observation riding the same action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    group = f"perfbench-{span}"
    obs = Observation(f"rows-{span}")
    with tracer.span(span) as rec, store.group(group):
        force(build().observe(obs, F.count(F.lit(1)).alias("n")))
    with store.group(StatusStore.TRACE_GROUP):
        totals = store.stage_totals(store.jobs(group))
    return {"s": rec["end"] - rec["start"], "shuffle_bytes": totals["shuffle_bytes"],
            "rows_out": obs.get["n"]}


def workload(ctx, app: str, generate: Callable[[str], int], build_ops: Callable, pins: dict[str, str]) -> dict:
    """``generate(dir)`` writes the inputs and returns their row count;
    ``build_ops(spark, dir)`` lists the operations; ``pins`` holds each
    operation's expected output digest."""
    gens, in_dir = [], ""
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        in_dir = ctx.new_dir("in")
        ctx.input_rows = generate(in_dir)
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = start_spark(ctx.work, f"perfbench-{app}")
    start_s = time.perf_counter() - t0
    jvm = find_java(os.getpid())
    try:
        ops = build_ops(spark, in_dir)

        def one_pass(tracer=None, store=None) -> dict:
            per = {}
            with RssSampler(os.getpid(), "VmRSS", jvm=jvm) as rss:
                t_pass = time.perf_counter()
                for prefix, name, build in ops:
                    spark.catalog.clearCache()
                    if tracer is None:
                        t1 = time.perf_counter()
                        force(build())
                        per[name] = {"s": time.perf_counter() - t1}
                    else:
                        per[name] = traced_call(tracer, store, f"{prefix}.{name}", build)
                wall = time.perf_counter() - t_pass
            return {"wall_s": wall, "per": per, "driver_peak_rss_mb": rss.peak_kb / 1024,
                    "jvm_peak_rss_mb": rss.jvm_peak_kb / 1024}

        # warm-up (codegen, JIT, Python workers, listing caches), collecting
        # every output for the check on the way
        t0 = time.perf_counter()
        got = digests(spark, ops)
        warm_s = time.perf_counter() - t0
        wrong = [f"{n}: digest {d} != pinned {pins.get(n)}" for n, d in got.items() if d != pins.get(n)]
        passes = [one_pass()]
        while not ctx.trace and sum(p["wall_s"] for p in passes) < ctx.seconds:
            passes.append(one_pass())
        wall = median([p["wall_s"] for p in passes])
        layers = None
        if ctx.trace:
            store = StatusStore(spark)
            before = set(store.all_jobs())
            tracer = Tracer(run_id=f"{app}-{os.getpid()}")
            traced = one_pass(tracer, store)
            with store.group(StatusStore.TRACE_GROUP):
                totals = store.stage_totals([j for j in store.all_jobs() if j not in before])
            # passes still speed up as the JIT warms, so the traced pass is
            # compared with the untraced passes on either side of it
            untraced_s = (wall + one_pass()["wall_s"]) / 2
            layers = {f"{prefix}.{name}_{k}": v for prefix, name, _ in ops for k, v in traced["per"][name].items()}
            layers.update({
                "exchange.shuffle_bytes": totals["shuffle_bytes"],
                "exchange.shuffle_records": totals["shuffle_records"],
                "exchange.spill_bytes": totals["spill_bytes"],
                "sources.catalog.scan_rows": totals["input_records"],
                "sources.catalog.scan_bytes": totals["input_bytes"],
                "session.start_s": start_s,
                "jvm_peak_rss_mb": traced["jvm_peak_rss_mb"],
                "trace.overhead_s": traced["wall_s"] - untraced_s,
            })
    finally:
        stop_spark(spark)
        wait_gone(jvm)
    out = {
        "attempted": len(ops),
        "failed": len(wrong),
        "wrong": wrong,
        "e2e": {
            "wall_s": wall,
            "rows_per_s": ctx.input_rows / wall,
            "driver_peak_rss_mb": median([p["driver_peak_rss_mb"] for p in passes]),
            "setup_s": median(gens) + start_s + warm_s,
        },
        "walls": [p["wall_s"] for p in passes],
        "jvm_peak_rss_mb": [p["jvm_peak_rss_mb"] for p in passes],
        "setups": {"generate_s": gens, "session_start_s": start_s, "warm_pass_s": warm_s},
        "per_op_s": {n: median([p["per"][n]["s"] for p in passes]) for _, n, _ in ops},
    }
    if layers is not None:
        out["layers"], out["spans"] = layers, tracer.spans
    return out
