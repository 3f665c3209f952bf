"""The export CLI with per-layer tracing, for the traced run.

    python3 perfbench/traced_cli.py OUT.json export --config cfg.json [--ids-file ids.txt]

Wraps the calls into the package's public functions from outside (the
library is not changed), runs ``__main__.main`` with the remaining
arguments, then reads Spark's status store and writes the per-layer
metrics, spans and counters to ``OUT.json``. Each export module runs under
its own job group, so its jobs, stages and SQL executions are its own; the
tracer's own reads run under a separate group that no total includes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import StatusStore, Tracer  # noqa: E402

from wordpress_sql_to_contentstack_exporter_spark import __main__ as cli  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark import config, session  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline, wordpress  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark.sources import idlist  # noqa: E402

MODULES = ("assets", "authors", "categories", "posts")

tracer = Tracer(run_id=f"export-{os.getpid()}")
state: dict = {"store": None, "modules": {}}


def wrap(owner, attr: str, span: str, *, group: str | None = None, after=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        store = state["store"]
        eid0 = store.last_execution_id() if store else -1
        grp = store.group(group) if (store and group) else contextlib.nullcontext()
        with tracer.span(span), grp:
            result = orig(*args, **kwargs)
        if after is not None:
            after(result, args, kwargs, eid0)
        return result

    setattr(owner, attr, traced)


def _started(spark, args, kwargs, eid0):
    state["store"] = StatusStore(spark)


def _module_done(name):
    def after(result, args, kwargs, eid0):
        store = state["store"]
        eid1 = store.last_execution_id()
        execs = store.executions(eid0, eid1)
        state["modules"][name] = {
            "exec_s": store.busy_s(execs),
            "jobs": len(store.jobs(f"perfbench-{name}")),
        }
        if name == "assets":
            with store.group(StatusStore.TRACE_GROUP):
                _download_counts(result, execs)

    return after


def _download_counts(results, execs) -> None:
    """Download status counts from the module's result frame and the
    download's own SQL execution (the one running ``MapInPandas``)."""
    rows = results.select("status", "attempts", "path").collect()
    attempts = sum(r["attempts"] for r in rows)
    done = [r for r in rows if r["status"] == "downloaded"]
    tracer.add("sources.http.fetch_attempts", attempts)
    tracer.add("sources.http.retries", sum(max(r["attempts"] - 1, 0) for r in rows))
    tracer.add("sources.http.failed", sum(r["status"] == "failed" for r in rows))
    tracer.add("sources.http.files", len(done))
    tracer.add("sources.http.bytes", sum(os.path.getsize(r["path"]) for r in done))
    tracer.add("sources.http.download_s", StatusStore.busy_s(e for e in execs if "MapInPandas" in e[3]))


def _doc_written(prefix: str, path_arg: int):
    """Remember each written document; its size and entries are read once
    the export has finished, outside every timed span."""

    def after(result, args, kwargs, eid0):
        path = args[path_arg] if len(args) > path_arg else kwargs["path"]
        state.setdefault("docs", []).append((prefix, path, kwargs.get("locale")))

    return after


def _doc_counts() -> None:
    for prefix, path, locale in state.get("docs", []):
        with open(path) as f:
            doc = json.load(f)
        if locale is not None:
            doc = doc.get(locale, {})
        tracer.add(f"{prefix}.bytes", os.path.getsize(path))
        tracer.add(f"{prefix}.files", 1)
        tracer.add(f"{prefix}.entries", len(doc))


def install() -> None:
    wrap(session, "get_spark", "session.start", after=_started)
    wrap(config, "build_catalog", "config.build_catalog")
    wrap(wordpress, "read_site_options", "plans.wordpress.read_site_options")
    wrap(idlist, "read_id_list", "sources.idlist.read")
    wrap(pipeline, "run_export", "plans.pipeline.run_export")
    for m in MODULES:
        wrap(pipeline, f"export_{m}", f"plans.pipeline.export_{m}",
             group=f"perfbench-{m}", after=_module_done(m))
    wrap(pipeline, "write_keyed_json", "sinks.keyed_json.write", after=_doc_written("sinks.keyed_json", 3))
    wrap(pipeline, "merge_keyed_json", "sinks.keyed_json.merge", after=_doc_written("sinks.keyed_json", 3))
    wrap(pipeline, "write_master_mapping", "sinks.keyed_json.master", after=_doc_written("sinks.keyed_json", 2))
    wrap(pipeline, "write_dlq", "sinks.dlq.write", after=_doc_written("sinks.dlq", 1))


def layer_metrics() -> dict[str, float]:
    _doc_counts()
    store = state["store"]
    with store.group(StatusStore.TRACE_GROUP):
        totals = store.stage_totals(store.all_jobs())
    m: dict[str, float] = {
        "session.start_s": tracer.total("session.start"),
        "config.build_catalog_s": tracer.total("config.build_catalog"),
        "plans.wordpress.read_site_options_s": tracer.total("plans.wordpress.read_site_options"),
        "sources.idlist.read_s": tracer.total("sources.idlist.read"),
        "sources.catalog.scan_rows": totals["input_records"],
        "sources.catalog.scan_bytes": totals["input_bytes"],
        "exchange.shuffle_bytes": totals["shuffle_bytes"],
        "exchange.shuffle_records": totals["shuffle_records"],
        "exchange.spill_bytes": totals["spill_bytes"],
        "sinks.keyed_json.write_s": tracer.total("sinks.keyed_json.write"),
        "sinks.keyed_json.merge_s": tracer.total("sinks.keyed_json.merge"),
        "sinks.keyed_json.master_s": tracer.total("sinks.keyed_json.master"),
        "sinks.dlq.write_s": tracer.total("sinks.dlq.write"),
        "cli.overhead_s": tracer.total("cli.main") - tracer.total("session.start")
        - tracer.total("config.build_catalog") - tracer.total("plans.pipeline.run_export"),
    }
    for key in ("bytes", "files", "entries"):
        m[f"sinks.keyed_json.{key}"] = tracer.counters.get(f"sinks.keyed_json.{key}", 0)
    m["sinks.dlq.entries"] = tracer.counters.get("sinks.dlq.entries", 0)
    for key in ("download_s", "fetch_attempts", "retries", "failed", "files", "bytes"):
        m[f"sources.http.{key}"] = tracer.counters.get(f"sources.http.{key}", 0)
    ok = m["sources.http.files"]
    m["sources.http.ok_per_attempt"] = ok / m["sources.http.fetch_attempts"] if m["sources.http.fetch_attempts"] else 0.0
    for mod in MODULES:
        wall = tracer.total(f"plans.pipeline.export_{mod}")
        info = state["modules"].get(mod, {"exec_s": 0.0, "jobs": 0})
        m[f"plans.pipeline.export_{mod}_s"] = wall
        m[f"plans.pipeline.jobs_{mod}"] = info["jobs"]
        m[f"plans.pipeline.exec_s_{mod}"] = info["exec_s"]
        m[f"plans.pipeline.driver_s_{mod}"] = wall - info["exec_s"]
    return m


def main() -> int:
    out_path, argv = sys.argv[1], sys.argv[2:]
    install()
    with tracer.span("cli.main"):
        rc = cli.main(argv)
    doc = {"metrics": layer_metrics(), "spans": tracer.spans, "counters": tracer.counters, "run": tracer.run_id}
    with open(out_path, "w") as f:
        json.dump(doc, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
