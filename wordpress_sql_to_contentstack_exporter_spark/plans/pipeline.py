"""Export orchestration (SURVEY.md §2.g rows 42-46, §3).

The reference runs ``sequence([assets, authors, categories, posts])``
(app.js:9,39) because posts read the ``_featured.json`` side file that
assets writes. Here posts resolve featured images from ``postmeta``
(``wordpress.build_featured_image_map``) and no module reads a file
another module writes, so the selected modules run CONCURRENTLY on the
one SparkSession, one driver thread each. Most of a fresh export's time is
one-time cold work per module (plan compilation, codegen, Python-worker
start), and that now overlaps instead of adding up. ``run_export`` waits
for every module and then re-raises the first failure in ``MODULES``
order. Single-module runs compute what they need on demand instead of
trusting a previous run's files (fix of SURVEY.md §3.2).

Each module runs ONE action over its plan: a content module collects its
rendered (key, entry) rows once (posts read the two site options first),
and assets collects its eagerly checkpointed download results once. The entries document, the master mapping and, for assets, the URL
map and the DLQ are all built from those rows, and so is the module's
JSON log line (rows, wall, bytes written; for assets the download status
counts, retries and DLQ size). Because the modules overlap, the traced
per-module spans (``plans.pipeline.export_*_s`` in ``perfbench``) overlap
too; ``plans.pipeline.run_export`` is the export's total.

Output layout mirrors config/index.json:5-27:

    <data>/assets/<ID>/<filename>         downloaded binaries
    <data>/assets/wp_assets.json          asset entries (keyed by ID)
    <data>/entries/{posts,authors,categories}/en-us.json
    <data>/master/entries/{posts,authors,categories}.json  {"en-us": {uid: ""}}
    <data>/master/wp_assets.json          {uid: ""}
    <data>/master/wp_urls.json            {url: ""}   (masterfile of assets)
    <data>/master/wp_failed.json          DLQ {id: error}
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..logging_utils import get_logger
from ..sinks.dlq import write_dlq
from ..sinks.keyed_json import (
    Written,
    merge_keyed_json,
    render_entries,
    write_keyed_json,
    write_master_mapping,
)
from ..sources.catalog import Catalog
from ..sources.http import download_assets
from . import wordpress as wp

MODULES = ["assets", "authors", "categories", "posts"]  # app.js:9 order


def _write_entries(entries: list[tuple[str, Any]], path: str, *, partial: bool) -> Written:
    """Full runs rewrite the document; ids-subset runs merge into it
    (the reference read-modify-writes every page — clobbering on a
    resume/DLQ re-drive would destroy all other entries)."""
    if partial:
        return merge_keyed_json(entries, path=path)
    return write_keyed_json(entries, path=path)


def _log_module(module: str, t0: float, rows: int, written: list[Written], **extra: int) -> None:
    """The module's one JSON log line. Every number comes from rows the
    module already collected: logging runs no Spark action."""
    get_logger().info("exported module %s", module, extra={"metrics": {
        "module": module,
        "rows": rows,
        "wall_s": round(time.perf_counter() - t0, 3),
        "bytes": sum(w.bytes for w in written),
        **extra,
    }})


def _export_entries(
    module: str, df: DataFrame, data_dir: str, ids: DataFrame | None, locale: str, t0: float
) -> DataFrame:
    """Entries document + locale master mapping of one content module,
    both from one collect of the rendered rows."""
    entries = render_entries(df, F.col("key"), F.col("entry"))
    partial = ids is not None
    written = [
        _write_entries(entries, f"{data_dir}/entries/{module}/{locale}.json", partial=partial),
        write_master_mapping(
            [k for k, _ in entries], path=f"{data_dir}/master/entries/{module}.json",
            locale=locale, merge=partial,
        ),
    ]
    _log_module(module, t0, len(entries), written)
    return df


def export_posts(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    t0 = time.perf_counter()
    site = wp.read_site_options(cat)
    return _export_entries("posts", wp.build_posts(cat, site, ids), data_dir, ids, locale, t0)


def export_authors(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    t0 = time.perf_counter()
    return _export_entries("authors", wp.build_authors(cat, ids), data_dir, ids, locale, t0)


def export_categories(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    t0 = time.perf_counter()
    return _export_entries("categories", wp.build_categories(cat, ids), data_dir, ids, locale, t0)


def export_assets(
    cat: Catalog,
    data_dir: str,
    ids: DataFrame | None = None,
    *,
    fetch: Optional[Callable] = None,
    parallelism: int = 2,
    timeout: float = 60.0,
    retries: int = 1,
) -> DataFrame:
    """Download attachments, write asset entries + mappings + DLQ
    (assets.js:70-140,214). Returns the download-result DataFrame."""
    t0 = time.perf_counter()
    atts = wp.build_attachments(cat, ids)
    # Eager localCheckpoint: the download is a side-effecting computation —
    # materialize its results exactly once (cache() would be lazy AND can
    # collide with a previous run's identical logical plan). The returned
    # frame re-reads the checkpoint, never the origin.
    results = download_assets(
        atts,
        f"{data_dir}/assets",
        fetch=fetch,
        parallelism=parallelism,
        timeout=timeout,
        retries=retries,
    ).localCheckpoint(eager=True)
    rows = results.collect()

    partial = ids is not None
    ok = [r for r in rows if r["status"] != "failed"]
    ok_ids = [str(r["id"]) for r in ok]
    entries = [
        (k, {"uid": r["id"], "filename": r["filename"], "url": r["url"], "status": True})
        for k, r in zip(ok_ids, ok)
    ]
    written = [
        _write_entries(entries, f"{data_dir}/assets/wp_assets.json", partial=partial),
        write_master_mapping(
            ok_ids, path=f"{data_dir}/master/wp_assets.json", locale=None, merge=partial
        ),
        write_master_mapping(
            [r["url"] for r in ok], path=f"{data_dir}/master/wp_urls.json", locale=None, merge=partial
        ),
    ]
    # DLQ always merges (reference preloads wp_failed.json): successes
    # clear their entries, untouched prior failures survive
    dlq = write_dlq(
        [(str(r["id"]), r["error"]) for r in rows if r["status"] == "failed"],
        path=f"{data_dir}/master/wp_failed.json",
        succeeded=ok_ids,
    )
    written.append(dlq)
    statuses = [r["status"] for r in rows]
    _log_module(
        "assets", t0, len(rows), written,
        downloaded=statuses.count("downloaded"),
        skipped=statuses.count("skipped"),
        failed=statuses.count("failed"),
        retries=sum(max(r["attempts"] - 1, 0) for r in rows),
        dlq=dlq.entries,
    )
    return results


def run_export(
    cat: Catalog,
    data_dir: str,
    *,
    modules: list[str] | None = None,
    ids: DataFrame | None = None,
    fetch: Optional[Callable] = None,
    locale: str = "en-us",
    asset_parallelism: int = 2,
    http_timeout_s: float = 60.0,
    http_retries: int = 1,
) -> dict[str, DataFrame]:
    """The ``npm run export [module] [ids-file]`` surface (app.js:11-39).

    ``modules=None`` runs all four; a subset runs just those (upstream
    deps are computed on demand, not read from prior runs). The selected
    modules run concurrently, one thread each; every module finishes
    before the first failure (in ``MODULES`` order) is re-raised.
    ``ids`` narrows every selected module — the resume path.
    The locale / HTTP knobs mirror ExportConfig (the reference's
    ``guard.n(2)`` / 60 s / 1-retry constants) and are threaded through
    here — config values must never be silently ignored.
    """
    selected = modules or MODULES
    unknown = set(selected) - set(MODULES)
    if unknown:
        raise ValueError(f"unknown modules: {sorted(unknown)} (valid: {MODULES})")
    # looked up at call time, so a wrapper installed on this module's
    # export_* names (the perfbench tracer) is the one that runs
    jobs = {
        "assets": lambda: export_assets(
            cat, data_dir, ids, fetch=fetch,
            parallelism=asset_parallelism,
            timeout=http_timeout_s, retries=http_retries,
        ),
        "authors": lambda: export_authors(cat, data_dir, ids, locale=locale),
        "categories": lambda: export_categories(cat, data_dir, ids, locale=locale),
        "posts": lambda: export_posts(cat, data_dir, ids, locale=locale),
    }
    order = [m for m in MODULES if m in selected]
    with ThreadPoolExecutor(max_workers=len(order), thread_name_prefix="export") as pool:
        futures = {m: pool.submit(inheritable_thread_target(cat.spark)(jobs[m])) for m in order}
    # leaving the pool waited for every module; the first failure in
    # MODULES order raises, later ones are logged so none goes unseen
    failed = [m for m in order if futures[m].exception() is not None]
    for m in failed[1:]:
        get_logger().error("module %s failed: %r", m, futures[m].exception())
    return {m: futures[m].result() for m in order}
