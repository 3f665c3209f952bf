"""Keyed-JSON document sinks.

The reference's output format (SURVEY.md §2 rows 7-8): one JSON object per
module keyed by entry uid — ``{"16": {...}, "18": {...}}`` (posts.js:150-162)
— plus master/locale mapping files ``{"en-us": {"16": ""}}`` (posts.js:159)
and flat mapping files ``{uid: ""}`` / ``{url: ""}`` (assets.js:133-134).

Distributed-write note (SURVEY.md §7 risk register): a single JSON
*document* is inherently one file, so the default assembly is a
driver-side write. Everything upstream (the entries themselves) is
computed distributed; ``render_entries`` ships one ``to_json``-rendered
struct per entry in ONE ``collect()``, and every document and mapping of
an export module is built from that one list, so the module's plan runs
once. These files are human-scale (content entries, not fact data).

For fact-scale output ``write_keyed_json_sharded`` (VERDICT r4 ask #8)
removes the driver ``collect()`` entirely: entries are rendered and
range-sorted on executors, written as ordered text shards, then PACKAGED
into the same keyed document by streaming the shard files in filename
order — O(1) driver memory, bounded by disk bandwidth, never by entry
count. (For line-oriented output ``df.write.json`` remains the
plain-writer alternative; the sharded writer exists when the
keyed-document FORMAT itself is the contract.)

Crash safety: every document goes through ``atomic_open`` — written to a
temp file beside the target and ``os.replace``-d into place — so a crash
mid-write leaves the previous document (or none), never a truncated one.
A prior document that does not parse raises ``CorruptDocumentError``
naming its path instead of a bare ``JSONDecodeError``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
from collections.abc import Iterable
from operator import itemgetter
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class CorruptDocumentError(ValueError):
    """A prior document on disk is not a complete JSON document."""


class Written(NamedTuple):
    """What a sink wrote: document size and the entries it holds (for a
    locale-shaped mapping, the entries of that locale)."""

    bytes: int
    entries: int


@contextlib.contextmanager
def atomic_open(path: str):
    """Text file handle whose content replaces ``path`` only when the
    block exits cleanly (temp file in the same directory, then
    ``os.replace``, atomic on one filesystem). On error the temp file is
    removed and ``path`` is untouched. One writer per path at a time.
    Guards against a crashed process, not a power loss (no fsync)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            yield f
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def write_document(path: str, doc: dict) -> int:
    """Write ``doc`` as indented JSON through ``atomic_open``; returns the
    bytes written."""
    text = json.dumps(doc, indent=4)
    with atomic_open(path) as f:
        f.write(text)
    return len(text)  # ensure_ascii: one byte per character


def read_document(path: str) -> dict:
    """The prior document at ``path``; ``{}`` when it is missing or empty.
    A document that does not parse raises ``CorruptDocumentError``."""
    try:
        with open(path) as f:
            content = f.read()
    except FileNotFoundError:
        return {}
    if not content.strip():
        return {}
    try:
        return json.loads(content)
    except json.JSONDecodeError as e:
        raise CorruptDocumentError(
            f"prior document {path} is not complete JSON ({e}); "
            "restore or remove it, then re-run"
        ) from e


def render_entries(df: DataFrame, key: Column, value: Column) -> list[tuple[str, Any]]:
    """(key, entry) pairs in one ``collect()``: each entry renders to JSON
    on the executors (``to_json``), the driver parses it once."""
    rows = df.select(key.cast("string"), F.to_json(value)).collect()
    return [(k, json.loads(v)) for k, v in rows]


def write_keyed_json(entries: Iterable[tuple[str, Any]], *, path: str) -> Written:
    """Write the keyed-JSON entries document (e.g. ``entries/posts/en-us.json``)
    from (key, entry) pairs, replacing any existing document. For partial
    (ids-subset) runs use ``merge_keyed_json`` — overwrite would destroy
    prior entries. Keys are sorted for determinism (the reference's key
    order is page-arrival order — nondeterministic under parallelism, so
    we pin it); keys are unique by contract (entry uids), a duplicate
    keeps its last entry."""
    doc = dict(sorted(entries, key=itemgetter(0)))
    return Written(write_document(path, doc), len(doc))


def write_keyed_json_sharded(df: DataFrame, key: Column, value: Column, path: str) -> Written:
    """Fact-scale keyed-JSON assembly with NO driver collect.

    Plan: each entry renders to a single-pair JSON fragment on the
    executors (``to_json`` of a one-entry map — to_json handles the
    key's JSON escaping), range-repartitioned + sorted by key so the
    numbered shard files come out in global key order (range partition i
    holds keys entirely below partition i+1's). The packaging step then
    streams the shards in filename order into the final ``{...}``
    document — the driver never holds more than one line in memory, so
    the ceiling is disk bandwidth, not heap. Output parses identically
    to ``write_keyed_json`` over ``render_entries`` (entry order sorted
    by key); under duplicate keys it would emit both, so dedup upstream."""
    shard_dir = path + ".shards"
    fragment = F.to_json(
        F.map_from_arrays(F.array(key.cast("string")), F.array(value))
    )
    (
        df.select(key.cast("string").alias("__k"), fragment.alias("__frag"))
        .repartitionByRange("__k")
        .sortWithinPartitions("__k")
        .select("__frag")
        .write.mode("overwrite")
        .text(shard_dir)
    )
    entries = 0
    try:
        with atomic_open(path) as out:
            for part in sorted(glob.glob(os.path.join(shard_dir, "part-*"))):
                with open(part) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        # strip the one-entry map's outer braces -> `"k": {...}`
                        out.write(("," if entries else "{") + "\n    " + line[1:-1])
                        entries += 1
            out.write("\n}" if entries else "{}")
    finally:
        shutil.rmtree(shard_dir, ignore_errors=True)
    return Written(os.path.getsize(path), entries)


def merge_keyed_json(entries: Iterable[tuple[str, Any]], *, path: str) -> Written:
    """Read-modify-write merge into an existing keyed-JSON file — the
    reference's page-merge semantics (helper.js:15-28, posts.js:145-163):
    existing entries are kept, incoming keys overwrite. This is the
    incremental-export sink: each micro-batch merges its entries instead
    of rewriting the document from scratch."""
    doc = read_document(path)
    doc.update(entries)
    doc = dict(sorted(doc.items()))
    return Written(write_document(path, doc), len(doc))


def write_master_mapping(
    keys: Iterable[str],
    *,
    path: str,
    locale: str | None = "en-us",
    merge: bool = False,
) -> Written:
    """Write a master/mapping file: ``{locale: {uid: ""}}`` (posts.js:159)
    or, with ``locale=None``, the flat ``{uid: ""}`` shape (assets.js:133).
    ``merge=True`` keeps existing keys (the reference read-modify-writes
    its master files) — required for ids-subset runs. A locale-shaped
    merge preserves OTHER locales' mappings in the document: with the
    locale now configurable, a resume under locale B must not clobber
    locale A's section (the clobber-on-resume data loss this merge path
    exists to prevent)."""
    existing = read_document(path) if merge else {}
    mapping = existing.get(locale, {}) if locale is not None else existing
    mapping.update(dict.fromkeys(keys, ""))
    mapping = dict(sorted(mapping.items()))
    doc = {**existing, locale: mapping} if locale is not None else mapping
    return Written(write_document(path, doc), len(mapping))
