"""Dead-letter sink (SURVEY.md §2 row 10).

The reference accumulates ``{ID: error}`` for failed asset downloads into
``wp_failed.json`` (assets.js:24,88,100,114,214), clears an entry on later
success, and re-drives failures via the ID-file path (README.md:57-62):
the DLQ's keys, written to a file, are the next run's ``--ids-file``.

Here the DLQ is the (id, error) pairs of the download results the assets
module already collected; the JSON file keeps the reference's
``{id: error}`` shape.
"""

from __future__ import annotations

from collections.abc import Iterable

from .keyed_json import Written, read_document, write_document


def write_dlq(
    failures: Iterable[tuple[str, str]],
    *,
    path: str,
    succeeded: Iterable[str] = (),
    merge: bool = False,
) -> Written:
    """Write this run's (id, error) failures to the DLQ file.

    ``merge=True`` (ids-subset runs) mirrors the reference exactly
    (assets.js:24,133-137): existing entries are PRELOADED and kept, an
    id that succeeded this run is cleared, a failure (re)writes its
    entry. Untouched failures from prior runs survive — overwriting
    would silently orphan them. A prior DLQ that does not parse raises
    ``CorruptDocumentError`` naming its path.

    ``merge=False`` (full runs) rewrites the file from this run's
    failures alone, so a cut-off DLQ never blocks a full run. A full run
    attempts every attachment, so each entry it could have kept is
    cleared or rewritten anyway; the only entries it drops are those of
    attachments that no longer exist, which cannot be re-driven."""
    doc = read_document(path) if merge else {}
    for k in succeeded:
        doc.pop(k, None)
    doc.update(failures)
    doc = dict(sorted(doc.items()))
    return Written(write_document(path, doc), len(doc))
