"""Plan-time WordPress permalink compiler (SURVEY.md §2 row 37).

The reference interprets the ``permalink_structure`` option per-row in JS
(``getURL``, posts.js:58-141). The template is a single config string, so
here it is compiled ONCE into a native ``concat(...)`` expression tree —
zero per-row interpretation, zero UDFs, fully inside whole-stage codegen.

Observable semantics reproduced from posts.js:58-141:

- non-empty structure: split on ``/``; a leading empty segment is dropped
  (posts.js:80-81) and a trailing empty segment only marks the (vestigial)
  ``lastslash`` flag (posts.js:83-87). Each remaining segment appends
  ``<value>/`` with a single leading ``/`` overall (posts.js:90-128), so
  the output is always ``/seg1/seg2/.../`` — trailing slash included
  regardless of the template's trailing slash, because both return paths
  yield the same string (posts.js:133-140).
- placeholders: ``%post_id%``, ``%year%``, ``%monthnum%`` (zero-padded),
  ``%day%`` (zero-padded), ``%postname%``; any other segment is a literal.
  Dates come from ``post_date_gmt`` in UTC (posts.js:89).
- empty structure: derive the path from ``guid`` by splitting on the blog
  name — the last non-empty ``/``-segment of ``siteurl`` — and taking the
  piece after its first occurrence (posts.js:60-76, JS ``split()[1]``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dates import padded_day, padded_month, year_str


def _segment_expr(
    segment: str, post_id: Column, date_gmt: Column, post_name: Column
) -> Column:
    if segment == "%post_id%":
        return post_id.cast("string")
    if segment == "%year%":
        return year_str(date_gmt)
    if segment == "%monthnum%":
        return padded_month(date_gmt)
    if segment == "%day%":
        return padded_day(date_gmt)
    if segment == "%postname%":
        return post_name
    return F.lit(segment)


def blogname_of(siteurl: str) -> str:
    """Last non-empty ``/``-segment of siteurl (posts.js:62-69)."""
    base = siteurl.split("/")
    if base and base[-1] == "":
        return base[-2] if len(base) >= 2 else ""
    return base[-1] if base else ""


def compile_permalink(
    permalink_structure: str,
    siteurl: str,
    *,
    post_id: Column,
    date_gmt: Column,
    post_name: Column,
    guid: Column,
) -> Column:
    """Compile the template into one Column expression.

    The two scalar config strings (``permalink_structure``, ``siteurl``)
    are the reference's single-row ``wp_options`` lookups (posts.js:27-28,
    39-53); the caller fetches them once on the driver — an O(1) scalar,
    not a distributed value — and the compiled expression is then applied
    to billions of rows JVM-side.
    """
    if permalink_structure == "":
        blogname = blogname_of(siteurl)
        # JS url.split(blogname)[1]: the piece after the FIRST occurrence
        # (and before any second occurrence) of blogname in guid.
        # try_element_at: a guid NOT containing the blogname yields NULL
        # (JS: undefined), instead of an ANSI array-index job abort.
        return F.try_element_at(F.split(guid, re.escape(blogname)), F.lit(2))

    segments = permalink_structure.split("/")
    if segments and segments[0] == "":
        segments = segments[1:]
    if segments and segments[-1] == "":
        segments = segments[:-1]

    pieces: list[Column] = [F.lit("/")]
    for seg in segments:
        pieces.append(_segment_expr(seg, post_id, date_gmt, post_name))
        pieces.append(F.lit("/"))
    return F.concat(*pieces)
