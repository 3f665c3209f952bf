"""Scalar string transforms (SURVEY.md §2.f) as native Column expressions.

Every function here compiles to JVM-side Catalyst expressions inside
whole-stage codegen — no Python UDFs in the hot path. Each docstring cites
the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's host-strip regex ``/^(?:\/\/|[^\/]+)*\//`` (posts.js:149)
# is not used: it backtracks catastrophically (ReDoS) — a slash-free
# input of n chars costs O(2^n) in both Java and JS regex engines, which
# at scale means one malformed guid hangs an executor task. ``host_strip``
# below reproduces its exact semantics in linear time.

#: First MAXIMAL odd-length slash run (not preceded/followed by '/').
_ODD_RUN_RE = r"(?<![/])(?:(?:[/]{2})*[/])(?![/])"


def host_strip(url: Column | str) -> Column:
    """``"/" + guid.replace(/^(?:\\/\\/|[^\\/]+)*\\//, "")`` — posts.js:149.

    ``http://example.com/a/b`` -> ``/a/b`` (leftmost-first: strips
    scheme+host through the first unpaired slash only).

    Semantics of the JS regex, derived from its greedy+backtracking
    behavior and reproduced here without backtracking:

    1. If the string has a maximal odd-length slash run, the match ends
       at the end of the FIRST such run (the greedy scan consumes '//'
       pairs and non-slash runs, then the lone '/' satisfies the final
       ``\\/``).
    2. Else, if any slash exists (all runs even-length), backtracking
       surrenders the final consumed '//' pair, so the remainder starts
       at the LAST '/' of the string (inclusive).
    3. Else (no '/'), no match — the input passes through unchanged.

    Each branch is a fixed-length-lookbehind regex returning the captured
    remainder directly (regexp_extract, not regexp_instr — instr yields
    UTF-16 code-unit positions that disagree with codepoint-based substr
    on astral characters): near-linear time, identical output
    (property-tested against the original regex), no ReDoS.
    """
    c = F.col(url) if isinstance(url, str) else url
    after_odd = F.regexp_extract(c, _ODD_RUN_RE + r"([\s\S]*)", 1)
    after_last = F.regexp_extract(c, r"(/[^/]*)$", 1)
    stripped = (
        F.when(c.rlike(_ODD_RUN_RE), after_odd)
        .when(c.contains("/"), after_last)
        .otherwise(c)
    )
    return F.concat(F.lit("/"), stripped)


def slugify(text: Column | str, prefix: str = "") -> Column:
    """``text.toLowerCase().replace(/[^a-z0-9_-]+/g, '-')`` with an optional
    path prefix — authors.js:45,50 (``/author/``), categories.js:44,66
    (``/category/``)."""
    c = F.col(text) if isinstance(text, str) else text
    slug = F.regexp_replace(F.lower(c), "[^a-z0-9_-]+", "-")
    if prefix:
        return F.concat(F.lit(prefix), slug)
    return slug


def decode_entities(text: Column | str) -> Column:
    """HTML-entity decode as performed by the reference: only ``&amp;`` is
    decoded (categories.js:50-56). Kept deliberately narrow to preserve
    observable behavior."""
    c = F.col(text) if isinstance(text, str) else text
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def split_to_array(text: Column | str, sep: str = ",") -> Column:
    """``s.split(",")`` — posts.js:150,153,254."""
    c = F.col(text) if isinstance(text, str) else text
    # JS split uses a literal separator; escape for Java regex.
    import re

    return F.split(c, re.escape(sep))


def null_default_array(arr: Column) -> Column:
    """``if (x) {...split(",")} else {[]}`` — posts.js:152-156: NULL/missing
    input becomes an empty string array."""
    return F.coalesce(arr, F.array().cast("array<string>"))


def conditional_array_wrap(cond: Column, value: Column) -> Column:
    """``parent != 0 ? [parentslug] : [""]`` — categories.js:60-65."""
    return F.when(cond, F.array(value)).otherwise(F.array(F.lit("")))


def html_to_text(text: Column | str) -> Column:
    """Markup → analyzable text, the extraction step between a
    WordPress export and the text-analysis operators (``post_content``
    is HTML — posts.js:151 ships ``full_description`` verbatim; quality
    scoring, dedup shingling, and token counting all want the rendered
    text, not tag soup).

    Deterministic regex chain, every step expressible identically in
    Spark (Java regex) and DuckDB (RE2) so the oracle mirrors it
    byte-for-byte — which is also why there are no backreferences
    (RE2 has none: script and style blocks get separate patterns) and
    no lookarounds:

    1. drop ``<script>``/``<style>`` blocks and HTML comments
       (content-bearing markup whose TEXT must not leak into analysis),
    2. strip remaining tags to a space (inline tags often separate
       words: ``a<br>b`` must not fuse),
    3. decode the entities WP emits routinely (``&lt; &gt; &quot;
       &#039; &nbsp;`` and LAST ``&amp;`` — last so ``&amp;lt;`` decodes
       to the literal ``&lt;`` rather than double-decoding to ``<``),
    4. collapse whitespace runs and trim.

    Tag matching is CASE-INSENSITIVE (``(?i)`` — legacy WP content
    carries ``<SCRIPT>``/``<P>`` routinely; both Java regex and RE2
    support the inline flag), and the generic strip only fires on
    ``</?letter...`` so an unescaped comparison sign before a digit or
    space ("margins <10% while growth >5%") is NOT treated as a tag —
    deleting prose between a bare ``<`` and the next ``>`` was the
    round-8 review's data-loss finding.

    Not a full HTML5 parser by design. Residual known lossy class: a
    LETTER-INITIAL unescaped angle span in prose ("growth <a bit
    over> last year") is indistinguishable from a tag by any regex —
    it is stripped. Correct HTML escapes such text; recovering it
    needs a real tokenizer, which is the documented upgrade path, not
    a regex tweak. Other malformed-markup cases (unclosed ``<script``,
    ``>`` inside attributes) degrade to extra text retained.
    """
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?i)</?[a-z][^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#039;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[ \t\n\r\f\x0b]+", " ")
    return F.trim(out)
