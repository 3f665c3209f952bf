"""URL parsing as native Column expressions — no UDFs.

Training-data pipelines slice corpora by URL constantly (domain mixing,
per-site caps, source filtering, crawl dedup); these helpers turn a raw
URL string into its components with plain ``regexp_extract`` so the
whole stage is a map-only codegen projection at any scale.

Patterns deliberately use only the regex subset with identical
semantics in Java regex (Spark) and RE2 (the DuckDB oracle): character
classes, ``(?:...)`` groups, bounded repetition — no lookaround, no
backreferences. No-match behavior is also aligned: both engines return
``''`` from ``regexp_extract`` on no match, which doubles as the
"component absent" value (URL components are never the empty string
when present-with-content; ``has_query``-style flags can be derived
with ``!= ''``).

``registrable_domain`` is the documented heuristic (last two labels,
three under common second-level registries like ``co.uk``), NOT the
full Public Suffix List — a production crawl pipeline should swap in a
PSL lookup via a broadcast map; the call site stays one expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Second-level labels that commonly sit under a country TLD
#: (example.co.uk -> registrable is example.co.uk, not co.uk).
_SECOND_LEVEL = ["co", "com", "net", "org", "ac", "gov", "edu"]

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?([^:/?#]+)"
_PORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?[^:/?#]+:([0-9]+)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)"
_QUERY_RE = r"\?([^#]*)"
_FRAGMENT_RE = r"#(.*)$"


def url_scheme(url: Column) -> Column:
    return F.regexp_extract(url, _SCHEME_RE, 1)


def url_host(url: Column) -> Column:
    """Hostname without userinfo or port; '' when the input has no
    ``scheme://`` prefix (protocol-relative and bare paths are not
    URLs to this parser — normalize upstream)."""
    return F.regexp_extract(url, _HOST_RE, 1)


def url_port(url: Column) -> Column:
    """Explicit port digits, or '' when absent (callers wanting defaults
    coalesce on scheme)."""
    return F.regexp_extract(url, _PORT_RE, 1)


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _QUERY_RE, 1)


def url_fragment(url: Column) -> Column:
    return F.regexp_extract(url, _FRAGMENT_RE, 1)


def query_param(url: Column, name: str) -> Column:
    """Value of ``name`` in the query string ('' when absent). ``name``
    is a plan-time literal and is regex-escaped."""
    import re as _re

    pat = r"[?&]" + _re.escape(name) + r"=([^&#]*)"
    return F.regexp_extract(url, pat, 1)


def registrable_domain(host: Column) -> Column:
    """Heuristic eTLD+1: last two host labels, or last three when the
    second-to-last label is a common second-level registry under a
    two-letter country TLD (``example.co.uk``). Lowercased. '' in, '' out.
    """
    h = F.lower(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last = F.element_at(labels, -1)
    second = F.element_at(labels, -2)
    three = F.when(
        (n >= 3)
        & (F.length(last) == 2)
        & second.isin(_SECOND_LEVEL),
        F.concat_ws(".", F.element_at(labels, -3), second, last),
    )
    two = F.when(n >= 2, F.concat_ws(".", second, last))
    return F.when(h == "", F.lit("")).otherwise(F.coalesce(three, two, h))


def url_normalize(url: Column) -> Column:
    """Canonical URL form for crawl/link dedup — the normalization pass
    that runs BEFORE URL-keyed dedup so `HTTP://Site.com:80/a?utm_x=1`
    and `http://site.com/a` collapse to one key:

    - scheme and host lowercased, userinfo dropped;
    - default ports stripped (http:80, https:443), others kept;
    - empty path becomes ``/``;
    - tracking params (utm_*, ref, fbclid, gclid, mc_*) dropped, the
      REST sorted byte-wise and rejoined (query order is not semantic;
      sorting makes the canonical form order-insensitive);
    - fragment dropped (client-side only).

    Pure native expressions (regex extracts + array ops — map-only
    codegen at any scale). Inputs the parser rejects (no ``scheme://``)
    normalize to ``''``, matching the component extractors' absent
    convention.
    """
    scheme = F.lower(url_scheme(url))
    host = F.lower(url_host(url))
    port = url_port(url)
    path = url_path(url)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(
        F.split(url_query(url), "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~p.startswith("ref=")
        & ~p.startswith("fbclid=")
        & ~p.startswith("gclid=")
        & ~p.startswith("mc_cid=")
        & ~p.startswith("mc_eid="),
    )
    qnorm = F.array_join(F.array_sort(params), "&")
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port != "") & ~default_port, F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    q_part = F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit(""))
    return F.when((scheme == "") | (host == ""), F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    )


def extract_hrefs(html: Column) -> Column:
    """All ``href`` attribute values of ``<a>`` tags in an HTML column,
    in document order — the link-extraction step between an HTML corpus
    and the URL/graph planes (per-domain outlink caps, link-graph
    PageRank, anchor-based crawl frontiers).

    ONE ``regexp_extract_all`` pass — map-only codegen, no UDF. The
    pattern stays in the Java/RE2-common subset (no lookaround/
    backrefs) and uses the EXPLICIT whitespace class ``[ \\t\\n\\r\\f]``
    everywhere, never ``\\s``: Java's ``\\s`` matches U+000B where
    RE2's does not — the engine-divergence class functions/portable.py
    exists for, which a ``\\s`` here would smuggle back into an
    oracle-compared chain (round-9 review). One capture group covers
    all three HTML value forms (double-quoted, single-quoted,
    unquoted); a JVM ``transform`` strips the quote pair afterwards.
    Matching is case-insensitive via ``(?i)``; values come back
    verbatim (no entity decode — feed through ``url_normalize`` next,
    the composed gate does exactly that). An explicitly empty
    ``href=\"\"`` yields '' — callers filter, as the gate does."""
    pat = (
        r"(?i)<a[ \t\n\r\f][^>]*href[ \t\n\r\f]*=[ \t\n\r\f]*"
        r"(\"[^\"]*\"|'[^']*'|[^ \t\n\r\f>\"']+)"
    )
    raw = F.regexp_extract_all(html, F.lit(pat), 1)
    return F.transform(
        raw,
        lambda v: F.when(
            v.startswith('"') | v.startswith("'"),
            F.substr(v, F.lit(2), F.length(v) - 2),
        ).otherwise(v),
    )
