"""Pin every SQL-mirror spelling of the shared cross-engine expressions
to the canonical constants (round 14, review r14a #5): the BPE token
regex and the normalize_text mirror each appear in many oracle strings;
this test canonicalizes whitespace and asserts every occurrence equals
_SQL_BPE_TOKEN_RE / _SQL_NORM_TEXT — editing one spelling fails the
suite until all match, which is the drift protection the shared
_MH_*/_KM_*/_PACK_* constants give their families."""

from __future__ import annotations

import re

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
    ORACLE_SQL,
    _PORTABLE_TOKS_SQL,
    _SQL_BPE_TOKEN_RE,
    _SQL_NORM_TEXT,
)


def _squash(s: str) -> str:
    # collapse formatting whitespace (indentation/line breaks around
    # parens) without touching spaces inside SQL string literals' char
    # classes — multi-line spellings canonicalize, literal-content
    # differences do not
    s = re.sub(r"[ \n]+", " ", s)
    return re.sub(r"\( ", "(", s)


def test_sql_constants_derive_from_spark_side():
    """ADVICE r14 #1: the registry constants must BE the Spark-side
    spellings, not parallel literals — otherwise an edit to TOKEN_RE or
    PORTABLE_WS_PLUS drifts the two engines while the occurrence tests
    below stay green (they only pin mirror-vs-registry agreement)."""
    from wordpress_sql_to_contentstack_exporter_spark.functions.portable import (
        PORTABLE_WS_PLUS,
    )
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import TOKEN_RE

    assert _SQL_BPE_TOKEN_RE is TOKEN_RE
    assert PORTABLE_WS_PLUS in _SQL_NORM_TEXT
    # the translate hazards in the SQL mirror match portable_lower's:
    # İ→i before lower, ς→σ after (functions/portable.py docstring)
    assert "'İ', 'i'" in _SQL_NORM_TEXT and "'ς', 'σ'" in _SQL_NORM_TEXT


def test_python_built_sql_constants_are_byte_stable():
    """Both constants are built from ``sql_portable_lower`` (the string
    the DuckDB parity test checks); the build must render exactly the
    text the oracle has always run, so no oracle digest moves."""
    assert _SQL_NORM_TEXT == (
        "regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')),"
        " 'ς', 'σ'), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')"
    )
    assert _PORTABLE_TOKS_SQL == (
        "list_filter(string_split(translate(lower(translate(replace(replace("
        "replace(replace(replace(text, chr(10), ' '), chr(9), ' '), chr(13),"
        " ' '), chr(12), ' '), chr(11), ' '), 'İ', 'i')), 'ς', 'σ'), ' '),"
        " x -> x != '')"
    )


def test_bpe_token_regex_spellings_are_canonical():
    finder = re.compile(r"\[A-Za-z0-9\]\+\|\[\^A-Za-z0-9[^\]]*\]")
    hits = 0
    for name, sql in ORACLE_SQL.items():
        for m in finder.finditer(sql):
            assert m.group(0) == _SQL_BPE_TOKEN_RE, (name, m.group(0))
            hits += 1
    # EXACT count (review r14b #4): a drifted spelling that escapes the
    # finder would silently shrink the hit count under a >= floor; a
    # new mirror that adds an occurrence updates this number
    # deliberately.
    assert hits == 4  # html_quality, text_quality, fertility, pipeline


def test_normalize_text_spellings_are_canonical():
    # anchor on the inner translate chain, capture through the closing
    # regexp_replace args
    finder = re.compile(
        r"regexp_replace\(\s*translate\(lower\(translate\(trim\(text, ' '\), "
        r"'İ', 'i'\)\), 'ς', 'σ'\),\s*'\[ [^\]]*\]\+', ' ', 'g'\)"
    )
    canon = _squash(_SQL_NORM_TEXT)
    hits = 0
    for name, sql in ORACLE_SQL.items():
        for m in finder.finditer(sql):
            assert _squash(m.group(0)) == canon, (name, m.group(0)[:120])
            hits += 1
    # EXACT count — same rationale as the BPE gate above. 24 = the
    # normalize_text mirror's full census across ORACLE_SQL (dedup /
    # winnow / minhash-portable families + capstones + pipeline,
    # + 2 in r15's manifest_diff snapshot CTEs).
    assert hits == 24
