"""Engine-portable text primitives (VERDICT r5 #3).

The two-round `repetition` driver red proved that the real cross-engine
risk class for text contracts is not float rounding but TEXT SEMANTICS:
regex character classes, Unicode case mapping, and NULL propagation
differ between a JVM engine (Spark) and a utf8proc/RE2 engine (DuckDB)
in ways that only manifest on adversarial inputs. Empirically measured
divergences in this engine pair (pinned by tests/test_portable_text.py):

1. ``\\s`` — Java's default ``\\s`` is exactly ``[ \\t\\n\\x0B\\f\\r]``;
   RE2's ``\\s`` is ``[ \\t\\n\\f\\r]`` WITHOUT vertical tab. A document
   containing U+000B tokenizes differently across engines.
2. ``lower()`` on U+0130 (Turkish dotted İ) — Java's full lowercase
   expands it to ``i`` + U+0307 (two codepoints); utf8proc maps it to
   plain ``i``.
3. ``lower()`` on final-position Σ — Java applies the Unicode
   context-sensitive rule (ΑΣ → ας); utf8proc lowers unconditionally
   (ΑΣ → ασ).

4. ``trim()`` — Spark strips ASCII space only; DuckDB's default strips
   Unicode Zs too (NBSP, U+3000 ideographic space — found by the
   round-6 hypothesis sweep on edge-positioned unicode spaces). Every
   oracle therefore writes ``trim(x, ' ')`` explicitly, which equals
   Spark's ``F.trim`` on all inputs.

Everything else probed (CRLF, form feed, string-internal NBSP and
ideographic space, combining marks, supplementary-plane codepoints, ß
under lower()) behaves identically — see the test suite.

The portable forms below are chosen so the SPARK side is a no-op on any
input Java handled before (``PORTABLE_WS`` is literally Java's ``\\s``
set) and both engines agree on every input:

- ``PORTABLE_WS``: the whitespace class written out explicitly. Both
  Java regex and RE2 interpret ``[ \\t\\n\\r\\f\\x0b]`` char-for-char
  identically.
- ``portable_lower``: translate İ→i BEFORE lowering (pre-empting
  Java's two-codepoint expansion), translate ς→σ AFTER (undoing the
  contextual final-sigma; Unicode case FOLDING maps both Σ and ς to σ,
  so this is the standard fold, not an invention).

Every oracle-gated tokenization chain (tokens, normalize_for_rep,
dedup canonicalization, token/term explodes, the SQL oracles) routes
through these.

ORACLE-SIDE HAZARD FAMILIES (VERDICT r6 #5 — these are DuckDB
constructs whose semantics proved or are suspected BUILD-sensitive;
tests/test_oracle_lint.py mechanically bans new uses in every
``SQL_*`` oracle, with a pinned allowlist for the proven-green sites):

A. ``round()`` on doubles — safe ONLY when the scaled argument is
   near-integer by construction (quantized 2-decimal columns x 10^k:
   the money columns, events.value); on continuous values the
   half-rule is a build choice. New contracts use
   ``floor(x * 2^k)`` — exact multiply, unambiguous floor.
B. Bracket list slices ``t[i:j]`` — end-inclusivity varies across
   builds (r5 #1c); use direct 1-based element access or the
   explicit-argument ``list_slice`` function.
C. ``generate_subscripts`` + ``unnest`` same-SELECT zip — pairing is
   version-sensitive; a dim misalignment scrambles values while
   preserving row count/schema (the r6 ``embedding_centroids``
   signature). Use a single ``unnest`` of (index, value) structs.
D. ``string_split_regex`` over text CONTAINING newlines — the r6
   driver red's differentiator: every plain-corpus regex-split oracle
   was green while both tripled-(multi-newline-)corpus ones were red.
   Use the replace-each-whitespace-then-``string_split(' ')`` chain
   (``plans/registry._PORTABLE_TOKS_SQL``) wherever the input can
   contain newlines.
E. Raw-timestamp ORDER BY inside window/aggregate ordering — decode
   precision (micros vs nanos parquet) is an engine choice; order by
   ``epoch_us(ts)`` / ``unix_micros`` integer keys instead.
F. Raw HUGEINT/DECIMAL result columns (r6 driver reds) — int128
   rendering is a client/fetch-path choice; sums of BIGINT get
   ``::BIGINT``. COROLLARY (r7, found by the sf0.1 sweep): ``::BIGINT``
   itself overflows when the exact sum exceeds 2^63 (corr_stats'
   Σx² ≈ 2.5e19 at sf0.1) — such columns are emitted as plain-integer
   STRINGS on both engines (``::VARCHAR`` / ``.cast("string")``), the
   one >64-bit rendering every engine agrees on. Scale the gate's
   inputs or stringify; never trust a cast to absorb a growing sum.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Explicit ASCII whitespace class == Java's default \s, accepted
# identically by RE2. Use everywhere a cross-engine contract tokenizes.
PORTABLE_WS = r"[ \t\n\r\f\x0b]"
PORTABLE_WS_PLUS = PORTABLE_WS + "+"


def portable_lower(col: Column) -> Column:
    """Unicode lowercase with the two JVM/utf8proc divergences removed.

    İ (U+0130) is mapped to plain ``i`` before the lowercase (Java's
    full mapping would expand it to ``i`` + combining dot above, one
    codepoint longer than utf8proc's result), and ς (U+03C2, the
    contextual final sigma Java emits at word ends) is normalized to σ
    after it — the Unicode case-folding target for both sigmas.

    The translates run ONLY when a hazard codepoint is present:
    Spark's ``StringTranslate`` re-materializes the string per call
    (measured +60-90% on the fingerprint/dedup hot paths at sf0.1 when
    applied unconditionally), while ``contains`` is an allocation-free
    byte scan. Exactly when {İ, Σ, ς} are all absent, plain ``lower``
    already equals the portable fold — İ is the only char whose Java
    lowercase is multi-codepoint, and Σ/ς the only context-sensitive
    pair — so the guard changes cost, never values (pinned by the
    adversarial + randomized suites, which exercise both branches).
    """
    hazard = col.contains("İ") | col.contains("Σ") | col.contains("ς")
    return F.when(
        hazard, F.translate(F.lower(F.translate(col, "İ", "i")), "ς", "σ")
    ).otherwise(F.lower(col))


def sql_portable_lower(expr: str) -> str:
    """The DuckDB rendering of ``portable_lower`` for oracle SQL."""
    return f"translate(lower(translate({expr}, 'İ', 'i')), 'ς', 'σ')"


#: Unicode SpecialCasing uppercase EXPANSIONS (1 codepoint -> several):
#: Java's full toUpperCase applies them, utf8proc's 1:1 map does not, so
#: each is pre-substituted with an equivalent decomposed LOWERCASE whose
#: per-codepoint uppercase both engines agree on. One table drives both
#: the Spark and the SQL rendering so the sides cannot drift.
#:
#: The table is generated EXHAUSTIVELY at import: every BMP codepoint
#: whose full uppercase is multi-codepoint (the Latin sharp-s and
#: ligatures, the Armenian ligatures, the apostrophe-n / j-caron /
#: Greek-diaeresis-accent precomposites, U+1E96-U+1E9A, and the
#: ~80-strong Greek polytonic breathing/iota-subscript families
#: U+1F50-U+1FFC, e.g. alpha-with-ypogegrammeni -> ALPHA+IOTA) — 102
#: entries, closing the round-6 review finding that a hand-rolled
#: 18-entry subset silently missed the rest. SpecialCasing defines no
#: expansion codepoints above U+FFFF, so BMP-exhaustive is exhaustive.
#: The substitution rule is verified per entry at import: dst is the
#: per-char lowercase of the full uppercase, accepted only when its
#: per-codepoint uppercase reproduces the full expansion — any future
#: Unicode-table drift that breaks the identity fails loudly here
#: instead of silently corrupting a gate. (Per-language conditional
#: mappings — Turkish dotted-I, Lithuanian accents — are locale-gated
#: in both engines' default paths and out of scope by construction.)
UPPER_EXPANSIONS: list[tuple[str, str]] = []
for _cp in range(0x10000):
    _c = chr(_cp)
    _u = _c.upper()
    if len(_u) <= 1:
        continue
    _dst = "".join(_ch.lower() for _ch in _u)
    if "".join(_ch.upper() for _ch in _dst) != _u or any(
        len(_ch.upper()) != 1 for _ch in _dst
    ):  # pragma: no cover - no current Unicode table violates this
        raise AssertionError(
            f"SpecialCasing expansion U+{_cp:04X} has no per-codepoint-safe "
            "decomposed lowercase; extend portable_upper's strategy"
        )
    UPPER_EXPANSIONS.append((_c, _dst))
del _cp, _c, _u, _dst

_UPPER_HAZARD_CLASS = "[" + "".join(src for src, _ in UPPER_EXPANSIONS) + "]"


def portable_upper(col: Column) -> Column:
    """Unicode uppercase minus the COMMON JVM/utf8proc divergences: the
    SpecialCasing expansion codepoints in ``UPPER_EXPANSIONS`` (ß and
    the Latin/Armenian ligature + Greek precomposed-diaeresis family —
    Java expands them, utf8proc maps 1:1, e.g. upper('straße') is
    STRASSE vs STRAẞE and upper('ﬁle') is FILE vs ﬁLE) are
    pre-substituted with a decomposed lowercase, after which both
    engines uppercase those codepoint-for-codepoint identically.
    Guarded by one regex scan so hazard-free strings pay a single pass.

    Coverage is EXHAUSTIVE as of round 7: ``UPPER_EXPANSIONS`` is
    generated from the full BMP at import (102 entries — including the
    U+1E96-U+1E9A and Greek polytonic families a hand-rolled earlier
    subset missed; SpecialCasing defines no expansions above U+FFFF),
    each entry verified by the import-time identity check. Parity for
    every entry across Spark / DuckDB / full uppercase is pinned by
    tests/test_portable_text.py::test_upper_expansions_table_is_exhaustive."""
    patched = col
    for src, dst in UPPER_EXPANSIONS:
        patched = F.replace(patched, F.lit(src), F.lit(dst))
    return F.when(
        col.rlike(_UPPER_HAZARD_CLASS), F.upper(patched)
    ).otherwise(F.upper(col))


def sql_portable_upper(expr: str) -> str:
    """The DuckDB rendering of ``portable_upper`` for oracle SQL."""
    out = expr
    for src, dst in UPPER_EXPANSIONS:
        out = f"replace({out}, '{src}', '{dst}')"
    return f"upper({out})"
