"""Mechanical lint over every DuckDB oracle (VERDICT r6 #5).

Four driver rounds established a class of SQL constructs whose
semantics differ across DuckDB BUILDS — they pass the local gate and
red only in a foreign environment, with rows+schema matching and only
the value hash off (the most expensive failure signature to debug).
The confirmed/suspected families are documented in
``functions/portable.py`` (hazard families A-E); this test makes the
class un-reintroducible: every ``SQL_*`` string in the registry is
scanned, and any NEW use of a banned construct fails here, locally,
with a pointer to the doctrine — instead of next round, remotely, as
an unexplained hash red.

Allowlists pin the EXISTING uses that carry driver-green evidence
(listed with the round of proof); extending one is a deliberate,
reviewed act.
"""

from __future__ import annotations

import re

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import ORACLE_SQL

DOCTRINE = "see functions/portable.py hazard families + tests/test_oracle_lint.py"


def _strip(sql: str) -> str:
    """Remove ``--`` comments and single-quoted literals so the lint
    matches CODE, not prose or string contents."""
    no_comments = re.sub(r"--[^\n]*", "", sql)
    return re.sub(r"'(?:[^']|'')*'", "''", no_comments)


def _sites(pattern: str) -> set[tuple[str, str]]:
    out = set()
    for name, sql in ORACLE_SQL.items():
        for m in re.finditer(pattern, _strip(sql)):
            out.add((name, re.sub(r"\s+", " ", m.group(0)).strip()))
    return out


# Family A: round() on doubles. Allowed ONLY on quantized 2-decimal
# columns x 10^k, where the product is near-integer by construction and
# both engines' round-to-integer agrees on the identical double
# (driver-green: the money columns since r1; value*1000 via
# moving_average/gapfill in r6). Everything else: floor(x * 2^k).
ROUND_ALLOWED_ARGS = {
    "l_discount * 100",
    "l_extendedprice * 100",
    "l_quantity * 100",
    "o_totalprice * 100",
    "o.o_totalprice * 100",
    "c_acctbal * 100",
    "c.c_acctbal * 100",
    "value * 100",
    "value * 1000",
}


def test_family_a_round_on_doubles_is_allowlisted():
    offenders = {
        (name, arg.strip())
        for name, site in _sites(r"round\([^)]*\)")
        for arg in [site[len("round(") : -1]]
        if arg.strip() not in ROUND_ALLOWED_ARGS
    }
    assert not offenders, (
        f"new round() on a double in an oracle: {sorted(offenders)} — "
        f"near-integer quantized args only; else floor(x * 2^k). {DOCTRINE}"
    )


# Family B: bracket list slices t[i:j]. One proven-green site
# (ngram_jaccard, driver-green r1-r5).
SLICE_ALLOWED = {("ngram_jaccard", "[i:i+2]")}


def test_family_b_bracket_slices_are_allowlisted():
    sites = _sites(r"\[\s*[\w()+\- ]+:\s*[\w()+\- ]+\s*\]")
    offenders = sites - SLICE_ALLOWED
    assert not offenders, (
        f"bracket list slice in an oracle: {sorted(offenders)} — slice "
        f"end-inclusivity is build-sensitive; use t[i] element access or "
        f"list_slice(). {DOCTRINE}"
    )


# Family C: generate_subscripts — banned outright since the r6
# embedding_centroids red; zero remaining uses.
def test_family_c_generate_subscripts_is_banned():
    offenders = _sites(r"generate_subscripts")
    assert not offenders, (
        f"generate_subscripts in an oracle: {sorted(offenders)} — its "
        f"unnest zip pairing is version-sensitive; unnest (index, value) "
        f"structs instead. {DOCTRINE}"
    )


# Family D: string_split_regex over text that CONTAINS newlines. The
# static proxy: an oracle that CONSTRUCTS multi-line text (a chr(10)
# concatenation) must not regex-split anything. chr(10) as a
# string_split DELIMITER (the line stage) is fine and driver-proven.
def test_family_d_no_regex_split_on_constructed_multiline_text():
    offenders = [
        name
        for name, sql in ORACLE_SQL.items()
        if "string_split_regex" in _strip(sql)
        and re.search(r"\|\|\s*chr\(10\)", _strip(sql))
    ]
    assert not offenders, (
        f"oracle regex-splits text it built with chr(10) concatenation: "
        f"{offenders} — the r6 repetition red's differentiator; use "
        f"_PORTABLE_TOKS_SQL (replace-then-split). {DOCTRINE}"
    )


# Family F: HUGEINT-typed output columns. DuckDB's sum(BIGINT) returns
# HUGEINT (int128); how a comparator RENDERS an int128 (int vs float64
# vs Decimal) is a client/build choice, so a raw sum leaking into the
# compared output hash-diverges in a foreign environment while every
# value is numerically identical. This was THE round-6 failure class:
# the four driver reds (repetition, repetition_grams, rolling_anomaly,
# embedding_centroids) were exactly the four window queries emitting a
# HUGEINT column, and all 46 greens emitted none. Unlike families A-E
# this one is checked by TYPE, not by regex: every oracle actually
# runs on DuckDB (sf0.001 — the shapes, not the volume, matter) and
# its result column types are inspected.
def test_family_f_no_hugeint_or_decimal_output_columns():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    offenders = {}
    for name, sql in ORACLE_SQL.items():
        rel = con.sql(sql)
        hits = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if str(ty) in ("HUGEINT", "UHUGEINT")
            or str(ty).startswith("DECIMAL")
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"oracle emits HUGEINT/DECIMAL columns: {offenders} — cast "
        f"sums to ::BIGINT so both engines' outputs are the same "
        f"physical type. {DOCTRINE}"
    )


# Family E: raw-timestamp ORDER BY inside a window or ordered
# aggregate. Integer epoch_us(ts) keys order identically regardless of
# an engine's parquet timestamp decode precision.
# Pre-doctrine sites carrying direct driver-green evidence (raw-ts
# ordering demonstrably agreed in the driver env: window_latest_event /
# sessionize r1-r5, event_transitions / session_paths r6). New queries
# must use the integer key.
TS_ORDER_ALLOWED = {
    "window_latest_event",
    "sessionize",
    "event_transitions",
    "session_paths",
}


def test_family_e_no_raw_ts_window_ordering():
    pat = re.compile(r"ORDER BY\s+ts\b", re.IGNORECASE)
    offenders = [
        name
        for name, sql in ORACLE_SQL.items()
        if name not in TS_ORDER_ALLOWED
        and any(
            pat.search(line)
            for line in _strip(sql).splitlines()
            # only window/agg internal orderings — a final result ORDER BY
            # doesn't affect the order-insensitive hash compare
            if "OVER" in line or "list(" in line or "string_agg" in line
        )
    ]
    assert not offenders, (
        f"window/aggregate ordered by raw ts in an oracle: {offenders} — "
        f"order by epoch_us(ts) instead. {DOCTRINE}"
    )


# Family G is a PACKAGE-SOURCE lint, not an oracle-SQL one: Spark
# expressions that draw per-row values nondeterministically
# (monotonically_increasing_id, rand/randn, spark_partition_id) are
# banned from the package. The failure mode (VERDICT r7 #1): such a
# value becomes a SHUFFLE KEY (a salt, a synthetic group id, a
# repartition column), and Spark's fault tolerance recomputes map tasks
# after a fetch failure or executor loss — a recomputed row can draw a
# DIFFERENT value than the one some reducers already consumed, so rows
# (or partial aggregates) are duplicated or dropped. Failure-free local
# runs are multiset-identical either way, so no oracle can catch it;
# only this lint can. Deterministic replacement: xxhash64 over a unique
# id / the whole row (operators/skew.py and operators/temporal.py carry
# the worked fix).
# NOTE the matching is over TOKENIZED code re-joined with single spaces
# ("F.rand()" reads "F . rand ( )"), so qualifier-anchored patterns like
# \bF\.rand can never fire (round-8 review finding) — match the bare
# call name with optional whitespace instead; any rand/randn CALL in
# package code is banned regardless of how it was imported.
_G_BANNED = re.compile(
    r"monotonically_increasing_id|spark_partition_id|\brandn?\s*\("
)


def test_family_g_no_nondeterministic_row_values_in_package_source():
    import io
    import pathlib
    import tokenize

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "wordpress_sql_to_contentstack_exporter_spark"
    )
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        # keep only CODE tokens: comments and docstrings may (and do)
        # discuss the banned constructs when documenting the hazard
        code_tokens = []
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type in (tokenize.COMMENT, tokenize.STRING):
                continue
            code_tokens.append(tok)
        code = " ".join(t.string for t in code_tokens)
        for m in _G_BANNED.finditer(code):
            offenders.append((str(py.relative_to(pkg)), m.group(0)))
    assert not offenders, (
        f"nondeterministic per-row value in package code: {offenders} — "
        f"these become shuffle keys and break under task recompute; use "
        f"xxhash64 over unique columns instead. {DOCTRINE}"
    )


def test_family_g_patterns_match_tokenized_spellings():
    """The lint matches space-joined token streams; pin that the common
    spellings of every banned construct actually fire (round-8 review
    finding: the original F\\.rand pattern could never match)."""
    import io
    import tokenize

    def code_of(src: str) -> str:
        toks = [
            t.string
            for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in (tokenize.COMMENT, tokenize.STRING)
        ]
        return " ".join(toks)

    for src in (
        "x = F.rand()",
        "x = F.randn(42)",
        "x = rand(seed=1)",
        "x = functions.rand()",
        "i = F.monotonically_increasing_id()",
        "p = spark_partition_id()",
    ):
        assert _G_BANNED.search(code_of(src)), src
    for src in ("x = operand(1)", "r = brand ( 2 )", "y = strand(3)"):
        assert not _G_BANNED.search(code_of(src)), src


# Family H: tied window orderings (VERDICT r11 "What's wrong" #1). The
# span-excision oracle was NONDETERMINISTIC under DuckDB's parallel
# window execution until a DISTINCT removed the duplicate (s, e) rows —
# 11/12 repeated runs disagreed, 0/12 after (SCALE.md's round-11 find).
# The hazard: a TIE-SENSITIVE window function (row_number / lag / lead /
# a ROWS-framed or collection aggregate) over an ORDER BY that is not
# total within its partition returns whichever peer order the scheduler
# produced. Mechanical classification of every `fn(...) OVER (...)`
# site in every oracle:
#   * safe if the FINAL ordering expression is a recognized row-unique
#     tiebreaker column (the repo's id/key columns),
#   * safe if the function is rank-like (rank / dense_rank /
#     percent_rank / cume_dist — tie-INsensitive by definition),
#   * safe if the function is a plain aggregate with a RANGE or default
#     frame (peers enter the frame together, so ties cannot reorder the
#     result; list()/string_agg stay tie-sensitive — element ORDER
#     within the frame is what ties scramble),
#   * otherwise the site must be in the audited H_ALLOWED list.
_H_UNIQUE_TIEBREAKERS = {
    # single-column-per-row keys of the fixture tables and derived
    # frames; "unique" means row-unique within any partition the
    # queries use them under (audited when added)
    "doc_id", "event_id", "vec_id", "bench_id", "neighbor_id",
    "o_orderkey", "c_custkey", "l_linenumber", "idx", "i", "pos",
    "term", "path", "domain",
}
_H_RANK_LIKE = {"rank", "dense_rank", "percent_rank", "cume_dist"}
_H_PLAIN_AGGS = {"sum", "count", "min", "max", "avg"}
H_ALLOWED = {
    # span/interval gaps-and-islands: (s, e) rows are made DISTINCT (or
    # are distinct by construction) immediately upstream, so the
    # ordering is total within (keys) — the DISTINCT is load-bearing
    # and commented as such at each site (round-11 find):
    "winnow_spans", "span_excise", "curation_capstone",
    "curation_capstone_soft",  # textual variant of the capstone: same
    # span chain, only the dedup verdict differs (r13)
    "merge_intervals",
    # scd2-style latest-version pick: version is unique per c_custkey
    # by the fixture's construction (one snapshot row per version);
    # driver-green since r5
    "upsert_snapshot",
    # kmeans/IVF assignment windows tiebreak on `cluster`, which is
    # row-unique within every vec_id partition BY CONSTRUCTION of the
    # `e CROSS JOIN centroids` frames (exactly one row per (vec_id,
    # cluster)) — audited per-oracle here rather than adding `cluster`
    # to the GLOBAL tiebreaker set, where a future oracle with
    # non-unique clusters would ride it silently (review r12b #3)
    "kmeans_lloyd", "ann_ivf_portable", "ann_pq_portable",
    "ann_ivfpq_portable",
}


def _h_window_sites():
    """(oracle, fn, body) for EVERY ``OVER (...)`` site — a balanced-
    paren scan, not a bounded-nesting regex (review r12 #3: a regex
    tolerating one paren level silently skipped global_rank's
    ``CAST(round(...))`` ordering — a skipped site is an unclassified
    site, defeating the lint). Sites whose body has no ORDER BY yield
    fn='' / body='' markers via the caller's coverage check."""
    for name, sql in ORACLE_SQL.items():
        s = _strip(sql)
        for m in re.finditer(r"\bOVER\s*\(", s, re.IGNORECASE):
            i, depth = m.end(), 1
            j = i
            while j < len(s) and depth:
                if s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                j += 1
            assert depth == 0, f"unbalanced OVER body in {name}"
            body = re.sub(r"\s+", " ", s[i : j - 1]).strip()
            # the window function: the identifier owning the call
            # directly before OVER — walk back over its balanced args
            head = s[: m.start()].rstrip()
            fn = ""
            if head.endswith(")"):
                k, depth2 = len(head) - 1, 0
                while k >= 0:
                    if head[k] == ")":
                        depth2 += 1
                    elif head[k] == "(":
                        depth2 -= 1
                        if depth2 == 0:
                            break
                    k -= 1
                fm = re.search(r"(\w+)\s*$", head[:k])
                fn = fm.group(1).lower() if fm else ""
            yield name, fn, body


def test_family_h_scanner_covers_every_over_site():
    """Every OVER in every oracle must be parsed with a resolvable
    function name — an unparsed site is an unclassified hazard."""
    n_scanned = 0
    for name, fn, body in _h_window_sites():
        assert fn, f"{name}: OVER site with unresolvable function: {body[:80]}"
        n_scanned += 1
    n_raw = sum(
        len(re.findall(r"\bOVER\s*\(", _strip(sql), re.IGNORECASE))
        for sql in ORACLE_SQL.values()
    )
    assert n_scanned == n_raw, (n_scanned, n_raw)


def _h_site_is_safe(fn: str, body: str, allowed: bool) -> bool:
    if fn in _H_RANK_LIKE:
        return True
    has_rows_frame = re.search(r"\bROWS\b", body, re.IGNORECASE) is not None
    if fn in _H_PLAIN_AGGS and not has_rows_frame:
        return True  # RANGE/default frame: peers share the frame
    # final ordering expression (strip any frame clause, then the last
    # comma-separated item, then ASC/DESC)
    order = re.split(r"ORDER\s+BY", body, flags=re.IGNORECASE)[1]
    order = re.split(r"\b(?:ROWS|RANGE)\b", order, flags=re.IGNORECASE)[0]
    last = order.split(",")[-1].strip()
    last = re.sub(r"\s+(?:ASC|DESC)\s*$", "", last, flags=re.IGNORECASE)
    last_ident = last.split(".")[-1].strip().lower()
    if last_ident in _H_UNIQUE_TIEBREAKERS:
        return True
    return allowed


def test_family_h_tied_window_orderings_are_audited():
    offenders = [
        (name, fn, body)
        for name, fn, body in _h_window_sites()
        if re.search(r"ORDER\s+BY", body, re.IGNORECASE)
        and not _h_site_is_safe(fn, body, name in H_ALLOWED)
    ]
    assert not offenders, (
        f"window over a potentially tied ORDER BY in an oracle: "
        f"{offenders} — append a row-unique tiebreaker, DISTINCT the "
        f"input (and comment it load-bearing), or audit + allowlist. "
        f"{DOCTRINE}"
    )


def test_family_h_flags_a_seeded_violation():
    """The classifier must go RED on the exact shape that shipped the
    round-11 nondeterminism: a ROWS-framed window ordered by non-unique
    derived columns with no tiebreaker and no allowlist entry."""
    seeded = (
        "max(e) OVER (PARTITION BY doc_id ORDER BY s, e "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    m = re.search(
        r"(\w+)\s*\([^()]*\)\s*OVER\s*\(([^()]*)\)", seeded, re.IGNORECASE
    )
    assert not _h_site_is_safe(m.group(1).lower(), m.group(2), allowed=False)
    # row_number with a tied ordering and default frame is also red
    assert not _h_site_is_safe("row_number", "PARTITION BY a ORDER BY score DESC", False)
    # ...while the audited/safe shapes stay green
    assert _h_site_is_safe("row_number", "PARTITION BY a ORDER BY score DESC, doc_id", False)
    assert _h_site_is_safe("rank", "PARTITION BY a ORDER BY score DESC", False)
    assert _h_site_is_safe("sum", "ORDER BY bucket DESC", False)
    assert not _h_site_is_safe("list", "ORDER BY bucket DESC", False)
