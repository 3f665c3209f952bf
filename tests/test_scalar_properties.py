"""Batched randomized property tests: every scalar transform vs a direct
Python port of the reference's JS semantics, over one generated corpus
(single Spark action per function — hypothesis-style coverage without a
job per example)."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.functions import (
    decode_entities,
    host_strip,
    slugify,
    split_to_array,
)

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " -_/.:?&=%#@!~,;'\"()[]{}+*^$\\|<>\n\t"
    "éüñßØ漢字🙂"
)


def corpus(n=300, seed=1234):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        ln = rng.randint(0, 60)
        out.append("".join(rng.choice(ALPHABET) for _ in range(ln)))
    # edge cases
    out += ["", "/", "//", "http://h/", "a//b", "x&amp;y&amp;", "ALL CAPS", "  lead"]
    return out


def js_slugify(s: str) -> str:
    return re.sub(r"[^a-z0-9_-]+", "-", s.lower())


def js_host_strip_backtracking(s: str) -> str:
    """The reference's actual regex — EXPONENTIAL on slash-free inputs;
    only safe for short strings. Used to validate the rule port below."""
    return "/" + re.sub(r"^(?:\/\/|[^\/]+)*\/", "", s, count=1)


def js_host_strip(s: str) -> str:
    """Linear-time port of the JS regex semantics (same rule the engine
    implements): first maximal odd slash run, else last run's first
    slash, else no match."""
    m = re.search(r"(?<![/])(?:(?:[/]{2})*[/])(?![/])", s)
    if m:
        return "/" + s[m.end():]
    m = re.search(r"/[^/]*$", s)
    if m:
        return "/" + s[m.start():]
    return "/" + s


def js_decode(s: str) -> str:
    return s.replace("&amp;", "&")


def test_rule_port_equals_reference_regex_on_short_inputs():
    """The linear rule must equal the reference's backtracking regex
    everywhere it can be evaluated safely (short strings, exhaustive-ish
    slash patterns)."""
    rng = random.Random(7)
    cases = ["", "/", "//", "///", "////", "a/", "a//", "ab//cd", "a//b//c",
             "http://example.com", "http://example.com/", "//cdn/x", "/a/b",
             "a/b/c", "ab//", "x" * 15]
    for _ in range(500):
        ln = rng.randint(0, 14)
        cases.append("".join(rng.choice("ab/") for _ in range(ln)))
    for s in cases:
        assert js_host_strip(s) == js_host_strip_backtracking(s), repr(s)


def test_host_strip_no_redos(spark):
    """The engine must process pathological (slash-free / even-run) guids
    in linear time — the reference's regex would hang for ~2^2000 steps."""
    import time

    bad = ["x" * 2000, "ab" + "//" + "y" * 2000, "/" * 2001 + "z" * 500]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(bad)], "i long, t string")
    t0 = time.time()
    rows = df.select("i", host_strip(F.col("t")).alias("h")).collect()
    assert time.time() - t0 < 30
    got = {r["i"]: r["h"] for r in rows}
    assert got[0] == "/" + bad[0]  # no slash -> no match -> passthrough
    assert got[1] == "//" + "y" * 2000  # even run -> strip through its first '/'
    assert got[2] == "/" + "z" * 500  # odd run of 2001 -> strip whole run


def test_scalar_functions_match_js_ports(spark):
    texts = corpus()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = df.select(
        "i",
        slugify(F.col("t")).alias("slug"),
        host_strip(F.col("t")).alias("strip"),
        decode_entities(F.col("t")).alias("dec"),
        F.array_join(split_to_array(F.col("t"), ","), "\x00").alias("split"),
    ).collect()
    for r in rows:
        t = texts[r["i"]]
        assert r["slug"] == js_slugify(t), repr(t)
        assert r["strip"] == js_host_strip(t), repr(t)
        assert r["dec"] == js_decode(t), repr(t)
        assert r["split"] == "\x00".join(t.split(",")), repr(t)


def test_let_binding_is_value_and_null_transparent(spark):
    """functions.expr.let: let(x, f) must equal f(x) for values AND for
    NULL (array(x)[0] is x) — the transparency that makes it safe to
    wrap any expression purely for evaluation-count reasons."""
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.functions.expr import let

    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, "")], "id long, s string"
    )
    out = df.select(
        "id",
        let(F.upper(F.col("s")), lambda v: F.concat(v, v)).alias("via_let"),
        F.concat(F.upper(F.col("s")), F.upper(F.col("s"))).alias("direct"),
        let(F.split(F.col("s"), ""), lambda a: F.size(a)).alias("arr_let"),
        F.size(F.split(F.col("s"), "")).alias("arr_direct"),
    ).collect()
    for r in out:
        assert r.via_let == r.direct, r
        assert r.arr_let == r.arr_direct, r
