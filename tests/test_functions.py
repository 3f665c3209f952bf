"""Scalar function library (SURVEY.md §2.f) — behavior vs the reference's
JS semantics, including property tests for the permalink compiler."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.functions import (
    blogname_of,
    compile_permalink,
    decode_entities,
    host_strip,
    iso8601,
    slugify,
)


def one(spark, col, **kwargs):
    import datetime

    schema_parts = []
    for k, v in kwargs.items():
        t = (
            "timestamp"
            if isinstance(v, datetime.datetime)
            else "long"
            if isinstance(v, int)
            else "string"
        )
        schema_parts.append(f"{k} {t}")
    df = spark.createDataFrame([tuple(kwargs.values())], ", ".join(schema_parts))
    return df.select(col.alias("out")).first()["out"]


@pytest.mark.parametrize(
    "url,expected",
    [
        ("http://example.com/a/b", "/a/b"),        # leftmost-first: scheme+host only
        ("http://example.com/blog/?p=10", "/blog/?p=10"),
        ("https://x.io/", "/"),
        ("//cdn.example.com/f.png", "/f.png"),
    ],
)
def test_host_strip_matches_js_regex(spark, url, expected):
    # JS: "/" + url.replace(/^(?:\/\/|[^\/]+)*\//, "") — posts.js:149
    js = "/" + re.sub(r"^(?:\/\/|[^\/]+)*\/", "", url)
    got = one(spark, host_strip(F.col("u")), u=url)
    assert got == js == expected


@pytest.mark.parametrize(
    "text,prefix,expected",
    [
        ("Bob B", "/author/", "/author/bob-b"),
        ("News & Views!", "/category/", "/category/news-views-"),
        ("already-ok_1", "", "already-ok_1"),
    ],
)
def test_slugify(spark, text, prefix, expected):
    assert one(spark, slugify(F.col("t"), prefix), t=text) == expected


def test_decode_entities_only_amp(spark):
    assert one(spark, decode_entities(F.col("t")), t="A &amp; B &lt;x&gt;") == "A & B &lt;x&gt;"


def test_iso8601_matches_js_toISOString(spark):
    ts = dt.datetime(2018, 12, 17, 7, 36, 8, 594000)
    assert one(spark, iso8601(F.col("t")), t=ts) == "2018-12-17T07:36:08.594Z"


# --- permalink compiler -----------------------------------------------------


def js_get_url(post: dict, guid: str, structure: str, siteurl: str) -> str:
    """Python port of the reference getURL (posts.js:58-141) used as the
    property-test oracle."""
    if structure == "":
        base = siteurl.split("/")
        blogname = base[-2] if base[-1] == "" else base[-1]
        parts = guid.split(blogname)
        return parts[1] if len(parts) > 1 else None
    segs = structure.split("/")
    if segs and segs[0] == "":
        segs = segs[1:]
    if segs and segs[-1] == "":
        segs = segs[:-1]
    date = post["post_date_gmt"]
    out = ""
    for s in segs:
        if s == "%post_id%":
            v = str(post["ID"])
        elif s == "%year%":
            v = str(date.year)
        elif s == "%monthnum%":
            v = f"{date.month:02d}"
        elif s == "%day%":
            v = f"{date.day:02d}"
        elif s == "%postname%":
            v = post["post_name"]
        else:
            v = s
        out = out + v + "/" if out.startswith("/") else out + "/" + v + "/"
    return out


STRUCTURES = [
    "/%year%/%monthnum%/%postname%/",
    "/%year%/%monthnum%/%day%/%postname%/",
    "/%post_id%",
    "/archive/%year%/%postname%",
    "%postname%/",
    "/p/%post_id%/x/%day%",
]


@pytest.mark.parametrize("structure", STRUCTURES)
def test_permalink_template_matches_reference(spark, structure):
    post = {
        "ID": 42,
        "post_name": "hello-world",
        "post_date_gmt": dt.datetime(2018, 3, 7, 1, 2, 3),
    }
    expected = js_get_url(post, "", structure, "http://example.com/blog")
    col = compile_permalink(
        structure,
        "http://example.com/blog",
        post_id=F.col("id"),
        date_gmt=F.col("d"),
        post_name=F.col("n"),
        guid=F.lit(""),
    )
    got = one(spark, col, id=post["ID"], d=post["post_date_gmt"], n=post["post_name"])
    assert got == expected


@pytest.mark.parametrize(
    "siteurl,expected_blog",
    [
        ("http://example.com/blog", "blog"),
        ("http://example.com/blog/", "blog"),
        ("http://example.com", "example.com"),
    ],
)
def test_blogname_of(siteurl, expected_blog):
    assert blogname_of(siteurl) == expected_blog


def test_permalink_empty_structure_fallback(spark):
    col = compile_permalink(
        "",
        "http://example.com/blog",
        post_id=F.lit(1),
        date_gmt=F.current_timestamp(),
        post_name=F.lit(""),
        guid=F.col("g"),
    )
    got = one(spark, col, g="http://example.com/blog/?p=99")
    js = js_get_url({}, "http://example.com/blog/?p=99", "", "http://example.com/blog")
    assert got == js == "/?p=99"


def test_permalink_property_random(spark):
    """Randomized structures (seeded) against the JS-port oracle."""
    import random

    rng = random.Random(7)
    tokens = ["%post_id%", "%year%", "%monthnum%", "%day%", "%postname%", "posts", "x1"]
    cases = []
    for _ in range(20):
        n = rng.randint(1, 4)
        body = "/".join(rng.choice(tokens) for _ in range(n))
        structure = ("/" if rng.random() < 0.7 else "") + body + ("/" if rng.random() < 0.5 else "")
        cases.append(structure)
    post = {"ID": 7, "post_name": "pn", "post_date_gmt": dt.datetime(2001, 11, 3, 5, 6, 7)}
    exprs = [
        compile_permalink(
            s, "http://e.com/b",
            post_id=F.col("id"), date_gmt=F.col("d"), post_name=F.col("n"), guid=F.lit(""),
        ).alias(f"c{i}")
        for i, s in enumerate(cases)
    ]
    df = spark.createDataFrame(
        [(post["ID"], post["post_date_gmt"], post["post_name"])], "id long, d timestamp, n string"
    )
    row = df.select(*exprs).first()
    for i, s in enumerate(cases):
        assert row[f"c{i}"] == js_get_url(post, "", s, "http://e.com/b"), s


def test_weekdays_before_matches_calendar_model(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.functions.dates import weekdays_before

    def model(d):
        day0 = dt.date(1970, 1, 1)
        return sum(
            1 for x in range(d) if (day0 + dt.timedelta(days=x)).weekday() < 5
        )

    days = list(range(0, 40)) + [365, 10000, 20000]
    df = spark.createDataFrame([(d,) for d in days], "d long")
    got = {
        r["d"]: r["w"]
        for r in df.select("d", weekdays_before(F.col("d")).alias("w")).collect()
    }
    for d in days:
        assert got[d] == model(d), d
    # business days in a week-spanning interval: Thu 1970-01-01 .. next Thu
    assert got[7] - got[0] == 5


def test_html_to_text_extraction(spark):
    from wordpress_sql_to_contentstack_exporter_spark.functions import html_to_text

    rows = [
        # inline tag separates words; block content dropped wholesale
        (1, 'a<br>b<script>if (1 < 2) { x = "<p>"; }</script>c'),
        # comments (multiline) dropped; entities decoded in safe order:
        # &amp;lt; must yield literal '&lt;' not '<'
        (2, "x<!-- note\nnote -->y &amp;lt; &lt;tag&gt;"),
        # style block + whitespace collapse + trim
        (3, "  <style>p { color: red; }</style> hello   world "),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {
        r["id"]: r["t"]
        for r in df.select("id", html_to_text("html").alias("t")).collect()
    }
    assert got[1] == "a b c"
    assert got[2] == "x y &lt; <tag>"
    assert got[3] == "hello world"
    assert got[4] is None


def test_html_to_text_case_insensitive_and_bare_angles(spark):
    """Round-8 review findings: uppercase tags must strip; prose with
    unescaped comparison signs must NOT be eaten as a pseudo-tag."""
    from wordpress_sql_to_contentstack_exporter_spark.functions import html_to_text

    rows = [
        (1, '<SCRIPT>var tracker=1;</SCRIPT>hello <P>world</P>'),
        (2, "margins <10% while growth >5%"),
        (3, "a <Br/>b <DIV CLASS='x'>c</DIV>"),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {
        r["id"]: r["t"]
        for r in df.select("id", html_to_text("html").alias("t")).collect()
    }
    assert got[1] == "hello world"
    assert got[2] == "margins <10% while growth >5%"
    assert got[3] == "a b c"
