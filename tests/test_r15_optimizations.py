"""Focused equivalence pins for the round-15 optimizations.

Each r15 rewrite keeps an operator's output bit-identical while changing
its physical execution; these tests pin the old semantics as an inline
reference model so a future edit cannot silently drift the new form.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx
from wordpress_sql_to_contentstack_exporter_spark.operators.stats import (
    rolling_anomaly,
)


def _old_anchored_spans(df, *, text_col, id_col, span):
    """The pre-r15 positional anchor scan (sequence + per-position
    substr), kept verbatim as the reference model for the regex form."""
    t = F.col(text_col)
    n = F.length(t)
    last_start = n - span + 1
    positions = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(last_start, F.lit(0))),
            lambda i: F.when((i == 1) | (t.substr(i - 1, F.lit(1)) == " "), i),
        ),
        lambda p: p.isNotNull(),
    )
    spans = F.when(
        n >= span, F.transform(positions, lambda p: t.substr(p, F.lit(span)))
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col).alias("id"), F.explode(spans).alias("s"))


ADVERSARIAL = [
    (1, " leading space " + "x" * 40),
    (2, "short"),
    (3, "a" * 15),            # len == span - 1
    (4, "a" * 16),            # len == span exactly
    (5, ("word " * 12) + "\nnew line here " + ("tok " * 8)),  # newline inside spans
    (6, "double  space " + "y " * 20),
    (7, None),
    (8, ""),
    (9, " " * 20),            # all spaces
    (10, "café résumé " * 6),  # multi-byte chars
    (11, "t" * 16 + " tail"),
]


def _anchored_span_hashes(
    df: DataFrame, *, text_col: str, id_col: str, span: int
) -> DataFrame:
    """(id, h) rows: ``xxhash64`` of each anchored span, hashed INSIDE
    the span array before the explode so the 64-char span strings are
    never materialized as row fields — the counting passes only ever
    consume the hash (r15; the explode emits 8-byte longs instead of
    ~``span``-byte strings)."""
    arr = tx._anchored_span_arrays(df, text_col=text_col, id_col=id_col, span=span)
    return arr.select(
        "id", F.explode(F.transform("sp", lambda s: F.xxhash64(s))).alias("h")
    )


def test_anchored_spans_regex_equals_positional(spark):
    """The r15 regex extraction (`(?s)(?= (.{span}))` + position-1
    prepend) yields exactly the positional form's span multiset per doc
    on adversarial rows: leading/double spaces, len < / == span,
    newlines crossing spans, NULL/empty/all-space text, multi-byte
    characters."""
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    span = 16
    new = tx._anchored_spans(df, text_col="text", id_col="doc_id", span=span)
    old = _old_anchored_spans(df, text_col="text", id_col="doc_id", span=span)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # and the fused-hash path hashes exactly those strings
    hashes = _anchored_span_hashes(
        df, text_col="text", id_col="doc_id", span=span
    )
    ref = old.select("id", F.xxhash64("s").alias("h"))
    assert hashes.exceptAll(ref).count() == 0
    assert ref.exceptAll(hashes).count() == 0


def _old_winnow_fingerprints(df, text_col="text", id_col="doc_id", *, k=8, w=4):
    """The pre-r15 hex-string winnow fold, kept verbatim as the
    reference model for the 16-byte-binary fold (binary byte order ==
    lowercase-hex lexicographic order, so selections must agree)."""
    from wordpress_sql_to_contentstack_exporter_spark.functions.portable import (
        PORTABLE_WS_PLUS,
        portable_lower,
    )

    norm = F.regexp_replace(
        portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS, " "
    )
    base = (
        df.select(F.col(id_col).alias("__wid"), norm.alias("__wt"))
        .withColumn("__wng", F.length("__wt") - F.lit(k - 1))
        .filter(F.col("__wng") >= 1)
    )
    grams_expr = F.transform(
        F.sequence(F.lit(1), F.col("__wng")),
        lambda i: F.struct(
            F.md5(F.col("__wt").substr(i, F.lit(k))).alias("h"),
            i.cast("long").alias("p"),
        ),
    )
    bound = base.select("__wid", "__wng", grams_expr.alias("__wgrams"))
    grams = F.col("__wgrams")
    n_grams = F.col("__wng")

    def pair(a, g):
        return F.when(g.isNotNull() & (g["h"] <= a["h"]), g).otherwise(a)

    m = grams
    for shift in range(1, w):
        shifted = F.slice(grams, shift + 1, F.greatest(n_grams - shift, F.lit(0)))
        m = F.zip_with(m, shifted, pair)
    n_windows = n_grams - F.lit(w - 1)
    picks = F.array_distinct(F.slice(m, 1, F.greatest(n_windows, F.lit(0))))
    rows = bound.select("__wid", F.explode(picks).alias("fp"))
    return rows.select(
        F.col("__wid").alias(id_col),
        F.col("fp.h").alias("fp_hash"),
        F.col("fp.p").alias("pos"),
    )


def test_winnow_binary_fold_equals_hex_fold(spark):
    """The r15 binary-md5 winnow fold selects exactly the fingerprints
    the hex-string fold selects (including ties, short docs, and
    multi-byte text) and emits identical lowercase-hex output."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "aaaaaaaaaaaaaaaaaaaaaa"),          # maximal gram ties
        (3, "short"),                            # < k after normalize
        (4, "  Padded   WS\tand\nlines  " * 4),  # ws collapse + case
        (5, "café résumé naïve " * 5),           # multi-byte
        (6, None),
        (7, "exactly8"),                         # len == k exactly
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = tx.winnow_fingerprints(df, k=8, w=4)
    old = _old_winnow_fingerprints(df, k=8, w=4)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def _old_moving_average(base):
    """The pre-r15 sliding RANGE frame, kept verbatim as the reference
    model for the growing-frame difference."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "epoch_sec",
        (F.sum("v_milli").over(w) / F.lit(1000.0) / F.count(F.lit(1)).over(w)).alias(
            "ma_1h"
        ),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


def test_moving_average_growing_frames_equal_sliding_range(spark):
    """The r15 two-growing-frame difference equals the direct sliding
    RANGE frame row for row, including boundary seconds exactly 3599 /
    3600 apart, same-second peers, and NULL values (an all-NULL frame
    after earlier non-NULL rows must stay NULL, not become 0.0)."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
        q_moving_average,
    )

    rows = []
    for i in range(300):
        user = i % 3
        # clustered seconds with exact 3599/3600 gaps and peer ties
        sec = 1_000_000 + (i // 3) * 450 + (0 if i % 7 else 3599 - (i % 2))
        # user 2 has a long all-NULL stretch after one non-null row
        val = None if (user == 2 and 5 < i < 200) or i % 13 == 0 else i * 7 % 900
        rows.append((i, user, val, sec))
    base = spark.createDataFrame(
        rows, "event_id long, user_id long, v_milli long, epoch_sec long"
    )
    wo = Window.partitionBy("user_id").orderBy("epoch_sec")
    w_cur = wo.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    w_old = wo.rangeBetween(Window.unboundedPreceding, -3600)
    zero = F.lit(0).cast("long")
    cv_1h = F.count("v_milli").over(w_cur) - F.count("v_milli").over(w_old)
    s_diff = F.coalesce(F.sum("v_milli").over(w_cur), zero) - F.coalesce(
        F.sum("v_milli").over(w_old), zero
    )
    s_1h = F.when(cv_1h == 0, F.lit(None).cast("long")).otherwise(s_diff)
    n_1h = F.count(F.lit(1)).over(w_cur) - F.count(F.lit(1)).over(w_old)
    new = base.select(
        "event_id", "user_id", "epoch_sec",
        (s_1h / F.lit(1000.0) / n_1h).alias("ma_1h"), n_1h.alias("n_1h"),
    )
    old = _old_moving_average(base)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_q_moving_average_matches_sliding_range_on_fixture(spark):
    """The shipped registry query (growing-frame form) equals the old
    sliding-RANGE spelling on the sf0.001 fixture — pins the -3600
    boundary of the subtracted frame against off-by-one edits."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
        SPARK_QUERIES,
    )
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = SPARK_QUERIES["moving_average"](spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    es = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)
    ).cast("long")
    base = e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
        es.alias("epoch_sec"),
    )
    want = _old_moving_average(base)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _old_rolling_anomaly(df, *, keys, order_by, value_col, window_rows=100,
                         min_points=30, n_sigma=3, scale=1024):
    """The pre-r15 sliding-frame form (O(window) per row), kept verbatim
    as the reference model for the prefix-sum rewrite."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    out = (
        df.withColumn("__v", v)
        .withColumn("w_n", F.count(F.lit(1)).over(w))
        .withColumn("w_sum", F.sum("__v").over(w))
        .withColumn("w_sumsq", F.sum(F.col("__v") * F.col("__v")).over(w))
    )
    dev = out["w_n"] * out["__v"] - out["w_sum"]
    var_n2 = out["w_n"] * out["w_sumsq"] - out["w_sum"] * out["w_sum"]
    flag = (out["w_n"] >= min_points) & (dev * dev > (n_sigma * n_sigma) * var_n2)
    return out.withColumn("is_anomaly", flag).drop("__v")


def test_rolling_prefix_sums_equal_sliding_frame_with_nulls(spark):
    """The r15 prefix-sum rolling windows equal the direct sliding-frame
    aggregates row for row, including NULL values (windowed sum is NULL
    iff the frame holds no non-NULL value), partition heads shorter than
    the window, and all-NULL leading runs."""
    rows = []
    for i in range(400):
        key = "a" if i % 3 else "b"
        # key 'b' starts with a long NULL run; scattered NULLs elsewhere
        val = None if (key == "b" and i < 90) or i % 17 == 0 else (i % 50) / 4.0
        rows.append((i, key, val))
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    kw = dict(keys=["k"], order_by=["event_id"], value_col="value",
              window_rows=8, min_points=3, n_sigma=3)
    new = rolling_anomaly(df, **kw)
    old = _old_rolling_anomaly(df, **kw)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
