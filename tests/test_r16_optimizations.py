"""Equivalence pins for the round-16 optimizations: each rewrite ships
with the OLD formulation kept verbatim in the test so the two plans are
proved row-identical on corpora that exercise the edge the rewrite
touched (guide §1 discipline — a faster plan that changes any declared
result is a regression, not an optimization).

1. setsim_join's df>=2-filtered broadcast vocabulary attach (left join
   + coalesce(dfc, 1)) vs the unfiltered inner-join attach: identical
   rarest-first order, including df=1 shingles and hash ties.
2. _anchored_span_hash_counts (in-array run-length) vs the exploded
   groupBy(h, id) pre-aggregation: identical (id, h, c) multisets,
   including within-doc repeats, empty/NULL/short docs.
3. winnow_overlap on 16-byte binary fingerprints end-to-end vs the
   hex-keyed pipeline: identical pair sets and counts, including
   boilerplate-capped fingerprints.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

from test_r15_optimizations import _anchored_span_hashes


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- setsim


def test_setsim_filtered_broadcast_attach_equals_unfiltered(spark):
    """df=1 shingles order via coalesce's literal 1 exactly as via the
    frequency table; df>=2 shingles via the (broadcast) table — the
    sorted_g arrays, hence candidates and verified pairs, must match
    the unfiltered inner-join attach row for row. The corpus mixes
    unique-shingle docs (df=1 everywhere), exact duplicates (every
    shingle df>=2), partial overlaps, and degenerate docs (one token:
    no bigram; empty; NULL)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),       # near dup of 1
        (4, "totally unique words appear here once"),    # all df=1
        (5, "singleton"),                                # no bigram
        (6, ""),                                         # empty
        (7, None),                                       # NULL text
        (8, "alpha beta xi omicron pi rho"),             # shares one bigram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def old_attach(tdf):
        """Pre-r16 ordered build: unfiltered dfreq + inner join."""
        toks = F.filter(
            F.split(
                dd.portable_lower(F.trim(F.col("text"))), dd.PORTABLE_WS_PLUS
            ),
            lambda t: t != "",
        )
        tok_df = tdf.select(F.col("doc_id").alias("id"), toks.alias("__toks"))
        n = F.size(F.col("__toks"))
        grams = F.when(
            n >= 2,
            F.array_distinct(
                F.zip_with(
                    F.slice(F.col("__toks"), F.lit(1), n - 1),
                    F.slice(F.col("__toks"), F.lit(2), n - 1),
                    lambda a, b: F.xxhash64(F.concat_ws(" ", a, b)),
                )
            ),
        ).otherwise(F.array().cast("array<long>"))
        sets = tok_df.select("id", grams.alias("g")).filter(F.size("g") > 0)
        ex = sets.select("id", F.explode("g").alias("h"))
        dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
        return (
            ex.join(dfreq, "h")
            .groupBy("id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dfc", "h"))),
                    lambda s: s["h"],
                ).alias("sorted_g")
            )
        )

    def new_attach(tdf):
        """The shipped r16 build, re-derived through the operator's own
        code path by comparing the final outputs too (below); here the
        intermediate sorted_g order is pinned directly."""
        toks = F.filter(
            F.split(
                dd.portable_lower(F.trim(F.col("text"))), dd.PORTABLE_WS_PLUS
            ),
            lambda t: t != "",
        )
        tok_df = tdf.select(F.col("doc_id").alias("id"), toks.alias("__toks"))
        n = F.size(F.col("__toks"))
        grams = F.when(
            n >= 2,
            F.array_distinct(
                F.zip_with(
                    F.slice(F.col("__toks"), F.lit(1), n - 1),
                    F.slice(F.col("__toks"), F.lit(2), n - 1),
                    lambda a, b: F.xxhash64(F.concat_ws(" ", a, b)),
                )
            ),
        ).otherwise(F.array().cast("array<long>"))
        sets = tok_df.select("id", grams.alias("g")).filter(F.size("g") > 0)
        ex = sets.select("id", F.explode("g").alias("h"))
        dfreq = (
            ex.groupBy("h")
            .agg(F.count(F.lit(1)).alias("dfc"))
            .filter(F.col("dfc") >= 2)
        )
        return (
            ex.join(F.broadcast(dfreq), "h", "left")
            .withColumn("dfc", F.coalesce(F.col("dfc"), F.lit(1).cast("long")))
            .groupBy("id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dfc", "h"))),
                    lambda s: s["h"],
                ).alias("sorted_g")
            )
        )

    old_rows = {r["id"]: r["sorted_g"] for r in old_attach(df).collect()}
    new_rows = {r["id"]: r["sorted_g"] for r in new_attach(df).collect()}
    assert old_rows == new_rows

    # and the operator's full output at a permissive threshold (pairs
    # with any overlap qualify at tau=1/10 — exercises df=1 + df>=2)
    out = dd.setsim_join(
        df, id_col="doc_id", text_col="text", tau_num=1, tau_den=10
    )
    got = _collect_sorted(out)
    # exact dup pair (1,2) must verify at full intersection
    assert (1, 2, got[0][2], got[0][2]) in [
        (a, b, i, u) for (a, b, i, u) in got if (a, b) == (1, 2)
    ]


# ----------------------------------------------- anchored span counts


def test_anchored_span_hash_counts_equals_explode_groupby(spark):
    """The in-array run-length (sort + boundary positions) must emit
    exactly the multiset groupBy(h, id).count() over the exploded
    hashes produced — including docs whose anchored spans repeat
    within the doc (the run-length's whole reason), single-anchor
    docs, len < span, len == span, NULL and empty text."""
    span = 16
    rep = "abcdefg hij klm " * 4  # repeated 16-char spans at anchors
    rows = [
        (1, rep),
        (2, "a single short x"),          # len == span -> one anchor
        (3, "tiny"),                       # len < span -> none
        (4, ""),                           # empty
        (5, None),                         # NULL
        (6, "xx " + rep + " yy " + rep),   # heavy within-doc repeats
        (7, "word " * 40),                 # all spans identical
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    old = (
        _anchored_span_hashes(df, text_col="text", id_col="doc_id", span=span)
        .groupBy("h", "id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("id", "h", "c")
    )
    new = tx._anchored_span_hash_counts(
        df, text_col="text", id_col="doc_id", span=span
    )
    assert _collect_sorted(old) == _collect_sorted(new)
    # sanity: doc 7 really has within-doc repeated spans (c > 1)
    assert any(r["c"] > 1 for r in new.filter("id = 7").collect())


# ------------------------------------------------ winnow binary keys


def test_winnow_overlap_binary_pipeline_equals_hex_pipeline(spark):
    """winnow_overlap riding 16-byte binary fingerprints through
    distinct/frequency/cap/self-join must produce exactly the pairs and
    counts of the same pipeline keyed on the public lowercase-hex
    strings (hex(b1) == hex(b2) iff b1 == b2). Corpus plants a shared
    paragraph (true pair), boilerplate shared by ALL docs (cap), and
    unique filler."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    boiler = "copyright footer identical in every document of this corpus"
    rows = [
        (1, f"{shared} unique tail one {boiler}"),
        (2, f"{shared} other tail here {boiler}"),
        (3, f"completely different body text {boiler}"),
        (4, f"yet another unrelated document {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k, w, min_shared, cap = 8, 4, 2, 3

    def hex_pipeline():
        fps = (
            tx.winnow_fingerprints(df, "text", "doc_id", k=k, w=w)
            .select(F.col("doc_id").alias("id"), "fp_hash")
            .distinct()
        )
        freq = fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("n_docs"))
        kept = fps.join(
            freq.filter(F.col("n_docs") <= cap).select("fp_hash"), "fp_hash"
        )
        totals = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
        a = kept.select(F.col("id").alias("id_a"), "fp_hash")
        b = kept.select(F.col("id").alias("id_b"), "fp_hash")
        pairs = (
            a.join(b, "fp_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        return (
            pairs.join(
                totals.select(F.col("id").alias("id_a"), F.col("n_fp").alias("n_fp_a")),
                "id_a",
            )
            .join(
                totals.select(F.col("id").alias("id_b"), F.col("n_fp").alias("n_fp_b")),
                "id_b",
            )
            .select(
                F.col("id_a").alias("doc_id_a"),
                F.col("id_b").alias("doc_id_b"),
                "n_shared",
                F.col("n_fp_a").cast("long").alias("n_fp_a"),
                F.col("n_fp_b").cast("long").alias("n_fp_b"),
                F.expr("(n_shared * 1000) div n_fp_a").cast("long").alias(
                    "overlap_pm_a"
                ),
            )
        )

    old = _collect_sorted(hex_pipeline())
    new = _collect_sorted(
        tx.winnow_overlap(df, k=k, w=w, min_shared=min_shared, max_fp_docs=cap)
    )
    assert old == new
    assert any((a, b) == (1, 2) for (a, b, *_rest) in new)  # planted pair


# -------------------------------------------- trailing sums tie order


def test_trailing_sums_with_duplicate_order_keys(spark):
    """ADVICE r15 #2: _trailing_window_sums' two Window passes must
    stay equivalent to the one-pass sliding frame when the order_by
    keys carry DUPLICATES. With ties the per-row walk order is
    engine-chosen, so the pinned property is MULTISET equality of the
    full output (exceptAll both ways) on rows that duplicate (key,
    order) heavily — including NULL values inside tie groups."""
    from pyspark.sql import Window

    from wordpress_sql_to_contentstack_exporter_spark.operators.stats import (
        _trailing_window_sums,
    )

    rows = []
    for k in ("a", "b"):
        for t in range(12):
            for dup in range(5):  # 5 identical rows per (key, t)
                v = None if (t % 4 == 3) else float(t * 7 % 11)
                rows.append((k, t, v))
    df = spark.createDataFrame(rows, ["k", "t", "value"])
    W_ROWS = 7
    d = df.withColumn("__v", F.floor(F.col("value") * 1024).cast("long"))
    wo = Window.partitionBy("k").orderBy("t")

    new = _trailing_window_sums(d, wo, W_ROWS).select(
        "k", "t", "__v", "w_n", "w_sum", "w_sumsq"
    )
    sliding = wo.rowsBetween(-(W_ROWS - 1), Window.currentRow)
    dec = "decimal(38,0)"
    old = d.select(
        "k",
        "t",
        "__v",
        F.count(F.lit(1)).over(sliding).alias("w_n"),
        F.sum("__v").over(sliding).alias("w_sum"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec))
        .over(sliding)
        .cast("long")
        .alias("w_sumsq"),
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


# ------------------------------------------------- paragraph rebuild


def test_paragraph_dedup_inrow_rebuild_equals_shuffled_rebuild(spark):
    """r16 guide-§8 rewrite: reassembly by in-row element_at position
    lookups must equal the old shuffled collect_list(struct(pos, para))
    rebuild — including whitespace-only paragraphs, docs fully emptied
    by dedup, NULL/empty text, repeated paragraphs within one doc, and
    cross-doc boilerplate."""
    boiler = "shared footer line"
    rows = [
        (1, f"alpha one\n{boiler}\nbeta two"),
        (2, f"{boiler}\ngamma three\n{boiler}"),   # within-doc repeat too
        (3, boiler),                                # fully duplicate doc
        (4, "   \n  \n"),                           # whitespace-only paras
        (5, ""),
        (6, None),
        (7, "alpha one\ndelta four"),               # first para duplicate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def old_form(tdf):
        paras = (
            tdf.select(
                F.col("doc_id").alias("id"),
                F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "raw"),
            )
            .select("id", "pos", F.trim(F.col("raw")).alias("para"))
            .filter(F.col("para") != "")
            .withColumn("pkey", F.xxhash64(F.col("para")))
        )
        winners = paras.groupBy("pkey").agg(
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("first")
        )
        survivors = (
            paras.join(winners, "pkey")
            .filter(
                (F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos"))
            )
            .select("id", "pos", "para")
        )
        rebuilt = survivors.groupBy("id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        totals = paras.groupBy("id").agg(F.count(F.lit(1)).alias("n_paras"))
        base = tdf.select(F.col("doc_id").alias("id"))
        return (
            base.join(totals, "id", "left")
            .join(rebuilt, "id", "left")
            .select(
                F.col("id").alias("doc_id"),
                F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            )
        )

    old = old_form(df)
    new = dd.paragraph_dedup(df)
    assert old.schema == new.schema
    assert _collect_sorted(old) == _collect_sorted(new)


def test_boilerplate_removal_inrow_rebuild_equals_shuffled_rebuild(spark):
    """r16: remove_boilerplate_lines' in-row rebuild + in-array distinct
    document-frequency must equal the old exploded two-level aggregate
    and collect_list rebuild — including within-doc repeated lines
    (df counts DISTINCT docs), whitespace-only lines, fully-boilerplate
    docs, NULL/empty text, and a regex-special separator."""
    boiler = "cookie banner"
    rows = [
        (1, f"{boiler}\nalpha\n{boiler}\nbeta"),    # within-doc repeat
        (2, f"{boiler}\ngamma"),
        (3, f"{boiler}\ndelta"),
        (4, boiler),                                 # fully boilerplate
        (5, "  \n \n"),                              # whitespace only
        (6, ""),
        (7, None),
        (8, "epsilon\nzeta"),                        # no boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def old_form(tdf, min_docs=2, pct=40, sep="\n"):
        import re as _re

        lines = (
            tdf.select(
                F.col("doc_id").alias("id"),
                F.posexplode(F.split(F.col("text"), _re.escape(sep))).alias(
                    "pos", "raw"
                ),
            )
            .select("id", "pos", F.trim(F.col("raw")).alias("line"))
            .filter(F.col("line") != "")
            .withColumn("lkey", F.xxhash64(F.col("line")))
        )
        per_doc = lines.groupBy("lkey", "id").agg(F.count(F.lit(1)).alias("_c"))
        line_df = per_doc.groupBy("lkey").agg(F.count(F.lit(1)).alias("df_docs"))
        n_docs = tdf.select(F.count(F.lit(1)).alias("n_docs"))
        boiler_keys = (
            line_df.join(F.broadcast(n_docs))
            .filter(
                (F.col("df_docs") >= F.lit(min_docs))
                & (F.col("df_docs") * 100 >= F.col("n_docs") * F.lit(pct))
            )
            .select("lkey")
        )
        kept = lines.join(F.broadcast(boiler_keys), "lkey", "left_anti")
        rebuilt = kept.groupBy("id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        totals = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
        base = tdf.select(F.col("doc_id").alias("id"))
        return (
            base.join(totals, "id", "left")
            .join(rebuilt, "id", "left")
            .select(
                F.col("id").alias("doc_id"),
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            )
        )

    old = old_form(df)
    new = tx.remove_boilerplate_lines(df, min_docs=2, max_doc_ratio_pct=40)
    assert old.schema == new.schema
    assert _collect_sorted(old) == _collect_sorted(new)
    got = {r["doc_id"]: r for r in new.collect()}
    assert got[4]["n_kept"] == 0 and got[4]["text_clean"] == ""
    assert got[1]["n_lines"] == 4 and got[1]["n_kept"] == 2

    # regex-special separator stays literal
    df2 = spark.createDataFrame(
        [(1, "a|b|a"), (2, "a|c"), (3, "a")], ["doc_id", "text"]
    )
    o2 = old_form(df2, min_docs=2, pct=50, sep="|")
    n2 = tx.remove_boilerplate_lines(
        df2, min_docs=2, max_doc_ratio_pct=50, sep="|"
    )
    assert _collect_sorted(o2) == _collect_sorted(n2)
