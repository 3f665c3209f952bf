"""The build layer of the dedup family: wide expressions are SQL text.

``simhash_df``, ``simhash_blocked_pairs_from_sigs``,
``simhash_portable_signatures``, the MinHash LSH family and
``hyperplane_signature`` build their wide expressions (per-bit
aggregates, sign folds, combo keys, the intact-block mask, literal lookup
tables) as SQL strings instead of one Python->JVM call per Column node.
These tests pin two things:

- the output equals the earlier Column-built forms, kept below as
  reference models, row for row (``exceptAll`` both ways);
- building ``simhash_neardups_blocked`` stays cheap in Python->JVM calls.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim
from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import spread_small_scan

# ---------------------------------------------------------------------------
# Reference models: the Column-built forms the SQL-text builds replaced.
# ---------------------------------------------------------------------------


def _simhash_df_columns(df: DataFrame, text_col="text", id_col="doc_id", *, out_col="sh"):
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(dd.normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("th"))
    bit_sums = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("th", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(dd.SIMHASH_BITS)
        ],
    )
    value = None
    for b in range(dd.SIMHASH_BITS):
        piece = F.when(
            F.col(f"b{b}") * 2 > F.col("__n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        value = piece if value is None else value + piece
    return bit_sums.select("id", value.alias(out_col))


def _simhash_portable_signatures_columns(df: DataFrame, text_col="text", id_col="doc_id"):
    toks = F.filter(F.split(dd.normalize_text(F.col(text_col)), " "), lambda t: t != "")
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("sh:"), F.col("tok"))), 1, 15), 16, 10
    ).cast("long")
    per_tok = tf.select("id", "tf", h.alias("h"))
    sums = per_tok.groupBy("id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(dd.SIMHASH_PORTABLE_BITS)
        ]
    )
    simhash = None
    for j in range(dd.SIMHASH_PORTABLE_BITS):
        piece = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = piece if simhash is None else simhash + piece
    return sums.select("id", simhash.cast("long").alias("sh"))


def _blocked_pairs_columns(
    sigs: DataFrame,
    *,
    bits=dd.SIMHASH_BITS,
    max_hamming=8,
    combo_r=2,
    max_block_size=None,
    include_signatures=False,
):
    splits, subsets, first_combo = dd.simhash_combo_tables(bits, max_hamming, combo_r)
    key_width = max(sum(splits[b][1] for b in s) for s in subsets)
    combos = []
    for t, subset in enumerate(subsets):
        key = None
        for b in subset:
            off, w = splits[b]
            piece = F.shiftright(F.col("sh"), off).bitwiseAND(F.lit((1 << w) - 1))
            key = piece if key is None else F.shiftleft(key, w).bitwiseOR(piece)
        combos.append(F.shiftleft(F.lit(t).cast("long"), key_width).bitwiseOR(key))
    keyed = sigs.select("id", "sh", F.explode(F.array(*combos)).alias("k"))
    if max_block_size is not None:
        hot = (
            keyed.groupBy("k")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block_size)
            .select("k")
        )
        keyed = keyed.join(F.broadcast(hot), ["k"], "left_anti")
    left, right = keyed.alias("l"), keyed.alias("r")
    x = F.col("l.sh").bitwiseXOR(F.col("r.sh"))
    intact_mask = None
    for b, (off, w) in enumerate(splits):
        bit = F.when(
            F.shiftright(x, off).bitwiseAND(F.lit((1 << w) - 1)) == 0,
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        intact_mask = bit if intact_mask is None else intact_mask + bit
    out_cols = [
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        F.bit_count(x).alias("hamming"),
    ]
    if include_signatures:
        out_cols += [F.col("l.sh").alias("sh_a"), F.col("r.sh").alias("sh_b")]
    return (
        left.join(right, (F.col("l.k") == F.col("r.k")) & (F.col("l.id") < F.col("r.id")))
        .filter(F.bit_count(x) <= max_hamming)
        .filter(
            F.shiftright(F.col("l.k"), key_width)
            == F.element_at(F.lit(first_combo), (intact_mask + 1).cast("int")).cast("long")
        )
        .select(*out_cols)
    )


def _minhash_lsh_candidates_columns(
    df: DataFrame, *, num_hashes=16, bands=2, min_est_jaccard=0.5, max_bucket_size=None
):
    df = spread_small_scan(df)
    exploded = df.select(
        F.col("doc_id").alias("id"),
        F.explode(dd.word_shingle_hashes(F.col("text"), 3)).alias("sh"),
    )
    sigs = exploded.groupBy("id").agg(
        *[F.min(F.xxhash64("sh", F.lit(s))).alias(f"h{s}") for s in range(num_hashes)]
    )
    rows_per_band = num_hashes // bands
    h_cols = [f"h{i}" for i in range(num_hashes)]
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", *h_cols, F.explode(band_struct).alias("bb")).select(
        "id", *h_cols, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        small_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(small_buckets, ["band", "bucket"], "left_semi")
    left, right = banded.alias("l"), banded.alias("r")
    matches = None
    for i in range(num_hashes):
        piece = (F.col(f"l.h{i}") == F.col(f"r.h{i}")).cast("int")
        matches = piece if matches is None else matches + piece
    est = matches / F.lit(num_hashes)
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["id_a", "id_b"])
    )


def _hyperplane_signature_columns(vec: Column, planes) -> Column:
    vd = F.transform(vec, lambda x: x.cast("double"))
    bits = [
        F.when(
            sim.dot(vd, F.array(*[F.lit(float(p)) for p in plane])) >= 0, F.lit(1)
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    sig = bits[0].cast("long")
    for b in bits[1:]:
        sig = sig * 2 + b
    return sig


# ---------------------------------------------------------------------------
# The corpus: the dedup benchmark's base x variants recipe, smaller.
# ---------------------------------------------------------------------------


def _corpus_rows(bases: int = 60) -> list[tuple[int, str | None]]:
    """Per base (20-600 words in 40-word paragraphs, some ending in a
    shared boilerplate line): the base, an exact copy, the base plus one
    appended line and the base with one word replaced. Plus the edge
    texts: NULL, empty, whitespace only, one word."""
    rng = np.random.default_rng(20240501)
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "gu", "shi", "ron"]
    vocab = sorted(
        {"".join(syll[i] for i in rng.integers(0, len(syll), int(rng.integers(2, 4))))
         for _ in range(900)}
    )
    boiler = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), 8)) for _ in range(6)]
    rows: list[tuple[int, str | None]] = []
    for b in range(bases):
        n_words = int(np.exp(rng.uniform(np.log(20), np.log(600))))
        words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
        paras = [" ".join(words[i:i + 40]) for i in range(0, n_words, 40)]
        if rng.random() < 0.15:
            paras.append(boiler[int(rng.integers(len(boiler)))])
        edited = list(paras)
        j = int(rng.integers(len(edited)))
        toks = edited[j].split(" ")
        toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))]
        edited[j] = " ".join(toks)
        for v, p in enumerate([paras, paras, paras + [f"variant of {b}"], edited]):
            rows.append((b * 4 + v, "\n".join(p)))
    n = len(rows)
    rows += [(n, None), (n + 1, ""), (n + 2, "   \n "), (n + 3, "solo")]
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus_rows(), "doc_id long, text string").cache()


def _assert_same_rows(got: DataFrame, want: DataFrame, *, min_rows: int = 1) -> None:
    assert got.schema == want.schema
    # materialized first: Spark 4.1 fails to plan exceptAll over a
    # dropDuplicates (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the dropped
    # columns' First aggregates), whichever form built the frame
    got, want = got.localCheckpoint(), want.localCheckpoint()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() >= min_rows


def test_simhash_df_equals_column_form(corpus):
    _assert_same_rows(dd.simhash_df(corpus), _simhash_df_columns(corpus), min_rows=200)
    _assert_same_rows(
        dd.simhash_df(corpus, out_col="sig"), _simhash_df_columns(corpus, out_col="sig")
    )


def test_simhash_portable_signatures_equal_column_form(corpus):
    _assert_same_rows(
        dd.simhash_portable_signatures(corpus),
        _simhash_portable_signatures_columns(corpus),
        min_rows=200,
    )


@pytest.mark.parametrize(
    "max_hamming,combo_r,max_block_size",
    [(3, 2, 1000), (6, 2, None), (6, 2, 3), (4, 1, None)],
)
def test_blocked_pairs_equal_column_form(corpus, max_hamming, combo_r, max_block_size):
    sigs = _simhash_df_columns(corpus).localCheckpoint()
    got = dd.simhash_blocked_pairs_from_sigs(
        sigs, max_hamming=max_hamming, combo_r=combo_r,
        max_block_size=max_block_size,
    )
    want = _blocked_pairs_columns(
        sigs, max_hamming=max_hamming, combo_r=combo_r, max_block_size=max_block_size
    )
    _assert_same_rows(got, want, min_rows=60)


def test_portable_blocked_pairs_equal_column_form(corpus):
    sigs = _simhash_portable_signatures_columns(corpus).localCheckpoint()
    got = dd.simhash_blocked_pairs_from_sigs(
        sigs, bits=dd.SIMHASH_PORTABLE_BITS, max_hamming=7, max_block_size=100,
        include_signatures=True,
    )
    want = _blocked_pairs_columns(
        sigs, bits=dd.SIMHASH_PORTABLE_BITS, max_hamming=7, max_block_size=100,
        include_signatures=True,
    )
    _assert_same_rows(got, want, min_rows=60)


@pytest.mark.parametrize("bands,max_bucket_size", [(2, None), (4, 3)])
def test_minhash_lsh_candidates_equal_column_form(corpus, bands, max_bucket_size):
    got = dd.minhash_lsh_candidates(
        corpus, num_hashes=16, bands=bands, max_bucket_size=max_bucket_size
    )
    want = _minhash_lsh_candidates_columns(
        corpus, num_hashes=16, bands=bands, max_bucket_size=max_bucket_size
    )
    _assert_same_rows(got, want, min_rows=60)


def test_hyperplane_signature_equals_column_form(spark):
    rng = np.random.default_rng(3)
    planes = rng.standard_normal((12, 16)).tolist()
    vecs = spark.createDataFrame(
        [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(200)],
        "id long, v array<float>",
    )
    got = vecs.select("id", sim.hyperplane_signature(F.col("v"), planes).alias("sig"))
    want = vecs.select("id", _hyperplane_signature_columns(F.col("v"), planes).alias("sig"))
    _assert_same_rows(got, want, min_rows=200)
    assert got.select("sig").distinct().count() > 50  # the planes split the vectors


def test_simhash_blocked_build_makes_few_jvm_calls(spark, corpus, monkeypatch):
    """Building the blocked SimHash plan on a frame that is already read
    crosses into the JVM fewer than 1,000 times (the Column-built form
    took about 15,700 calls for the same build)."""
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    dd.simhash_neardups_blocked(corpus, max_hamming=6, combo_r=2)
    monkeypatch.undo()
    assert 0 < len(calls) < 1000, len(calls)
