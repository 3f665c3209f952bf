"""Stratified sampling, deterministic splits, sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
    deterministic_split,
    pack_sequences,
    stratified_sample,
)


def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_stratified_sample_proportions_and_determinism(spark):
    d = docs(spark)
    fractions = {"en": 0.5, "de": 1.0}
    s1 = stratified_sample(d, "lang", fractions, key_col="doc_id")
    s2 = stratified_sample(d, "lang", fractions, key_col="doc_id")
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2  # hash-based: identical across runs

    counts = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"en", "de"}  # other strata dropped
    assert counts["de"] == totals["de"]  # fraction 1.0 keeps all
    assert 0.3 < counts["en"] / totals["en"] < 0.7  # ~0.5 within tolerance


def test_deterministic_split_partitions_everything(spark):
    d = docs(spark)
    out = deterministic_split(d, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id")
    n = d.count()
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n  # exactly one split per row
    assert counts["train"] / n > 0.7
    # stability: same assignment on re-run
    out2 = deterministic_split(d, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id")
    assert out.select("doc_id", "split").subtract(out2.select("doc_id", "split")).count() == 0


def test_pack_sequences_budget_and_coverage(spark):
    d = docs(spark)
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import token_count_ws

    with_toks = d.select("doc_id", token_count_ws(F.col("text")).alias("n_tokens"))
    packed = pack_sequences(
        with_toks, token_col="n_tokens", max_tokens=256, key_col="doc_id", n_shards=8
    )
    # every doc appears exactly once
    assert packed.count() == with_toks.count()
    assert packed.select("doc_id").distinct().count() == with_toks.count()
    # next-fit approximation bound: per-pack sum of capped tokens < 2*budget
    sums = (
        packed.withColumn("capped", F.least(F.col("n_tokens"), F.lit(256)))
        .groupBy("pack_id")
        .agg(F.sum("capped").alias("s"))
    )
    assert sums.filter(F.col("s") >= 2 * 256).count() == 0
    # packs are reasonably full on average (not one doc per pack)
    avg_fill = sums.agg(F.avg("s")).first()[0]
    assert avg_fill > 256 * 0.5


def test_epoch_upsample_whole_and_fractional_copies(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(i, "wiki") for i in range(200)]
        + [(i + 1000, "web") for i in range(200)]
        + [(i + 2000, "code") for i in range(100)],
        "doc_id long, source string",
    )
    out = epoch_upsample(
        df,
        domain_col="source",
        id_col="doc_id",
        epochs={"wiki": 2.5, "web": 0.4, "code": 3.0},
        seed=7,
    ).cache()
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    # wiki: every row 2 or 3 copies, mean ~2.5
    assert 200 * 2 <= by_src["wiki"] <= 200 * 3
    assert abs(by_src["wiki"] / 200 - 2.5) < 0.3
    # web: 0 or 1 copies, mean ~0.4
    assert by_src["web"] < 200
    assert abs(by_src["web"] / 200 - 0.4) < 0.15
    # code: exactly 3 copies each, copy_idx 0..2
    assert by_src["code"] == 300
    idxs = {r["copy_idx"] for r in out.filter("source = 'code'").select("copy_idx").distinct().collect()}
    assert idxs == {0, 1, 2}
    out.unpersist()


def test_epoch_upsample_deterministic_and_default(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame([(i, f"s{i%3}") for i in range(90)], "doc_id long, source string")
    kw = dict(domain_col="source", id_col="doc_id", epochs={"s0": 1.5}, seed=3)
    a = sorted((r["doc_id"], r["copy_idx"]) for r in epoch_upsample(df, **kw).collect())
    b = sorted((r["doc_id"], r["copy_idx"]) for r in epoch_upsample(df, **kw).collect())
    assert a == b  # exact multiset reproducibility, not just proportions
    # unlisted domains get default_epochs=1.0 -> exactly one copy
    one = epoch_upsample(df, **kw).filter("source != 's0'")
    assert one.count() == 60 and one.filter("copy_idx != 0").count() == 0


class TestDSIR:
    """DSIR importance scoring + Gumbel resampling (sampling.dsir_importance /
    dsir_resample): hand-checked log-ratio math, zero-gram docs, the
    reserved-name guard, and resample determinism/monotonicity."""

    def test_scores_match_hand_computation(self, spark):
        import math

        from pyspark.sql import functions as F

        from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
            dsir_importance,
        )

        raw = spark.createDataFrame(
            [(1, "a b a b"), (2, "c d c d"), (3, "x")],
            "doc_id long, text string",
        )
        target = raw.filter(F.col("doc_id") == 1)  # target looks like doc 1
        B = 64
        out = {
            r["doc_id"]: r
            for r in dsir_importance(raw, target, n_buckets=B).collect()
        }
        # hand recompute with the same hashed buckets (bucket ids from Spark)
        grams = {"a b": 2, "b a": 1, "c d": 2, "d c": 1}
        buckets = {
            r["g"]: r["b"]
            for r in spark.createDataFrame(
                [(g,) for g in grams], "g string"
            ).select("g", F.pmod(F.xxhash64("g"), F.lit(B)).alias("b")).collect()
        }
        nt, nr = 3, 6
        ct: dict[int, int] = {}
        cr: dict[int, int] = {}
        for g, c in grams.items():
            cr[buckets[g]] = cr.get(buckets[g], 0) + c
        for g in ("a b", "b a"):  # target corpus = doc 1 only
            ct[buckets[g]] = ct.get(buckets[g], 0) + grams[g]
        def w(bk):
            return math.floor(
                (math.log((ct.get(bk, 0) + 1) / (nt + B))
                 - math.log((cr[bk] + 1) / (nr + B))) * (1 << 20)
            )
        exp1 = 2 * w(buckets["a b"]) + w(buckets["b a"])
        exp2 = 2 * w(buckets["c d"]) + w(buckets["d c"])
        assert out[1]["score_scaled"] == exp1
        assert out[2]["score_scaled"] == exp2
        assert out[1]["score"] > out[2]["score"]  # target-like doc wins
        assert out[3]["n_grams"] == 0 and out[3]["score_scaled"] == 0

    def test_zero_and_short_docs_score_zero(self, spark):
        from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
            dsir_importance,
        )

        raw = spark.createDataFrame(
            [(1, "only"), (2, ""), (3, "two words")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dsir_importance(raw, raw).collect()}
        assert out[1]["score_scaled"] == 0 and out[2]["score_scaled"] == 0
        assert out[3]["n_grams"] == 1

    def test_reserved_output_name_guard(self, spark):
        import pytest

        from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
            dsir_importance,
        )

        raw = spark.createDataFrame(
            [(1, "a b", 0.0)], "doc_id long, text string, score double"
        )
        with pytest.raises(ValueError, match="reserved"):
            dsir_importance(raw, raw)

    def test_resample_deterministic_and_score_monotone(self, spark):
        from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
            dsir_resample,
        )

        rows = [(i, 100.0 if i < 5 else -100.0) for i in range(50)]
        scores = spark.createDataFrame(rows, "doc_id long, score double")
        a = sorted(r["doc_id"] for r in dsir_resample(scores, n=5).collect())
        b = sorted(r["doc_id"] for r in dsir_resample(scores, n=5).collect())
        assert a == b  # md5-derived Gumbel: stable across runs
        # a 200-nat score gap dwarfs Gumbel noise (~O(1)): the high-score
        # docs are selected with near-certainty
        assert a == [0, 1, 2, 3, 4]
        c = sorted(
            r["doc_id"] for r in dsir_resample(scores, n=5, seed=7).collect()
        )
        assert c == [0, 1, 2, 3, 4]


def test_leakage_safe_split_no_straddling_pair(spark):
    """The structural guarantee: members of one cluster always land in
    the SAME split (no near-dup pair straddles train/eval), proportions
    roughly follow the weights at the cluster level, and singleton
    clusters split independently."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import leakage_safe_split

    # 200 clusters of 3 members + 100 singletons
    rows = [(c * 10 + m, c) for c in range(200) for m in range(3)]
    rows += [(10_000 + i, 10_000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, cluster_id long")
    out = leakage_safe_split(
        df, {"train": 0.8, "eval": 0.2}, id_col="id"
    ).collect()
    assert len(out) == len(rows)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # every cluster's members share ONE verdict
    assert all(len(v) == 1 for v in by_cluster.values())
    evals = sum(1 for v in by_cluster.values() if v == {"eval"})
    # 300 clusters at p=0.2 -> ~60; allow a wide deterministic band
    assert 30 <= evals <= 95

    # determinism: re-running yields the identical assignment
    again = {
        r.id: r.split
        for r in leakage_safe_split(
            df, {"train": 0.8, "eval": 0.2}, id_col="id"
        ).collect()
    }
    assert again == {r.id: r.split for r in out}

    # NULL cluster ids are conserved (null-safe fan-out, review r11 #3):
    # all NULL-cluster rows share one verdict, none silently vanish
    withnull = spark.createDataFrame(
        [(1, 7), (2, 7), (3, None), (4, None)],
        "id long, cluster_id long",
    )
    nout = leakage_safe_split(
        withnull, {"train": 0.5, "eval": 0.5}, id_col="id"
    ).collect()
    assert len(nout) == 4
    null_splits = {r.split for r in nout if r.cluster_id is None}
    assert len(null_splits) == 1
    # ...and the shared verdict is the UNBIASED ''-keyed draw (ADVICE
    # r11: pre-fix, a NULLed hash made every WHEN comparison NULL and
    # sent every NULL cluster to the LAST weights entry — here 'eval').
    # md5('deterministic_split:42:')[:8] = '7ee65cbb' < '7fffffff', so
    # the ''-keyed uniform lands in the FIRST split: train, which the
    # biased fallthrough could never produce.
    assert null_splits == {"train"}


def test_pack_sequences_ffd_budget_coverage_and_efficiency(spark):
    """Round 13: FFD packs under the STRICT budget (no pack exceeds it —
    unlike the next-fit window approximation's <2x bound), covers every
    doc exactly once, and satisfies FFD's SOUND structural guarantees:
    at most one bin at most half full (the any-fit property — two such
    bins would have been merged), and the bin count is at least the
    capacity lower bound ceil(total/budget). (Review r13b #3: the
    earlier cross-variant assertion 'FFD <= next-fit bins' is NOT a
    theorem — a lucky key order can let next-fit beat FFD's re-sorted
    order — and the next-fit GATES use the overflow-window
    approximation whose counts aren't comparable under the same
    constraint, so that pin was fixture luck, not a property.)"""
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_ffd,
    )
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import token_count_ws

    d = docs(spark)
    with_toks = d.select("doc_id", token_count_ws(F.col("text")).alias("n_tokens"))
    shard = F.pmod(F.col("doc_id"), F.lit(4))
    ffd = pack_sequences_ffd(
        with_toks, token_col="n_tokens", max_tokens=256, key_col="doc_id",
        shard_expr=shard,
    )
    assert ffd.count() == with_toks.count()
    assert ffd.select("doc_id").distinct().count() == with_toks.count()
    sums = (
        ffd.withColumn("capped", F.least(F.col("n_tokens"), F.lit(256)))
        .groupBy("pack_id")
        .agg(F.sum("capped").alias("s"))
    )
    # STRICT budget: capped per-pack sums never exceed it
    assert sums.filter(F.col("s") > 256).count() == 0
    # any-fit property: at most one bin PER SHARD is <= half full
    # (a doc only opens a new bin when it fits no existing one, so two
    # half-empty bins in a shard cannot coexist)
    half_empty = (
        sums.filter(F.col("s") * 2 <= 256)
        .select(F.split(F.col("pack_id"), "-")[0].alias("shard"))
        .groupBy("shard")
        .count()
    )
    assert half_empty.filter(F.col("count") > 1).count() == 0
    # capacity lower bound per shard: n_bins >= ceil(total/budget)
    per_shard = (
        ffd.withColumn("capped", F.least(F.col("n_tokens"), F.lit(256)))
        .withColumn("shard", F.split(F.col("pack_id"), "-")[0])
        .groupBy("shard")
        .agg(
            F.countDistinct("pack_id").alias("bins"),
            F.sum("capped").alias("total"),
        )
    )
    bad = per_shard.filter(
        F.col("bins") < F.ceil(F.col("total") / F.lit(256))
    ).count()
    assert bad == 0
    # unused import guard: pack_sequences still referenced for the
    # efficiency REPORT comparison, which lives in the registry gate
    assert pack_sequences is not None


def test_pack_sequences_ffd_handworked_and_oversize(spark):
    """Hand-worked FFD on one shard (budget 100, lengths 90/80/30/20/110).
    The 110 doc CAPS to 100 and therefore sorts FIRST: 100->bin0 (full),
    90->bin1, 80->bin2, 30 fits nowhere (100/90/80 all overflow)->bin3,
    20->bin2 (80+20=100 exactly)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
        pack_sequences_ffd,
    )

    rows = [(1, 90), (2, 80), (3, 30), (4, 20), (5, 110)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences_ffd(
            df, token_col="n_tokens", max_tokens=100, key_col="doc_id",
            shard_expr=F.lit(0),
        ).collect()
    }
    assert out == {5: "0-0", 1: "0-1", 2: "0-2", 3: "0-3", 4: "0-2"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_tokens"):
        pack_sequences_ffd(df, token_col="n_tokens", max_tokens=0, key_col="doc_id")


def test_pack_id_prefix_float_and_string_shards(spark):
    """Review r14a #4: the pack-id prefix rule — integral floats spell
    as integers (no '3.0-0' ids), strings pass through, and the
    GROUPING key stays the raw expression (the first fix cast the key
    to long, which nulled string shards into one serial group)."""
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_ffd,
    )

    df = spark.createDataFrame(
        [(i, 10, "us-east" if i % 2 else "eu-west") for i in range(8)],
        "doc_id long, n_tokens long, region string",
    )
    # float shard expr, integral values -> integer prefixes
    for fn, kwargs in (
        (pack_sequences, {"strict": True}),
        (pack_sequences, {"strict": False}),
        (pack_sequences_ffd, {}),
    ):
        out = fn(
            df,
            max_tokens=20,
            key_col="doc_id",
            token_col="n_tokens",
            shard_expr=(F.col("doc_id") % 2).cast("double"),
            **kwargs,
        ).collect()
        prefixes = {r["pack_id"].rsplit("-", 1)[0] for r in out}
        assert prefixes <= {"0", "1"}, prefixes
    # review r14b #1/#2: FloatType arrives in pandas as np.float32
    # (NOT a Python float) and DecimalType str()s with its scale — the
    # prefix is now computed Spark-side by one shared expression, so
    # every numeric fractional type spells integrally in every mode
    for cast_to in ("float", "decimal(10,1)"):
        for fn, kwargs in (
            (pack_sequences, {"strict": True}),
            (pack_sequences, {"strict": False}),
            (pack_sequences_ffd, {}),
        ):
            out = fn(
                df,
                max_tokens=20,
                key_col="doc_id",
                token_col="n_tokens",
                shard_expr=(F.col("doc_id") % 2).cast(cast_to),
                **kwargs,
            ).collect()
            prefixes = {r["pack_id"].rsplit("-", 1)[0] for r in out}
            assert prefixes <= {"0", "1"}, (cast_to, fn.__name__, prefixes)
    # review r14b #3: non-integral shard values spell IDENTICALLY
    # across the strict and window modes (both read the same Spark
    # cast), so the cross-mode id contract holds off the happy path too
    frac = (F.col("doc_id") % 2).cast("double") + F.lit(0.5)
    spellings = []
    for kwargs in ({"strict": True}, {"strict": False}):
        out = pack_sequences(
            df, max_tokens=20, key_col="doc_id", token_col="n_tokens",
            shard_expr=frac, **kwargs,
        ).collect()
        spellings.append({r["pack_id"].rsplit("-", 1)[0] for r in out})
    assert spellings[0] == spellings[1] == {"0.5", "1.5"}, spellings
    # review r14c #3: integral doubles beyond long range must NOT
    # overflow the prefix cast to NULL (which would collide distinct
    # shards on an empty prefix) — they fall back to the plain string
    # spelling, which stays distinct
    big = F.when(F.col("doc_id") % 2 == 0, F.lit(9.3e18)).otherwise(
        F.lit(1.86e19)
    )
    out = pack_sequences(
        df, max_tokens=20, key_col="doc_id", token_col="n_tokens",
        shard_expr=big, strict=False,
    ).collect()
    prefixes = {r["pack_id"].rsplit("-", 1)[0] for r in out}
    assert len(prefixes) == 2 and all(p and p != "null" for p in prefixes), prefixes
    # string shard expr keeps both shards separate and readable
    out = pack_sequences(
        df,
        max_tokens=20,
        key_col="doc_id",
        token_col="n_tokens",
        shard_expr=F.col("region"),
        strict=True,
    ).collect()
    prefixes = {r["pack_id"].rsplit("-", 1)[0] for r in out}
    assert prefixes == {"us-east", "eu-west"}, prefixes
