"""Regression tests for defects found in the adversarial review pass."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim
from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx
from wordpress_sql_to_contentstack_exporter_spark.operators.relational import eav_pivot
from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
    deterministic_split,
    pack_sequences,
    stratified_sample,
)
from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import range_join_count


def test_cosine_zero_vector_does_not_crash(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter(F.col("vec_id") == 0)
    rows = {r["neighbor_id"]: r["cos_sim"] for r in sim.cosine_topk(q, vecs, k=2).collect()}
    assert rows[1] == 0.0  # zero vector scores 0, job completes


def test_sample_then_split_is_independent(spark):
    df = spark.createDataFrame([(i, "en") for i in range(2000)], "doc_id long, lang string")
    sampled = stratified_sample(df, "lang", {"en": 0.5}, key_col="doc_id")
    out = deterministic_split(sampled, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # all splits populated
    n = sum(counts.values())
    assert 0.05 < counts["val"] / n < 0.2 and 0.05 < counts["test"] / n < 0.2


def test_pack_sequences_strict_respects_budget(spark):
    df = spark.createDataFrame([(i, 60) for i in range(4)], "doc_id long, n_tokens int")
    packed = pack_sequences(
        df, token_col="n_tokens", max_tokens=100, key_col="doc_id",
        shard_expr=F.lit(0), strict=True,
    )
    sums = packed.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    assert all(r["s"] <= 100 for r in sums)  # strict: never exceeds budget
    assert len(sums) == 4  # 60+60 = 120 > 100, so no two docs share a pack


def test_pack_sequences_strict_oversized_doc_alone(spark):
    df = spark.createDataFrame(
        [(1, 30), (2, 500), (3, 30), (4, 30)], "doc_id long, n_tokens int"
    )
    packed = pack_sequences(
        df, token_col="n_tokens", max_tokens=100, key_col="doc_id",
        shard_expr=F.lit(0), strict=True,
    )
    rows = {r["doc_id"]: r["pack_id"] for r in packed.collect()}
    assert rows[1] != rows[2]  # oversized doc opens its own pack
    assert rows[3] == rows[4]  # small docs share


def test_range_join_count_duplicate_left_rows(spark):
    T = dt.datetime
    clicks = spark.createDataFrame(
        [(1, 7, T(2024, 1, 1, 10, 0)), (1, 7, T(2024, 1, 1, 10, 0))],  # exact dup
        "event_id long, user_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(9, 7, T(2024, 1, 1, 10, 5))], "event_id long, user_id long, ts timestamp"
    )
    out = range_join_count(
        clicks, purchases, keys=["user_id"],
        left_ts=F.col("l.ts"), right_ts=F.col("r.ts"),
        lower=F.lit(0), upper=F.lit(600),
    )
    rows = out.collect()
    assert len(rows) == 2  # one output row per input row, not collapsed
    assert all(r["n_in_range"] == 1 for r in rows)


def test_eav_pivot_keeps_present_key_with_null_value(spark):
    meta = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", None), (2, "a", "y")],  # user 2 lacks key b
        "user_id long, meta_key string, meta_value string",
    )
    out = eav_pivot(meta, "user_id", ["a", "b"])
    rows = {r["user_id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {1: ("x", None)}  # key-present-value-NULL kept; absent key dropped


def test_lang_id_unsegmented_chinese(spark):
    df = spark.createDataFrame(
        [(1, "我是中国人，这是我的书"), (2, "the cat and the dog of note")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(df).collect()}
    assert rows[1] == "zh"
    assert rows[2] == "en"


def test_minhash_rejects_bad_band_config(spark):
    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        dd.minhash_lsh_candidates(df, num_hashes=16, bands=5)


def test_subset_rerun_preserves_other_entries(spark, wp_catalog, tmp_path):
    """An ids-subset posts run must merge, not clobber, the entries file."""
    import json

    from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline as pl

    data = str(tmp_path / "data")
    pl.run_export(wp_catalog, data, modules=["posts"])
    ids = spark.createDataFrame([(10,)], "id long")
    pl.run_export(wp_catalog, data, modules=["posts"], ids=ids)
    entries = json.loads(open(f"{data}/entries/posts/en-us.json").read())
    assert set(entries) == {"10", "11"}  # 11 survived the subset re-run
    master = json.loads(open(f"{data}/master/entries/posts.json").read())
    assert set(master["en-us"]) == {"10", "11"}


def test_dlq_merge_semantics(tmp_path):
    from wordpress_sql_to_contentstack_exporter_spark.sinks.dlq import write_dlq

    path = str(tmp_path / "wp_failed.json")
    write_dlq([("21", "err-a"), ("30", "err-b")], path=path)
    # next run: 21 untouched, 30 succeeds, 31 newly fails
    write_dlq([("31", "err-c")], path=path, succeeded=["30"])
    import json

    doc = json.loads(open(path).read())
    assert set(doc) == {"21", "31"}  # 21 kept, 30 cleared, 31 added


def test_unique_validation_ignores_nulls(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.validate import ContentType, FieldRule

    ct = ContentType("t", [FieldRule("url", unique=True)])
    df = spark.createDataFrame([(None,), (None,), ("a",), ("a",)], "url string")
    rows = ct.unique_violations(df).collect()
    assert len(rows) == 1 and rows[0]["value"] == "a"  # NULLs never collide


def test_permalink_fallback_foreign_guid_is_null(spark):
    from wordpress_sql_to_contentstack_exporter_spark.functions import compile_permalink

    col = compile_permalink(
        "", "http://example.com/blog",
        post_id=F.lit(1), date_gmt=F.current_timestamp(),
        post_name=F.lit(""), guid=F.col("g"),
    )
    df = spark.createDataFrame([("http://other-domain.net/?p=7",)], "g string")
    assert df.select(col.alias("u")).first()["u"] is None  # no ANSI job abort


def test_hyperplane_signature_32_planes_no_overflow(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    planes = [[float(x) for x in rng.standard_normal(4)] for _ in range(34)]
    df = spark.createDataFrame([([1.0, 0.5, -0.5, 2.0],)], "v array<float>")
    val = df.select(sim.hyperplane_signature(F.col("v"), planes).alias("s")).first()["s"]
    assert isinstance(val, int)  # completes without ARITHMETIC_OVERFLOW

# --- round-2 adversarial-review fixes ---


def test_master_merge_preserves_other_locales(tmp_path):
    """A locale-B subset merge must not clobber locale A's mapping (the
    clobber became reachable once locale was configurable)."""
    import json

    from wordpress_sql_to_contentstack_exporter_spark.sinks.keyed_json import (
        write_master_mapping,
    )

    path = str(tmp_path / "posts.json")
    write_master_mapping(["10", "11"], path=path, locale="en-us")
    write_master_mapping(["10"], path=path, locale="fr-fr", merge=True)
    doc = json.loads(open(path).read())
    assert doc == {"en-us": {"10": "", "11": ""}, "fr-fr": {"10": ""}}


def test_domain_mixture_null_domain_and_full_weight(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
        domain_mixture,
    )

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 == 0 else None) for i in range(400)],
        "doc_id long, source string",
    )
    out = domain_mixture(
        df, {"keep": 1.0}, domain_col="source", key_col="doc_id", default_weight=0.5
    )
    by = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by.get("keep") == 200  # weight 1.0 keeps EVERY row (inclusive)
    # NULL domains sample at default_weight, not silently dropped
    assert 60 <= by.get(None, 0) <= 140

    # NULL keys likewise are not silently dropped: they share one hash so
    # under weight 1.0 all survive, each with a (shared) non-null mix_key
    nk = spark.createDataFrame(
        [(None, "keep"), (None, "keep")], "doc_id long, source string"
    )
    kept = domain_mixture(
        nk, {"keep": 1.0}, domain_col="source", key_col="doc_id"
    ).collect()
    assert len(kept) == 2 and all(r["mix_key"] is not None for r in kept)


def test_mysql_block_implies_jdbc_kind(tmp_path):
    import json

    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.config import ExportConfig

    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"source": {"mysql": {"host": "h", "database": "wp"}}}))
    cfg = ExportConfig.from_json(str(p))
    assert cfg.source.kind == "jdbc"  # mysql block implies jdbc
    assert cfg.source.jdbc_url == "jdbc:mysql://h:3306/wp"

    p.write_text(json.dumps({"source": {"kind": "parquet", "mysql": {"host": "h", "database": "wp"}}}))
    with pytest.raises(ValueError, match="mysql"):
        ExportConfig.from_json(str(p))


def test_pii_counts_match_placeholders(spark):
    """Counts are computed on the progressively-redacted text: an email
    that swallows an IP-looking substring must not report a phantom <IP>."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import pii_redact

    df = spark.createDataFrame([(1, "mail x@192.168.1.1.com now")], "doc_id long, text string")
    r = pii_redact(df).collect()[0]
    assert r["n_email"] == 1 and r["n_ip"] == 0
    assert r["redacted"] == "mail <EMAIL> now"
    assert r["redacted"].count("<IP>") == r["n_ip"]


def test_simhash_rotation_count_validated(spark):
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    sigs = spark.createDataFrame([(1, 5)], "id long, sh long")
    for bad in (0, -1, 64):
        with pytest.raises(ValueError, match="n_rotations"):
            dd.simhash_pairs_from_sigs(sigs, n_rotations=bad)


def test_lsh_queries_empty_embeddings_table(spark, tmp_path):
    """Empty embeddings must yield empty results, not a TypeError from the
    dimension probe."""
    import wordpress_sql_to_contentstack_exporter_spark.plans.registry as reg

    spark.createDataFrame([], "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    assert reg.q_embedding_neardup(spark, str(tmp_path)).count() == 0
    assert reg.q_ann_lsh_topk(spark, str(tmp_path)).count() == 0


def test_pack_sequences_length_sorted_reduces_fragmentation(spark):
    """order_by_length=True (first-fit-decreasing idea under next-fit):
    on a heterogeneous corpus the length-sorted order needs no more packs
    than key order — and fewer on the alternating worst case, where key
    order wastes nearly half of every budget."""
    # alternating 90/30: key order packs (90+30..) pairs -> one pack per
    # pair at 120/200 fill; sorted order groups 90s (2/pack) and 30s (6/pack)
    rows = [(i, 90 if i % 2 == 0 else 30) for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")

    def n_packs(strict, sort):
        packed = pack_sequences(
            df, token_col="n_tokens", max_tokens=200, key_col="doc_id",
            shard_expr=F.lit(0), strict=strict, order_by_length=sort,
        )
        return packed.select("pack_id").distinct().count()

    # strict next-fit: sorted order drops 12 packs (one per 90/30 pair at
    # 120/200 fill) to 8 (90s two-per-pack, 30s six-per-pack)
    assert n_packs(True, False) == 12
    assert n_packs(True, True) == 8
    # window mode's floor(running_sum/budget) pack COUNT is order-
    # insensitive by construction (it never resets at a boundary); the
    # sorted order changes pack composition, not count
    assert n_packs(False, True) == n_packs(False, False)

    # strict + sorted: budget still never exceeded
    packed = pack_sequences(
        df, token_col="n_tokens", max_tokens=200, key_col="doc_id",
        shard_expr=F.lit(0), strict=True, order_by_length=True,
    )
    sums = packed.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    assert all(r["s"] <= 200 for r in sums)


def test_bucketed_range_join_count_keeps_null_ts_rows(spark):
    """Round-8 review finding: NULL left_ts must yield count 0, not a
    dropped row (the keyed range_join_count and the SQL oracle both keep
    it)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
        bucketed_range_join_count,
    )

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0)), (2, None)], "event_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(9, T(2024, 1, 1, 10, 5))], "event_id long, ts timestamp"
    ).select("ts")
    out = bucketed_range_join_count(
        left, right, left_ts="ts", right_ts="ts",
        lower_seconds=0, upper_seconds=600,
    )
    rows = {r["event_id"]: r["n_in_range"] for r in out.collect()}
    assert rows == {1: 1, 2: 0}


def test_multiplicity_expansion_chunks_large_counts(spark):
    """Round-8 review finding: the duplicate re-expansion must not
    materialize one multiplicity-sized array; verified by expanding a
    multiplicity beyond the 2^16 chunk width."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
        _MULT_CHUNK,
        _expand_multiplicity,
    )

    n = _MULT_CHUNK * 2 + 37
    df = spark.createDataFrame([(7, n), (8, 1)], "k long, __mult long")
    out = _expand_multiplicity(df)
    counts = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {7: n, 8: 1}
    assert out.columns == ["k"]
