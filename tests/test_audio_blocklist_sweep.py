"""Round-7 batch 2: audio near-dup (energy-envelope signature), domain
blocklist suffix matching, and the classifier threshold sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import audio_dedup as aud
from wordpress_sql_to_contentstack_exporter_spark.operators import blocklist as blk
from wordpress_sql_to_contentstack_exporter_spark.operators import wav
from wordpress_sql_to_contentstack_exporter_spark.operators.stats import threshold_sweep

SF_DIR = "/root/testdata/sf0.001"


# --- audio near-dup -------------------------------------------------------


def _wav_from(seed: bytes, n: int = 2080) -> bytes:
    samples = [(seed[i % len(seed)] - 128) * 256 for i in range(n)]
    return wav.encode(8000, samples)


def test_signature_gain_invariant():
    """Scaling every sample (gain change) preserves all energy-gradient
    comparisons, so the signature is identical — the property that makes
    envelope signs the right fingerprint for re-encoded audio."""
    seed = b"some deterministic audio-ish payload text"
    base = _wav_from(seed)
    samples = wav.first_channel_samples(wav.parse(base))
    half = wav.encode(8000, [s // 2 for s in samples])
    assert aud._signature_bytes(base) == aud._signature_bytes(half)


def test_signature_robust_to_low_amplitude_noise():
    seed = b"another deterministic payload for the noise test"
    base = _wav_from(seed)
    samples = wav.first_channel_samples(wav.parse(base))
    noisy = wav.encode(
        8000, [s + (180 if i % 7 == 0 else 0) for i, s in enumerate(samples)]
    )
    sa, sb = aud._signature_bytes(base), aud._signature_bytes(noisy)
    assert sa is not None and sb is not None
    assert bin((sa ^ sb) & ((1 << 64) - 1)).count("1") <= 6


def test_signature_separates_distinct_audio():
    sa = aud._signature_bytes(_wav_from(b"first audio payload, quite distinct"))
    sb = aud._signature_bytes(_wav_from(b"completely different second clip!!"))
    assert sa is not None and sb is not None
    assert bin((sa ^ sb) & ((1 << 64) - 1)).count("1") > 6


def test_audio_planted_pairs_recovered(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = aud.synthesize_wav_corpus(docs)
    pairs = aud.audio_neardup(corpus, bands=4, max_hamming=6).collect()
    planted = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 17 == 0).collect()
    }
    assert planted
    recovered = {
        r["id_a"] for r in pairs if r["id_b"] - r["id_a"] == aud.PLANT_OFFSET
    }
    assert recovered == planted


def test_signature_undecodable_is_null(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"not a wav")), (2, None)], "media_id long, content binary"
    )
    rows = aud.audio_signature64(media).collect()
    assert all(r["sig"] is None for r in rows)


# --- domain blocklist -----------------------------------------------------


def test_host_suffixes_complete_and_ordered(spark):
    out = spark.createDataFrame([("a.b.c.example.com",)], "host string").select(
        blk.host_suffixes(F.col("host")).alias("s")
    ).first()["s"]
    assert out == [
        "a.b.c.example.com",
        "b.c.example.com",
        "c.example.com",
        "example.com",
        "com",
    ]


def test_host_suffixes_caps_label_fanout(spark):
    deep = ".".join(["x"] * 20) + ".example.com"
    out = spark.createDataFrame([(deep,)], "host string").select(
        blk.host_suffixes(F.col("host"), max_labels=8).alias("s")
    ).first()["s"]
    # cap bounds the explode to max_labels suffixes PLUS the full host
    # (kept so exact host == domain matches at any depth)
    assert len(out) == 9
    assert out[0] == deep
    assert out[-1] == "com" and out[-2] == "example.com"


def test_deep_blocklist_domain_exact_match_survives_cap(spark):
    """A blocklist domain deeper than max_labels must still block the
    EXACT same host (review finding: the cap used to truncate the full
    host away). The residual — subdomains of such deep domains — is
    documented, not silent."""
    deep = ".".join(f"l{i}" for i in range(14)) + ".example.com"  # 16 labels > cap
    hosts = spark.createDataFrame([(0, deep)], "id long, host string")
    bl = spark.createDataFrame([(deep,)], "domain string")
    got = blk.blocklist_flags(hosts, host_col="host", blocklist=bl).first()
    assert got["blocked"] == 1


def test_blocklist_semantics(spark):
    hosts = spark.createDataFrame(
        [
            (0, "www.example.co.uk"),   # subdomain of blocked -> 1
            (1, "example.co.uk"),       # exact blocked -> 1
            (2, "blog.test.com"),       # unrelated -> 0
            (3, "example.co.uk.evil.com"),  # blocked domain mid-host -> 0
            (4, "notexample.co.uk"),    # suffix of the STRING but not a
            # label boundary -> 0 (LIKE '%example.co.uk' would wrongly hit)
        ],
        "id long, host string",
    )
    bl = spark.createDataFrame([("example.co.uk",)], "domain string")
    got = {
        r["id"]: r["blocked"]
        for r in blk.blocklist_flags(hosts, host_col="host", blocklist=bl).collect()
    }
    assert got == {0: 1, 1: 1, 2: 0, 3: 0, 4: 0}


# --- threshold sweep ------------------------------------------------------


def test_threshold_sweep_handworked(spark):
    """Four rows, two buckets wide apart: confusion counts checked by
    hand at every emitted threshold."""
    df = spark.createDataFrame(
        [(0.1, False), (0.2, False), (0.9, True), (0.8, True)],
        "score double, label boolean",
    )
    rows = {
        r["bucket"]: r
        for r in threshold_sweep(
            df, score_col="score", label_col="label", n_buckets=4
        ).collect()
    }
    # sv: 102, 204, 921, 819; lo=102 hi=921 width=(819//4)+1=205
    # buckets: 0,0,3,3 -> low bucket has the 2 negatives, high the 2 pos
    lo_b, hi_b = min(rows), max(rows)
    assert rows[hi_b]["tp"] == 2 and rows[hi_b]["fp"] == 0
    assert rows[hi_b]["fn"] == 0 and rows[hi_b]["tn"] == 2
    assert rows[lo_b]["tp"] == 2 and rows[lo_b]["fp"] == 2
    assert rows[lo_b]["fn"] == 0 and rows[lo_b]["tn"] == 0


def test_threshold_sweep_invariants(spark):
    """On real data: tp+fn constant (= total positives), fp+tn constant,
    tp monotone nonincreasing in threshold."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    rows = sorted(
        threshold_sweep(e, score_col="score", label_col="label").collect(),
        key=lambda r: r["bucket"],
    )
    n_pos = e.filter("label").count()
    n_neg = e.filter("NOT label").count()
    assert all(r["tp"] + r["fn"] == n_pos for r in rows)
    assert all(r["fp"] + r["tn"] == n_neg for r in rows)
    tps = [r["tp"] for r in rows]
    assert tps == sorted(tps, reverse=True)
    # lowest threshold predicts everything positive
    assert rows[0]["tp"] == n_pos and rows[0]["fp"] == n_neg


def test_threshold_sweep_validates_buckets(spark):
    df = spark.range(3).select(F.col("id").cast("double").alias("s"), F.lit(True).alias("y"))
    with pytest.raises(ValueError, match="n_buckets"):
        threshold_sweep(df, score_col="s", label_col="y", n_buckets=1)
