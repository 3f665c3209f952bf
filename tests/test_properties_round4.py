"""Property tests for the round-4 primitives: Morton interleave
round-trip and hashed-shingle/string-shingle structural parity."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators.layout import zorder_key


def _deinterleave(z: int, bits: int) -> tuple[int, int]:
    a = b = 0
    for i in range(bits):
        a |= ((z >> (2 * i)) & 1) << i
        b |= ((z >> (2 * i + 1)) & 1) << i
    return a, b


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 21) - 1),
    st.integers(min_value=0, max_value=(1 << 21) - 1),
)
def test_zorder_key_roundtrips(spark, a, b):
    mask = F.lit((1 << 21) - 1)
    z = spark.range(1).select(
        zorder_key([F.lit(a).bitwiseAND(mask), F.lit(b).bitwiseAND(mask)], bits=21).alias("z")
    ).collect()[0]["z"]
    assert z >= 0
    assert _deinterleave(z, 21) == (a, b)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_shingle_hash_count_matches_string_shingles(spark, toks):
    """Hashed shingles must be structurally parallel to the string path:
    same count as the (non-distinct) string shingles, and equal token
    sequences must map to equal hash sequences."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import word_shingle_hashes

    text = " ".join(toks)
    row = spark.range(1).select(
        word_shingle_hashes(F.lit(text), 3).alias("h"),
        word_shingle_hashes(F.lit(" " + text.upper() + " "), 3).alias("h_norm"),
    ).collect()[0]
    assert len(row["h"]) == max(len(toks) - 2, 1)
    # normalization: case/outer whitespace do not change the hashes
    assert row["h"] == row["h_norm"]


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=12),   # bucket idx
                st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_gapfill_matches_reference_model(spark, obs):
    import datetime as dt

    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
        gapfill_buckets,
    )

    epoch = dt.datetime(1970, 1, 1)
    rows = [
        (k, epoch + dt.timedelta(seconds=idx * 60 + 1), float(v))
        for k, pts in obs.items()
        for idx, v in pts
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    got = {
        (r["k"], r["bucket_epoch"]): (r["n"], r["avg_v"], r["avg_v_locf"])
        for r in gapfill_buckets(
            df,
            keys=["k"],
            ts_col="ts",
            bucket_seconds=60,
            aggs={"n": F.count(F.lit(1)), "avg_v": F.round(F.avg("value"), 6)},
            locf_cols=["avg_v"],
        ).collect()
    }
    # reference model: dense spine per key, bucket avg, walk-forward LOCF
    want = {}
    for k, pts in obs.items():
        per_bucket: dict[int, list[float]] = {}
        for idx, v in pts:
            per_bucket.setdefault(idx, []).append(float(v))
        lo, hi = min(per_bucket), max(per_bucket)
        carried = None
        for idx in range(lo, hi + 1):
            if idx in per_bucket:
                vals = per_bucket[idx]
                avg = round(sum(vals) / len(vals), 6)
                carried = avg
                want[(k, idx * 60)] = (len(vals), avg, carried)
            else:
                want[(k, idx * 60)] = (None, None, carried)
    assert set(got) == set(want)
    for key, (n, avg, locf) in want.items():
        gn, gavg, glocf = got[key]
        assert gn == n, (key, gn, n)
        for x, y in ((gavg, avg), (glocf, locf)):
            if y is None:
                assert x is None, key
            else:
                assert x is not None and abs(x - y) < 1e-6, (key, x, y)
