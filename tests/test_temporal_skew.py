"""As-of join, range join, and salted aggregation operators."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators.skew import salted_agg
from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
    asof_join,
    range_join_count,
)

T = dt.datetime


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [(1, "A", T(2024, 1, 1, 10, 0, 30)), (2, "A", T(2024, 1, 1, 10, 2, 0)),
         (3, "B", T(2024, 1, 1, 10, 1, 0)), (4, "C", T(2024, 1, 1, 10, 0, 0))],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [(10, "A", T(2024, 1, 1, 10, 0, 0)), (11, "A", T(2024, 1, 1, 10, 1, 0)),
         (12, "B", T(2024, 1, 1, 10, 0, 50))],
        "quote_id long, sym string, ts timestamp",
    )
    out = asof_join(
        trades, quotes, keys=["sym"], left_ts="ts", right_ts="ts",
        payload=["quote_id", "ts"],
    )
    rows = {r["trade_id"]: r["asof_quote_id"] for r in out.collect()}
    assert rows == {1: 10, 2: 11, 3: 12, 4: None}


def test_asof_join_tie_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, "A", T(2024, 1, 1, 10, 0, 0)), (2, "A", T(2024, 1, 1, 12, 0, 0))],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(9, "A", T(2024, 1, 1, 10, 0, 0))], "rid long, k string, ts timestamp"
    )
    # non-strict: simultaneous right row is visible
    out = asof_join(left, right, keys=["k"], left_ts="ts", right_ts="ts", payload=["rid"])
    rows = {r["id"]: r["asof_rid"] for r in out.collect()}
    assert rows[1] == 9 and rows[2] == 9
    # strict: simultaneous right row is NOT visible
    out_s = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="ts", payload=["rid"], strict=True
    )
    rows_s = {r["id"]: r["asof_rid"] for r in out_s.collect()}
    assert rows_s[1] is None and rows_s[2] == 9
    # tolerance: match older than 1h is dropped
    out_t = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="ts", payload=["rid"],
        tolerance_seconds=3600,
    )
    rows_t = {r["id"]: r["asof_rid"] for r in out_t.collect()}
    assert rows_t[1] == 9 and rows_t[2] is None


def test_range_join_count(spark):
    clicks = spark.createDataFrame(
        [(1, 7, T(2024, 1, 1, 10, 0, 0))], "event_id long, user_id long, ts timestamp"
    )
    purchases = spark.createDataFrame(
        [(2, 7, T(2024, 1, 1, 10, 5, 0)),   # within 10 min
         (3, 7, T(2024, 1, 1, 10, 20, 0)),  # outside
         (4, 8, T(2024, 1, 1, 10, 1, 0))],  # other user
        "event_id long, user_id long, ts timestamp",
    )
    out = range_join_count(
        clicks, purchases, keys=["user_id"],
        left_ts=F.col("l.ts"), right_ts=F.col("r.ts"),
        lower=F.lit(0), upper=F.lit(600),
    )
    assert out.first()["n_in_range"] == 1


def test_range_join_rejects_reserved_internal_columns(spark):
    """A caller column named __mult (etc.) would silently corrupt the
    multiplicity expansion; the operators must fail loudly instead
    (ADVICE r8)."""
    import pytest as _pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
        bucketed_range_join_count,
    )

    bad = spark.createDataFrame(
        [(1, 7, T(2024, 1, 1, 10, 0, 0), 5)],
        "event_id long, user_id long, ts timestamp, __mult long",
    )
    good = spark.createDataFrame(
        [(2, 7, T(2024, 1, 1, 10, 5, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    with _pytest.raises(ValueError, match="__mult"):
        range_join_count(
            bad, good, keys=["user_id"],
            left_ts=F.col("l.ts"), right_ts=F.col("r.ts"),
            lower=F.lit(0), upper=F.lit(600),
        )
    with _pytest.raises(ValueError, match="__mult"):
        bucketed_range_join_count(
            good, bad, left_ts="ts", right_ts="ts",
            lower_seconds=0, upper_seconds=600,
        )


def test_temporal_ops_accept_timestamp_ntz(spark):
    # Parquet written without a timezone loads as TIMESTAMP_NTZ, which
    # unix_micros() rejects; the operators must cast internally (UTC
    # session, so the cast is offset-free).
    left = spark.createDataFrame(
        [(1, "A", T(2024, 1, 1, 12, 0, 0))], "id long, k string, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(9, "A", T(2024, 1, 1, 10, 0, 0)), (8, "A", T(2024, 1, 1, 11, 59, 0))],
        "rid long, k string, ts timestamp_ntz",
    )
    out = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="ts", payload=["rid"],
        tolerance_seconds=3600,
    )
    assert {r["id"]: r["asof_rid"] for r in out.collect()} == {1: 8}
    cnt = range_join_count(
        left.select("id", F.col("k").alias("user_id"), "ts"),
        right.select(F.col("rid").alias("id"), F.col("k").alias("user_id"), "ts"),
        keys=["user_id"],
        left_ts=F.col("l.ts"), right_ts=F.col("r.ts"),
        lower=F.lit(-7200), upper=F.lit(0),
    )
    assert cnt.first()["n_in_range"] == 2


def test_salted_agg_matches_plain(spark):
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    salted = salted_agg(
        o, ["o_custkey"],
        {"n": ("sum", F.count(F.lit(1))), "spend": ("sum", F.sum("o_totalprice"))},
        salt=8,
    ).select("o_custkey", "n", F.round("spend", 2).alias("spend"))
    plain = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    assert salted.subtract(plain).count() == 0
    assert plain.subtract(salted).count() == 0


def test_salted_agg_duplicate_rows_and_unique_cols(spark):
    # fully-duplicate rows: the whole-row salt piles them onto one salt
    # bucket (documented caveat) but the AGGREGATE stays exact; with a
    # distinguishing unique_cols the duplicates spread AND stay exact.
    rows = [(1, 10), (1, 10), (1, 10), (1, 20), (2, 5)]
    df = spark.createDataFrame(rows, "k long, v long")
    for kwargs in ({}, {"unique_cols": ["v"]}):
        out = {
            r["k"]: (r["n"], r["s"])
            for r in salted_agg(
                df, ["k"],
                {"n": ("sum", F.count(F.lit(1))), "s": ("sum", F.sum("v"))},
                salt=4, **kwargs,
            ).collect()
        }
        assert out == {1: (4, 50), 2: (1, 5)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unique_cols"):
        salted_agg(
            df, ["k"], {"n": ("sum", F.count(F.lit(1)))},
            unique_cols=["missing"],
        )


def test_salted_agg_salt_is_deterministic_content_hash(spark):
    # the salt must be a pure function of row content: two separate
    # evaluations over the same data agree row-for-row (a
    # monotonically_increasing_id salt would not survive this under
    # different partitionings, let alone task recompute).
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], "id long, k long")
    salt_expr = F.pmod(F.xxhash64("id", "k"), F.lit(16)).alias("s")
    a = {r["id"]: r["s"] for r in df.select("id", salt_expr).collect()}
    b = {
        r["id"]: r["s"]
        for r in df.repartition(7).select("id", salt_expr).collect()
    }
    assert a == b


def test_gapfill_buckets_spine_and_locf(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import gapfill_buckets

    # key A: buckets 0 and 3 observed -> spine 0..3 with 2 gap rows.
    # key B: single bucket -> spine of 1, no gaps.
    rows = [
        ("A", T(2024, 1, 1, 0, 0, 30), 10.0),
        ("A", T(2024, 1, 1, 0, 0, 50), 20.0),
        ("A", T(2024, 1, 1, 0, 3, 10), 40.0),
        ("B", T(2024, 1, 1, 0, 5, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = gapfill_buckets(
        df, keys=["k"], ts_col="ts", bucket_seconds=60,
        aggs={"n": F.count(F.lit(1)), "avg_v": F.avg("value")},
        locf_cols=["avg_v"],
    ).collect()
    a = {r["bucket_epoch"]: r for r in out if r["k"] == "A"}
    base = 1704067200  # 2024-01-01T00:00:00Z
    assert sorted(a) == [base, base + 60, base + 120, base + 180]
    assert a[base]["n"] == 2 and a[base]["avg_v"] == 15.0
    # gap buckets: NULL aggregates, LOCF carries the last observed avg
    assert a[base + 60]["n"] is None and a[base + 60]["avg_v_locf"] == 15.0
    assert a[base + 120]["avg_v_locf"] == 15.0
    assert a[base + 180]["n"] == 1 and a[base + 180]["avg_v_locf"] == 40.0
    b = [r for r in out if r["k"] == "B"]
    assert len(b) == 1 and b[0]["n"] == 1


def test_gapfill_buckets_drops_null_timestamps(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import gapfill_buckets

    df = spark.createDataFrame(
        [("A", T(2024, 1, 1, 0, 0, 30), 1.0), ("A", None, 99.0)],
        "k string, ts timestamp, value double",
    )
    out = gapfill_buckets(
        df, keys=["k"], ts_col="ts", bucket_seconds=60,
        aggs={"n": F.count(F.lit(1))},
    ).collect()
    # the NULL-ts row is excluded up front, not silently lost mid-plan
    assert len(out) == 1 and out[0]["n"] == 1


def test_gapfill_buckets_rejects_reserved_name_collisions(spark):
    """ADVICE r4: internal (__idx/__mn/__mx), output (bucket_epoch) and
    generated (<col>_locf) names must fail fast, not silently overwrite."""
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import gapfill_buckets

    df = spark.createDataFrame(
        [("A", T(2024, 1, 1), 1.0)], "k string, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="bucket_epoch"):
        gapfill_buckets(
            df, keys=["k"], ts_col="ts", bucket_seconds=60,
            aggs={"bucket_epoch": F.count(F.lit(1))},
        )
    with pytest.raises(ValueError, match="__idx"):
        gapfill_buckets(
            df.withColumnRenamed("k", "__idx"), keys=["__idx"], ts_col="ts",
            bucket_seconds=60, aggs={"n": F.count(F.lit(1))},
        )
    with pytest.raises(ValueError, match="n_locf"):
        gapfill_buckets(
            df, keys=["k"], ts_col="ts", bucket_seconds=60,
            aggs={"n": F.count(F.lit(1)), "n_locf": F.avg("value")},
            locf_cols=["n"],
        )
    with pytest.raises(ValueError, match="not in aggs"):
        gapfill_buckets(
            df, keys=["k"], ts_col="ts", bucket_seconds=60,
            aggs={"n": F.count(F.lit(1))}, locf_cols=["avg_v"],
        )


def _duckdb_asof(left_rows, right_rows, *, strict, tolerance_seconds=None):
    """DuckDB native ASOF JOIN oracle over the same planted rows.

    DuckDB's ASOF inequality is >= (ties visible); the strict variant
    uses >. Tolerance is applied as a post-predicate on the matched ts,
    mirroring asof_join's semantics (match found, then aged out)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("l", pd.DataFrame(left_rows, columns=["id", "k", "ts"]))
    con.register("r", pd.DataFrame(right_rows, columns=["rid", "k", "ts"]))
    op = ">" if strict else ">="
    rows = con.execute(
        f"""
        SELECT l.id,
               CASE WHEN {'' if tolerance_seconds is None else
                          f"epoch_us(l.ts) - epoch_us(r.ts) <= CAST({tolerance_seconds} AS BIGINT) * 1000000 AND "}
                    TRUE THEN r.rid END AS rid
        FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts {op} r.ts
        """
    ).fetchall()
    return {i: rid for i, rid in rows}


def test_asof_tolerance_boundary_vs_duckdb_property(spark):
    """VERDICT r4 ask #9: planted boundary rows — matches exactly AT the
    tolerance edge (delta == tolerance must survive the <=), 1 us past
    it (must be aged out), exact ties (strict vs non-strict), multiple
    right rows straddling the edge — all compared against DuckDB's
    native ASOF JOIN over identical data, for both TIMESTAMP and
    TIMESTAMP_NTZ left/right inputs."""
    tol = 3600
    base = T(2024, 6, 1, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    sec = dt.timedelta(seconds=1)
    # right rows per key: one exactly tol before, one tol+1us before,
    # one tie, one far-future (invisible), one just after left (invisible)
    left_rows = [
        (1, "edge", base),
        (2, "past_edge", base),
        (3, "tie", base),
        (4, "none", base),
        (5, "straddle", base),
    ]
    right_rows = [
        (10, "edge", base - tol * sec),            # delta == tol -> kept
        (11, "past_edge", base - tol * sec - us),  # delta == tol + 1us -> aged out
        (12, "tie", base),                         # tie: non-strict only
        (13, "none", base + sec),                  # after left: never
        (14, "straddle", base - tol * sec - us),   # older candidate
        (15, "straddle", base - tol * sec),        # newer: wins, at edge
    ]
    for cast_type in ("timestamp", "timestamp_ntz"):
        l = spark.createDataFrame(left_rows, "id long, k string, ts timestamp").withColumn(
            "ts", F.col("ts").cast(cast_type)
        )
        r = spark.createDataFrame(right_rows, "rid long, k string, ts timestamp").withColumn(
            "ts", F.col("ts").cast(cast_type)
        )
        for strict in (False, True):
            got = {
                row["id"]: row["asof_rid"]
                for row in asof_join(
                    l, r, keys=["k"], left_ts="ts", right_ts="ts",
                    payload=["rid"], tolerance_seconds=tol, strict=strict,
                ).collect()
            }
            want = _duckdb_asof(left_rows, right_rows, strict=strict, tolerance_seconds=tol)
            assert got == want, (cast_type, strict, got, want)
            # the planted expectations themselves (defense against an
            # oracle that is wrong the same way)
            assert got[1] == 10 and got[2] is None and got[4] is None
            assert got[5] == 15 and got[3] == (None if strict else 12)


def test_asof_no_tolerance_random_property_vs_duckdb(spark):
    """Seeded pseudo-random ts clouds (dense ties + microsecond
    neighbors) must match DuckDB ASOF for strict and non-strict."""
    import random

    rng = random.Random(20260814)
    base = T(2024, 6, 1)
    left_rows = [
        (i, f"k{rng.randrange(3)}", base + dt.timedelta(microseconds=rng.randrange(0, 50) * 500_000))
        for i in range(40)
    ]
    right_rows = [
        (100 + i, f"k{rng.randrange(3)}", base + dt.timedelta(microseconds=rng.randrange(0, 50) * 500_000))
        for i in range(40)
    ]
    l = spark.createDataFrame(left_rows, "id long, k string, ts timestamp")
    r = spark.createDataFrame(right_rows, "rid long, k string, ts timestamp")
    for strict in (False, True):
        got = {
            row["id"]: row["asof_rid"]
            for row in asof_join(
                l, r, keys=["k"], left_ts="ts", right_ts="ts",
                payload=["rid"], strict=strict,
            ).collect()
        }
        want = _duckdb_asof(left_rows, right_rows, strict=strict)
        assert got == want, (strict,)


def test_bucketed_range_join_count_keyfree(spark):
    """Key-free range join via time-bucket blocking: hand-planted rows
    straddling bucket boundaries, window edges inclusive/exclusive, and
    zero-match left rows (must appear with 0, not vanish)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import (
        bucketed_range_join_count,
    )

    base = T(2024, 3, 1, 0, 0, 0)
    sec = dt.timedelta(seconds=1)
    left = spark.createDataFrame(
        [(1, base), (2, base + 1000 * sec), (3, base + 5000 * sec)],
        "id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (base,),                # delta 0 for left 1 -> counts (lower inclusive)
            (base + 599 * sec,),    # in window for left 1
            (base + 600 * sec,),    # delta == upper -> excluded for left 1
            (base + 1599 * sec,),   # in window for left 2 (599s later)
            (base - 1 * sec,),      # before left 1 -> excluded
        ],
        "ts timestamp",
    )
    out = bucketed_range_join_count(
        left, right, left_ts="ts", right_ts="ts",
        lower_seconds=0, upper_seconds=600,
    )
    got = {r["id"]: r["n_in_range"] for r in out.collect()}
    assert got == {1: 2, 2: 1, 3: 0}

    # equivalence with a brute-force cross-join count on a random cloud
    import random

    rng = random.Random(7)
    lrows = [(i, base + rng.randrange(0, 4000) * sec) for i in range(60)]
    rrows = [(base + rng.randrange(0, 4000) * sec,) for _ in range(80)]
    l = spark.createDataFrame(lrows, "id long, ts timestamp")
    r = spark.createDataFrame(rrows, "ts timestamp")
    fast = {
        row["id"]: row["n_in_range"]
        for row in bucketed_range_join_count(
            l, r, left_ts="ts", right_ts="ts",
            lower_seconds=-120, upper_seconds=120, bucket_seconds=90,
        ).collect()
    }
    brute = {
        i: sum(1 for (rt,) in rrows if -120 <= (rt - lt).total_seconds() < 120)
        for i, lt in lrows
    }
    assert fast == brute

    import pytest

    with pytest.raises(ValueError):
        bucketed_range_join_count(
            l, r, left_ts="ts", right_ts="ts", lower_seconds=5, upper_seconds=5
        )


def test_skew_diagnostics_handworked(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.skew import skew_diagnostics

    # 100 rows of key 'hot', 10 of 'warm', 1 of 'cold', 3 NULLs
    rows = [("hot",)] * 100 + [("warm",)] * 10 + [("cold",)] + [(None,)] * 3
    df = spark.createDataFrame(rows, "k string")
    out = {r["key"]: r for r in skew_diagnostics(df, "k", top=10, target_rows_per_task=40).collect()}
    assert out["hot"]["n_rows"] == 100
    assert out["hot"]["share_permille"] == (100 * 1000) // 114
    assert out["hot"]["recommended_salts"] == 3  # ceil(100/40)
    assert out["warm"]["recommended_salts"] == 1
    # NULL keys are REPORTED (they concentrate in one shuffle partition
    # too), not dropped
    assert None in out and out[None]["n_rows"] == 3


def test_skew_diagnostics_top_n_deterministic(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.skew import skew_diagnostics

    # 30 keys, all with the SAME count: the (n_rows, key) ordering must
    # pick a stable lexicographic prefix
    df = spark.createDataFrame([(f"k{i:02d}",) for i in range(30)], "k string")
    out = [r["key"] for r in skew_diagnostics(df, "k", top=5).collect()]
    assert out == ["k00", "k01", "k02", "k03", "k04"]


def test_gapfill_buckets_linear_interp(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import gapfill_buckets

    # key A: observed at buckets 0 (sum 10) and 3 (sum 40): gaps at 1, 2
    # interpolate to 20, 30. key B: single bucket -> no gaps, identity.
    rows = [
        ("A", T(2024, 1, 1, 0, 0, 30), 10.0),
        ("A", T(2024, 1, 1, 0, 3, 10), 40.0),
        ("B", T(2024, 1, 1, 0, 5, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = gapfill_buckets(
        df, keys=["k"], ts_col="ts", bucket_seconds=60,
        aggs={"s": F.sum("value")},
        interp_cols=["s"],
    ).collect()
    base = 1704067200
    a = {r["bucket_epoch"]: r for r in out if r["k"] == "A"}
    assert a[base]["s_interp"] == 10.0       # observed: identity
    assert a[base + 60]["s_interp"] == 20.0  # 10 + (40-10) * 1/3
    assert a[base + 120]["s_interp"] == 30.0
    assert a[base + 180]["s_interp"] == 40.0
    b = [r for r in out if r["k"] == "B"]
    assert len(b) == 1 and b[0]["s_interp"] == 7.0


def test_gapfill_interp_guards(spark):
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.temporal import gapfill_buckets

    df = spark.createDataFrame(
        [("A", T(2024, 1, 1), 1.0)], "k string, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="not in aggs"):
        gapfill_buckets(
            df, keys=["k"], ts_col="ts", bucket_seconds=60,
            aggs={"s": F.sum("value")}, interp_cols=["missing"],
        )
    with pytest.raises(ValueError, match="collision"):
        gapfill_buckets(
            df, keys=["k"], ts_col="ts", bucket_seconds=60,
            aggs={"s": F.sum("value"), "s_interp": F.count(F.lit(1))},
            interp_cols=["s"],
        )


def test_sessionize_subsecond_gap_matches_duckdb(spark, tmp_path):
    """The 30-min session gap is compared to the microsecond: user 1's
    1800.7 s gap starts a second session, user 2's 1799.9 s gap does
    not. Both session queries must agree with their DuckDB oracles on
    the same parquet file (whole-second truncation read 1800.7 as 1800)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wordpress_sql_to_contentstack_exporter_spark.plans import registry as reg

    t0 = T(2024, 3, 1, 9, 0, 0)
    events = [
        (1, t0, 1, "view"),
        (2, t0 + dt.timedelta(seconds=1800, milliseconds=700), 1, "click"),
        (3, t0, 2, "view"),
        (4, t0 + dt.timedelta(seconds=1799, milliseconds=900), 2, "click"),
    ]
    ids, ts, users, types = map(list, zip(*events))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(types, pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    # (user_id, session_id, n_events) and (path, n_sessions);
    # session_start is left out so the compare does not depend on how
    # each engine types the timestamp
    widths = {"sessionize": 3, "session_paths": 2}
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
        )
        want = {
            name: sorted(r[:w] for r in con.execute(reg.ORACLE_SQL[name]).fetchall())
            for name, w in widths.items()
        }
    assert want["sessionize"] == [(1, 1, 1), (1, 2, 1), (2, 1, 2)]
    assert want["session_paths"] == [("click", 1), ("view", 1), ("view>click", 1)]
    for name, w in widths.items():
        got = sorted(
            tuple(r)[:w] for r in reg.SPARK_QUERIES[name](spark, str(tmp_path)).collect()
        )
        assert got == want[name], name
