"""Z-order sort keys and the layout analysis operators: the 2-column
Morton interleave, the n-dimensional key, deterministic file assignment
and the min/max skip audit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import layout as lay


def test_zorder_key_is_morton_interleave(spark):
    # inputs masked to ``bits`` first, as zorder_key asks of its callers
    mask = F.lit((1 << 3) - 1)
    rows = spark.range(1).select(
        lay.zorder_key(
            [F.lit(0b101).bitwiseAND(mask), F.lit(0b1011).bitwiseAND(mask)], bits=3
        ).alias("z")
    ).collect()
    # a=101, b=1011 masked to 011 -> interleave (a even positions, b odd):
    # bit0=a0=1, bit1=b0=1, bit2=a1=0, bit3=b1=1, bit4=a2=1, bit5=b2=0
    assert rows[0]["z"] == 0b011011


# ---------------------------------------------------------------------------
# the analysis side (n-dim key, deterministic file assignment, min/max
# skip audit)
# ---------------------------------------------------------------------------


def _py_morton(vals, bits):
    z = 0
    n = len(vals)
    for i, v in enumerate(vals):
        for b in range(bits):
            z |= ((v >> b) & 1) << (n * b + i)
    return z


def test_nd_zorder_matches_python_model(spark):
    df = spark.range(200).select(
        (F.col("id") * 7 % 256).alias("a"),
        (F.col("id") * 13 % 256).alias("b"),
        (F.col("id") * 29 % 256).alias("c"),
    )
    rows = df.withColumn("z", lay.zorder_key(["a", "b", "c"], bits=8)).collect()
    for r in rows:
        assert r["z"] == _py_morton([r["a"], r["b"], r["c"]], 8)


def test_nd_zorder_rejects_long_overflow():
    with pytest.raises(ValueError, match="signed long"):
        lay.zorder_key(["a", "b", "c"], bits=21)


def test_zorder_sql_expr_mirrors_column_expr(spark):
    """The portable-arithmetic SQL form must equal the shift/mask column
    form value-for-value — that identity is what makes the layout gate
    oracle-able."""
    df = spark.range(300).select(
        (F.col("id") * 11 % 1024).alias("px"),
        (F.col("id") * 17 % 1024).alias("oy"),
    )
    expr = lay.zorder_sql_expr(["px", "oy"], bits=10).replace("//", " div ")
    rows = (
        df.withColumn("z1", lay.zorder_key(["px", "oy"], bits=10))
        .withColumn("z2", F.expr(expr))
        .filter(F.col("z1") != F.col("z2"))
        .count()
    )
    assert rows == 0


def test_assign_files_balanced_deterministic(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 512).alias("v")
    )
    out = lay.assign_files(df, order_col="v", tiebreak=["k"], n_files=8)
    sizes = {r["file_id"]: r["n"] for r in out.groupBy("file_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # deterministic: a second run assigns every row identically
    again = lay.assign_files(df, order_col="v", tiebreak=["k"], n_files=8)
    diff = out.select("k", "file_id").exceptAll(again.select("k", "file_id")).count()
    assert diff == 0


def test_skip_audit_is_sound(spark):
    """Every file the audit marks skipped must truly contain no row
    matching the box — min/max pruning may over-scan, never over-skip."""
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 300).alias("x"),
        (F.col("id") * 13 % 300).alias("y"),
    )
    z = df.withColumn("zv", lay.zorder_key(["x", "y"], bits=9))
    files = lay.assign_files(z, order_col="zv", tiebreak=["k"], n_files=16)
    box = {"x": (50, 99), "y": (120, 179)}
    audited = lay.skip_audit(
        lay.file_stats(files, dim_cols=["x", "y"], layout="z"), box
    )
    skipped = [r["file_id"] for r in audited.filter(F.col("scanned") == 0).collect()]
    in_box = files.filter(
        F.col("x").between(50, 99) & F.col("y").between(120, 179)
    )
    leaked = in_box.filter(F.col("file_id").isin(skipped)).count()
    assert leaked == 0
    assert in_box.count() > 0  # the box is non-empty, so the test bites


def test_zorder_layout_gate_skips_more_than_natural(spark):
    """The registry gate's own output must show the Z-order win: fewer
    scanned files than the natural (insertion-order) layout for the
    same box over the same rows."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
        q_zorder_layout,
    )

    rows = q_zorder_layout(spark, "/root/testdata/sf0.001").collect()
    scanned = {"zorder": 0, "natural": 0}
    for r in rows:
        scanned[r["layout"]] += r["scanned"]
    assert scanned["zorder"] < scanned["natural"]


def test_assign_files_exact_above_2_53(spark):
    """Order keys wider than double precision (>= 2^53) must rank
    exactly (review finding: the old double roundtrip collapsed the
    low bits and let distinct keys tie)."""
    base = 1 << 60
    df = spark.createDataFrame(
        [(i, base + i) for i in range(16)], "k long, z long"
    )
    out = {
        r["k"]: r["file_id"]
        for r in lay.assign_files(df, order_col="z", tiebreak=["k"], n_files=4).collect()
    }
    # exact ordering by z: k 0-3 -> file 0, ..., k 12-15 -> file 3
    assert out == {k: k // 4 for k in range(16)}


def test_compaction_plan_next_fit_groups(spark):
    """Hand-checked next-fit: files of 600/600/600/300 bytes at target
    1000 walk into groups by bytes-before: 0,600 -> g0; 1200,1800 ->
    g1; per-group rollups exact; singleton groups dropped."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.layout import compaction_plan

    rows = [
        ("p1", "a", 600), ("p1", "b", 600), ("p1", "c", 600), ("p1", "d", 300),
        ("p2", "x", 50),  # singleton partition -> one group of 1 -> dropped
    ]
    df = spark.createDataFrame(rows, "part string, path string, bytes long")
    out = compaction_plan(
        df, partition_cols=["part"], target_bytes=1000, min_group_files=2
    )
    got = {
        (r["part"], r["path"]): (r["group_id"], r["group_bytes"], r["group_files"])
        for r in out.collect()
    }
    assert got == {
        ("p1", "a"): (0, 1200, 2),
        ("p1", "b"): (0, 1200, 2),
        ("p1", "c"): (1, 900, 2),
        ("p1", "d"): (1, 900, 2),
    }


def test_compaction_plan_excludes_already_compacted_files(spark):
    """A file at/above target is EXCLUDED from the plan (Delta OPTIMIZE
    rule — never rewrite a huge file to glue tiny neighbors on); the
    remaining small files coalesce with each other across the gap."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.layout import compaction_plan

    rows = [("p", "a", 100), ("p", "b", 5000), ("p", "c", 100), ("p", "d", 100)]
    df = spark.createDataFrame(rows, "part string, path string, bytes long")
    out = compaction_plan(
        df, partition_cols=["part"], target_bytes=1000, min_group_files=1
    )
    got = {r["path"]: r["group_id"] for r in out.collect()}
    # b (5000 >= 1000) never appears; a/c/d walk 0,100,200 -> one group
    assert got == {"a": 0, "c": 0, "d": 0}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(df, partition_cols=["part"], target_bytes=0)
