"""Cross-run incremental dedup manifest (operators/manifest.py): the
batch-scale idempotent-skip lifecycle the reference runs per asset
(assets.js:78-80). The relational core (within-batch keeper + anti-join)
is oracle-gated in the registry (`incremental_dedup`); these tests cover
what SQL cannot: the persisted read/append lifecycle, idempotent
re-runs, cross-run accumulation, and the snapshot-pinned read that keeps
a post-append recompute from anti-joining the batch against itself."""

from __future__ import annotations

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import manifest as mf


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash_matches_exact_dedup_rule(spark):
    """One content-identity definition across the dedup family:
    normalization (case, whitespace) folds into the same hash that
    exact_dedup groups by."""
    docs = _docs(spark, [(1, "Hello  World"), (2, "hello world")])
    m = mf.build_manifest(docs, run_id="r1")
    assert m.count() == 1
    survivors = mf.manifest_dedup(
        _docs(spark, [(3, "HELLO\tWORLD"), (4, "fresh")]), m
    )
    assert {r["doc_id"] for r in survivors.collect()} == {4}


def test_neardup_manifest_drops_perturbed_keeps_novel(spark):
    """Controlled corpus: the batch holds a lightly-perturbed copy of a
    kept doc (near-dup -> dropped), a verbatim copy (est 1.0 ->
    dropped), and a genuinely different doc (survives)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    kept = _docs(spark, [(1, base), (2, "completely unrelated text about spark shuffles and parquet files")])
    manifest = mf.build_neardup_manifest(kept, num_hashes=16, bands=2, run_id="r1")
    batch = _docs(
        spark,
        [
            (10, base + " extra"),  # near-dup of doc 1
            (11, base),  # exact dup of doc 1
            (12, "astronomy dataset with galaxies nebulae and very distant quasars observed nightly"),
        ],
    )
    out = mf.neardup_manifest_dedup(batch, manifest, min_est_jaccard=0.6)
    assert {r["doc_id"] for r in out.collect()} == {12}


def test_neardup_manifest_threshold_gates_weak_overlap(spark):
    """A batch doc sharing a bucket but with low signature agreement
    must survive at a high threshold."""
    kept = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")])
    manifest = mf.build_neardup_manifest(kept, num_hashes=16, bands=2, run_id="r1")
    batch = _docs(spark, [(20, "alpha beta totally different tail content here with many extra words appended now")])
    strict = mf.neardup_manifest_dedup(batch, manifest, min_est_jaccard=0.95)
    assert {r["doc_id"] for r in strict.collect()} == {20}


def test_neardup_manifest_bucket_cap_drops_giant_buckets(spark):
    """max_bucket_size excludes pathological manifest buckets from the
    join entirely: with a cap of 1, the 3-copy boilerplate bucket is
    skipped and the near-identical batch doc SURVIVES (the documented
    exact-pass-handles-identicals tradeoff)."""
    boiler = "subscribe to our newsletter for updates terms of service apply to everyone"
    kept = _docs(spark, [(1, boiler), (2, boiler), (3, boiler)])
    manifest = mf.build_neardup_manifest(kept, num_hashes=16, bands=2, run_id="r1")
    batch = _docs(spark, [(30, boiler)])
    capped = mf.neardup_manifest_dedup(batch, manifest, max_bucket_size=1, min_est_jaccard=0.6)
    assert {r["doc_id"] for r in capped.collect()} == {30}
    uncapped = mf.neardup_manifest_dedup(batch, manifest, max_bucket_size=None, min_est_jaccard=0.6)
    assert uncapped.count() == 0


def test_build_manifest_default_run_id_is_writable(spark, tmp_path):
    """run_id=None must still produce a STRING column (F.lit(None) is
    void-typed, which parquet rejects) — the bootstrap output's whole
    purpose is being written (round-8 review finding)."""
    path = str(tmp_path / "bootstrap")
    m = mf.build_manifest(_docs(spark, [(1, "alpha")]))
    assert dict(m.dtypes)["first_seen_run"] == "string"
    m.write.parquet(path)  # must not raise
    assert spark.read.parquet(path).count() == 1


def test_read_manifest_raises_on_corrupt_data(spark, tmp_path):
    """Only path-absent means bootstrap; a corrupt manifest must raise,
    not silently disable dedup (round-8 review finding)."""
    import pytest as _pytest

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    df = mf.read_neardup_manifest_portable(spark, str(bad))
    with _pytest.raises(Exception):
        df.count()


def test_bucketed_manifest_anti_join_has_no_manifest_side_exchange(
    spark, tmp_path
):
    """THE point of the bucketed layout (VERDICT r8 #4): the daily
    anti-join plan must contain NO Exchange above the manifest scan —
    only the (small) batch side shuffles, to the manifest's bucket
    count. At 100 TB this is the difference between re-shuffling a
    ~70 GB hash set every day and never shuffling it. Pattern follows
    test_jdbc_bucketing.test_bucketed_join_has_no_exchange."""
    import io
    from contextlib import redirect_stdout

    table = "m_plan_b"
    path = str(tmp_path / "m_plan_b")
    try:
        boot = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
        )
        mf.build_manifest_bucketed(boot, table=table, path=path, buckets=8)
        manifest = mf.read_manifest_bucketed(spark, table)
        batch = spark.range(1500, 2500).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # HOSTILE config on purpose: with shuffle.partitions > buckets
        # and no batch_partitions pin, EnsureRequirements aligns the
        # join to the LARGER count — re-shuffling the MANIFEST (both
        # sides satisfy the clustering, so the max wins; first surfaced
        # when a CLI test left the shared session at 32 partitions).
        # batch_partitions=buckets is the operator's fix; this test
        # pins it under exactly that condition.
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        try:
            survivors = mf.manifest_dedup(batch, manifest, batch_partitions=8)
            buf = io.StringIO()
            with redirect_stdout(buf):
                survivors.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan and "LeftAnti" in plan
            # The claim is about the MANIFEST side only: the batch side
            # may shuffle (groupBy at shuffle.partitions, then to the
            # bucket count when they differ). In the formatted tree the
            # anti-join's right child is the suffix after the last
            # left-branch (":"-prefixed) line — it must be
            # Sort/Filter/Scan with NO Exchange.
            tree = plan.split("\n\n")[0].splitlines()
            last_left = max(
                i for i, ln in enumerate(tree) if ln.lstrip().startswith(":")
            )
            right_branch = tree[last_left + 1 :]
            assert any("Scan parquet" in ln and table in ln for ln in right_branch)
            assert not any("Exchange" in ln for ln in right_branch)
            assert "Bucketed: true" in plan
            # and the batch side's exchange lands at the bucket count
            assert "hashpartitioning(content_hash" in plan
            assert survivors.count() == 500  # ids 2000-2499 are novel
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_neardup_portable_lifecycle(spark, tmp_path):
    """The PORTABLE (md5) daily loop mirrors the xxhash64 lifecycle —
    bootstrap, near-dup drop with an exact integer agreement score,
    novel survival, day-3 catches near-dups of day-2 keepers — and the
    persisted artifact is engine-neutral: re-deriving a stored doc's
    signature from scratch reproduces the manifest rows byte-for-byte
    (the property the registry gate hash-verifies against DuckDB)."""
    path = str(tmp_path / "ndp_manifest")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    day1 = _docs(spark, [(1, base), (2, "one two")])  # doc 2: too short to sign
    out1 = mf.incremental_neardup_run_portable(
        spark, day1, path, min_agree=10, run_id="d1"
    )
    rows1 = {r["doc_id"]: r for r in out1.collect()}
    assert set(rows1) == {1, 2}
    assert all(r["is_survivor"] and r["max_agree"] == 0 for r in rows1.values())

    day2 = _docs(
        spark,
        [
            (10, base + " extra"),  # near-dup of day-1 keeper -> dropped
            (11, "astronomy dataset with galaxies nebulae and very distant quasars observed nightly"),
        ],
    )
    out2 = {r["doc_id"]: r for r in mf.incremental_neardup_run_portable(
        spark, day2, path, min_agree=10, run_id="d2"
    ).collect()}
    assert not out2[10]["is_survivor"] and out2[10]["max_agree"] >= 10
    assert out2[11]["is_survivor"]

    # day 3: near-dup of the DAY-2 survivor is now also caught
    day3 = _docs(
        spark,
        [(20, "astronomy dataset with galaxies nebulae and very distant quasars observed nightly always")],
    )
    out3 = {r["doc_id"]: r for r in mf.incremental_neardup_run_portable(
        spark, day3, path, min_agree=10, run_id="d3"
    ).collect()}
    assert not out3[20]["is_survivor"]

    m = mf.read_neardup_manifest_portable(spark, path)
    mrows = m.collect()
    # only signable SURVIVORS persisted: doc 1 (d1) + doc 11 (d2), 4 band
    # rows each; the dropped near-dups and the unsignable doc never land
    assert {r["first_seen_run"] for r in mrows} == {"d1", "d2"}
    assert {r["id"] for r in mrows} == {1, 11}
    assert len(mrows) == 8

    # engine-neutrality: rebuilding doc 1's rows from its text alone
    # yields the exact persisted signature + bucket strings
    rebuilt = {
        (r["band"], r["bucket"], r["h0"], r["h15"])
        for r in mf.build_neardup_manifest_portable(
            _docs(spark, [(1, base)])
        ).collect()
    }
    stored = {
        (r["band"], r["bucket"], r["h0"], r["h15"])
        for r in mrows
        if r["id"] == 1
    }
    assert rebuilt == stored


class TestSemdedupManifest:
    """The fixed-centers contract of ``semdedup(centers=...)``."""

    def test_prefit_center_shape_enforced(self, spark):
        import numpy as np
        import pytest

        from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

        vecs = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="prefit centers"):
            sim.semdedup(vecs, n_cells=4, centers=np.zeros((2, 2))).collect()


def test_manifest_diff_three_statuses(spark):
    """added / removed / retained classification over two snapshots."""
    old = spark.createDataFrame(
        [("h1",), ("h2",), ("h3",)], "content_hash string"
    )
    new = spark.createDataFrame(
        [("h2",), ("h3",), ("h4",)], "content_hash string"
    )
    got = {r["content_hash"]: r["status"] for r in mf.manifest_diff(old, new).collect()}
    assert got == {
        "h1": "removed", "h2": "retained", "h3": "retained", "h4": "added"
    }


def test_manifest_diff_dedups_raw_survivor_logs(spark):
    """Safe over non-distinct inputs: duplicate keys on either side
    collapse before the join, so the diff stays one-row-per-key."""
    old = spark.createDataFrame(
        [("h1",), ("h1",), ("h2",)], "content_hash string"
    )
    new = spark.createDataFrame([("h1",), ("h1",)], "content_hash string")
    got = sorted(tuple(r) for r in mf.manifest_diff(old, new).collect())
    assert got == [("h1", "retained"), ("h2", "removed")]
