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


def test_first_run_bootstraps_from_missing_path(spark, tmp_path):
    path = str(tmp_path / "manifest")
    docs = _docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")])
    out = mf.incremental_dedup_run(spark, docs, path, run_id="r1")
    rows = {r["doc_id"] for r in out.collect()}
    # within-batch dedup keeps min-id for the duplicated content
    assert rows == {1, 2}
    # the manifest now holds exactly the survivors' hashes
    m = mf.read_manifest(spark, path)
    assert m.count() == 2
    assert {r["first_seen_run"] for r in m.collect()} == {"r1"}


def test_replayed_batch_appends_nothing(spark, tmp_path):
    path = str(tmp_path / "manifest")
    docs = _docs(spark, [(1, "alpha"), (2, "beta")])
    first = mf.incremental_dedup_run(spark, docs, path, run_id="r1")
    assert first.count() == 2
    replay = mf.incremental_dedup_run(spark, docs, path, run_id="r2")
    assert replay.count() == 0
    assert mf.read_manifest(spark, path).count() == 2  # no r2 rows


def test_cross_run_accumulation_and_new_content(spark, tmp_path):
    path = str(tmp_path / "manifest")
    mf.incremental_dedup_run(
        spark, _docs(spark, [(1, "alpha"), (2, "beta")]), path, run_id="r1"
    )
    # day 2: one repeat (different id, same content), one new
    out = mf.incremental_dedup_run(
        spark, _docs(spark, [(10, "alpha"), (11, "gamma")]), path, run_id="r2"
    )
    assert {r["doc_id"] for r in out.collect()} == {11}
    m = mf.read_manifest(spark, path)
    assert m.count() == 3
    runs = {r["first_seen_run"] for r in m.collect()}
    assert runs == {"r1", "r2"}


def test_survivors_recompute_against_pre_append_snapshot(spark, tmp_path):
    """The hazard the pinned read exists for: the returned lazy frame is
    acted on AFTER the append; an unpinned directory read would see the
    batch's own hashes and recompute to empty."""
    path = str(tmp_path / "manifest")
    docs = _docs(spark, [(1, "alpha"), (2, "beta")])
    out = mf.incremental_dedup_run(spark, docs, path, run_id="r1")
    # two separate actions post-append: both must see the survivors
    assert out.count() == 2
    assert {r["doc_id"] for r in out.collect()} == {1, 2}


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
    assert mf.read_manifest(spark, path).count() == 1


def test_read_manifest_raises_on_corrupt_data(spark, tmp_path):
    """Only path-absent means bootstrap; a corrupt manifest must raise,
    not silently disable dedup (round-8 review finding)."""
    import pytest as _pytest

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    df = mf.read_manifest(spark, str(bad))
    with _pytest.raises(Exception):
        df.count()


def test_bucketed_manifest_lifecycle(spark, tmp_path):
    """The bucketed saved-table variant runs the same daily loop as the
    plain-parquet one: bootstrap from a missing table, dedup across
    runs, accumulate, and return pre-append survivors from post-append
    actions (the eager-checkpoint pinning)."""
    table = "m_lifecycle_b"
    path = str(tmp_path / "m_lifecycle_b")
    try:
        out1 = mf.incremental_dedup_run_bucketed(
            spark,
            _docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")]),
            table=table,
            path=path,
            buckets=4,
            run_id="r1",
        )
        # post-append actions, twice, must see the pre-append survivors
        assert out1.count() == 2
        assert {r["doc_id"] for r in out1.collect()} == {1, 2}
        # day 2: one repeat (new id, same content), one new
        out2 = mf.incremental_dedup_run_bucketed(
            spark,
            _docs(spark, [(10, "alpha"), (11, "gamma")]),
            table=table,
            path=path,
            buckets=4,
            run_id="r2",
        )
        assert {r["doc_id"] for r in out2.collect()} == {11}
        m = mf.read_manifest_bucketed(spark, table)
        assert m.count() == 3
        assert {r["first_seen_run"] for r in m.collect()} == {"r1", "r2"}
        # replay of an applied batch appends nothing
        replay = mf.incremental_dedup_run_bucketed(
            spark,
            _docs(spark, [(10, "alpha"), (11, "gamma")]),
            table=table,
            path=path,
            buckets=4,
            run_id="r3",
        )
        assert replay.count() == 0
        assert mf.read_manifest_bucketed(spark, table).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_manifest_append_rejects_bucket_drift(spark, tmp_path):
    """The bucket count is the table's permanent contract: an append
    with a different count must fail loudly, never silently corrupt the
    layout."""
    import pytest as _pytest

    table = "m_drift_b"
    path = str(tmp_path / "m_drift_b")
    try:
        mf.build_manifest_bucketed(
            _docs(spark, [(1, "alpha")]), table=table, path=path, buckets=4
        )
        with _pytest.raises(Exception):
            mf.append_survivors_bucketed(
                mf.build_manifest(_docs(spark, [(2, "beta")])).select(
                    "content_hash"
                ),
                table,
                run_id="r2",
                buckets=8,
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


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


def test_incremental_neardup_run_lifecycle(spark, tmp_path):
    """Daily near-dup loop end-to-end: bootstrap run, then a second run
    whose near-dup of a day-1 KEEPER is dropped while novel content
    survives and is appended for day 3."""
    path = str(tmp_path / "nd_manifest")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    day1 = _docs(spark, [(1, base)])
    out1 = mf.incremental_neardup_run(
        spark, day1, path, min_est_jaccard=0.6, run_id="d1"
    )
    assert {r["doc_id"] for r in out1.collect()} == {1}
    day2 = _docs(
        spark,
        [
            (10, base + " extra"),  # near-dup of day-1 keeper -> dropped
            (11, "astronomy dataset with galaxies nebulae and very distant quasars observed nightly"),
        ],
    )
    out2 = mf.incremental_neardup_run(
        spark, day2, path, min_est_jaccard=0.6, run_id="d2"
    )
    assert {r["doc_id"] for r in out2.collect()} == {11}
    # day 3: near-dup of the DAY-2 survivor is now also caught
    day3 = _docs(
        spark,
        [(20, "astronomy dataset with galaxies nebulae and very distant quasars observed nightly always")],
    )
    out3 = mf.incremental_neardup_run(
        spark, day3, path, min_est_jaccard=0.6, run_id="d3"
    )
    assert out3.count() == 0
    m = mf.read_neardup_manifest(spark, path)
    assert {r["first_seen_run"] for r in m.collect()} == {"d1", "d2"}


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
    """Incremental SEMANTIC dedup manifest: the daily SemDeDup loop —
    cross-run drop of semantic dups, within-batch pruning, replay
    idempotency, and the fixed-centers contract."""

    @staticmethod
    def _centers():
        import numpy as np

        # two well-separated cells in 4-d
        return np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]])

    def test_daily_loop_drops_kept_semantics_keeps_novel(self, spark, tmp_path):
        from wordpress_sql_to_contentstack_exporter_spark.operators import manifest as mf

        path = str(tmp_path / "sem")
        c = self._centers()
        day1 = spark.createDataFrame(
            [
                (1, [1.0, 0.01, 0.0, 0.0]),
                (2, [0.99, 0.0, 0.01, 0.0]),   # semantic dup of 1
                (3, [0.0, 0.0, 1.0, 0.02]),
            ],
            "vec_id long, embedding array<double>",
        )
        s1 = mf.incremental_semdedup_run(
            spark, day1, path, centers=c, threshold=0.95, run_id="d1"
        ).collect()
        kept1 = sorted(r["vec_id"] for r in s1)
        assert len(kept1) == 2 and 3 in kept1  # one of {1,2} + 3
        day2 = spark.createDataFrame(
            [
                (10, [1.0, 0.0, 0.005, 0.0]),   # dup of day-1 family {1,2}
                (11, [0.0, 0.01, 0.99, 0.0]),   # dup of day-1 vec 3
                (12, [0.5, 0.0, 0.86, 0.0]),    # novel direction
                (13, [0.505, 0.0, 0.855, 0.0]), # within-batch dup of 12
            ],
            "vec_id long, embedding array<double>",
        )
        s2 = mf.incremental_semdedup_run(
            spark, day2, path, centers=c, threshold=0.95, run_id="d2"
        ).collect()
        kept2 = sorted(r["vec_id"] for r in s2)
        assert 10 not in kept2 and 11 not in kept2  # cross-run dups die
        assert len(set(kept2) & {12, 13}) == 1      # within-batch resolved
        # manifest accumulated: 2 (day1) + 1 (day2)
        m = mf.read_semdedup_manifest(spark, path).collect()
        assert len(m) == 3
        assert {r["first_seen_run"] for r in m} == {"d1", "d2"}

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from wordpress_sql_to_contentstack_exporter_spark.operators import manifest as mf

        path = str(tmp_path / "sem")
        c = self._centers()
        batch = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        first = mf.incremental_semdedup_run(
            spark, batch, path, centers=c, run_id="a"
        ).count()
        replay = mf.incremental_semdedup_run(
            spark, batch, path, centers=c, run_id="b"
        ).count()
        assert first == 2 and replay == 0
        assert mf.read_semdedup_manifest(spark, path).count() == 2

    def test_zero_vector_never_drops_or_is_dropped(self, spark, tmp_path):
        from wordpress_sql_to_contentstack_exporter_spark.operators import manifest as mf

        path = str(tmp_path / "sem")
        c = self._centers()
        batch = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        s1 = mf.incremental_semdedup_run(
            spark, batch, path, centers=c, run_id="a"
        ).count()
        assert s1 == 2  # zero vector survives (cosine 0 to everything)
        again = spark.createDataFrame(
            [(5, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        # a second zero vector also survives: dot(0,0)=0 < threshold
        s2 = mf.incremental_semdedup_run(
            spark, again, path, centers=c, run_id="b"
        ).count()
        assert s2 == 1

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


def test_manifest_diff_append_only_run_yields_no_removed(spark, tmp_path):
    """The audit contract: an append-only incremental loop's snapshots
    diff to added/retained ONLY — a 'removed' row is the signal the
    diff exists to catch."""
    docs1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    docs2 = spark.createDataFrame(
        [(1, "alpha"), (3, "gamma")], "doc_id long, text string"
    )
    path = str(tmp_path / "m")
    mf.incremental_dedup_run(spark, docs1, path, run_id="r1")
    # localCheckpoint (eager): a cache() pin can be EVICTED and lazily
    # recomputed from the path AFTER run r2 appends to it, collapsing
    # the diff to {'retained'} (review r15) — the checkpoint severs
    # lineage so the pre-append snapshot is immutable
    snap1 = mf.read_manifest(spark, path).select("content_hash").localCheckpoint()
    mf.incremental_dedup_run(spark, docs2, path, run_id="r2")
    snap2 = mf.read_manifest(spark, path).select("content_hash")
    statuses = {r["status"] for r in mf.manifest_diff(snap1, snap2).collect()}
    assert "removed" not in statuses
    assert statuses == {"retained", "added"}


def test_manifest_diff_dedups_raw_survivor_logs(spark):
    """Safe over non-distinct inputs: duplicate keys on either side
    collapse before the join, so the diff stays one-row-per-key."""
    old = spark.createDataFrame(
        [("h1",), ("h1",), ("h2",)], "content_hash string"
    )
    new = spark.createDataFrame([("h1",), ("h1",)], "content_hash string")
    got = sorted(tuple(r) for r in mf.manifest_diff(old, new).collect())
    assert got == [("h1", "retained"), ("h2", "removed")]
