"""IVF ANN recall, frequent items."""

from __future__ import annotations

from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim


def test_ivf_topk_recall(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        r["query_id"]: r["neighbor_id"] for r in sim.cosine_topk(q, e, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.ivf_topk(q, e, k=1, n_cells=8, n_probe=4).collect()
    }
    hits = sum(1 for k_, v in exact.items() if approx.get(k_) == v)
    # probing half the cells should recover most true top-1s
    assert hits >= len(exact) * 0.6


def test_ivfpq_residual_encoding_beats_raw_and_holds_floor(spark):
    """VERDICT r4 ask #4: residual PQ (encode v - centroid(cell), ADC via
    dot(q, centroid) + table lookups) must not lose to the round-4
    by_residual=False variant at identical parameters, and must hold a
    recall floor on the fixture. At sf0.01 (the CORRECTNESS_local
    evidence scale) residual measures 0.80 vs raw 0.68; the tiny
    sf0.001 corpus runs here with a correspondingly looser floor."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(q, e, k=5).collect()
    }
    kw = dict(k=5, n_cells=16, n_probe=8, m=16, rerank=32)
    res = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivfpq_topk(q, e, **kw).collect()
    }
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivfpq_topk(q, e, by_residual=False, **kw).collect()
    }
    r_res = len(res & exact) / len(exact)
    r_raw = len(raw & exact) / len(exact)
    assert r_res >= r_raw
    assert r_res >= 0.7


def test_freq_items_contains_true_heavy_hitters(spark):
    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    freq = l.freqItems(["l_returnflag"], support=0.2).first()["l_returnflag_freqItems"]
    true_counts = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(true_counts.values())
    for flag, n in true_counts.items():
        if n / total >= 0.2:
            assert flag in freq


def test_embedding_dim_metadata_probe(tmp_path, monkeypatch):
    """Width comes from driver-local parquet metadata (no Spark job), with
    env override and a 0 result for all-null columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import embedding_dim

    p = str(tmp_path / "emb.parquet")
    pq.write_table(
        pa.table({"vec_id": [1, 2], "embedding": [None, [1.0, 2.0, 3.0]]}), p
    )
    assert embedding_dim(p) == 3

    nulls = str(tmp_path / "nulls.parquet")
    pq.write_table(
        pa.table(
            {"vec_id": [1], "embedding": pa.array([None], pa.list_(pa.float32()))}
        ),
        nulls,
    )
    assert embedding_dim(nulls) == 0

    monkeypatch.setenv("SPARK_GRAFT_EMBEDDING_DIM", "128")
    assert embedding_dim(nulls) == 128  # env override wins, no file read


def test_ann_index_fit_rejects_empty_candidates(spark):
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty sample"):
        sim.ivf_topk(empty.limit(1), empty, k=1, n_cells=4)


def test_embedding_centroids_exact_integer_sums(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.similarity import embedding_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0]),
            (0, [3.0, 0.5]),
            (1, [0.25, 0.75]),
        ],
        "label int, embedding array<float>",
    )
    out = embedding_centroids(df, group_col="label", vec_col="embedding")
    rows = {(r["label"], r["dim"]): (r["sum_scaled"], r["n"], r["centroid"]) for r in out.collect()}
    s = 1 << 20
    assert rows[(0, 0)] == (4 * s, 2, 2.0)
    assert rows[(0, 1)] == (-int(1.5 * s), 2, -0.75)
    assert rows[(1, 0)] == (int(0.25 * s), 1, 0.25)
    assert rows[(1, 1)] == (int(0.75 * s), 1, 0.75)


def test_embedding_centroids_partition_order_invariant(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.similarity import embedding_centroids

    import random

    rng = random.Random(7)
    rows = [(i % 3, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    df1 = spark.createDataFrame(rows, "label int, embedding array<float>").repartition(13)
    df2 = spark.createDataFrame(list(reversed(rows)), "label int, embedding array<float>").repartition(2)
    a = {
        (r["label"], r["dim"]): (r["sum_scaled"], r["centroid"])
        for r in embedding_centroids(df1, group_col="label", vec_col="embedding").collect()
    }
    b = {
        (r["label"], r["dim"]): (r["sum_scaled"], r["centroid"])
        for r in embedding_centroids(df2, group_col="label", vec_col="embedding").collect()
    }
    # exact integer sums make the result bit-identical under any
    # partitioning / combine order — the whole point of the contract
    assert a == b


def test_centroid_similarity_identical_groups_score_one(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
    import tempfile, os

    # labels 0 and 1 share the same member vectors -> identical
    # centroids -> cos 1.0; label 2 is orthogonal -> cos 0.0
    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.5], 0),
        (3, [1.0, 0.0], 1), (4, [1.0, 0.5], 1),
        (5, [0.0, 1.0], 2), (6, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = SPARK_QUERIES["centroid_similarity"](spark, d).collect()
    got = {(r["label_a"], r["label_b"]): r["cos_sim"] for r in out}
    assert got[(0, 1)] == 1.0
    # label 2's centroid is orthogonal to the x-heavy centroids
    assert got[(0, 2)] < 0.3 and got[(1, 2)] < 0.3


def test_ann_recall_sweep_shape_and_floors(spark):
    """The retrieval-quality gate (VERDICT r8 #8): one row per method,
    possible = |queries| x k from the exact baseline, hits <= returned,
    and every SHIPPED configuration holds a recall floor at fixture
    scale — including lsh_gate, which since VERDICT r10 #2 measures the
    exact parameters q_ann_lsh_topk ships (the _lsh_planes() 4x8
    default). Only lsh_2x8_contrast — the explicitly labeled worst-case
    contrast row, shipped by no query — is exempt from the floor."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES

    rows = {
        r["method"]: r
        for r in SPARK_QUERIES["ann_recall_sweep"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {
        "lsh_gate", "lsh_2x8_contrast", "ivf", "pq", "ivfpq",
        # round-12/13 portable members at their shipped gate geometry
        "lsh_portable", "ivf_portable", "pq_portable", "ivfpq_portable",
    }
    possible = {r["possible"] for r in rows.values()}
    assert len(possible) == 1 and possible.pop() > 0
    for r in rows.values():
        assert 0 <= r["hits"] <= r["returned"]
        assert abs(r["recall_at_k"] - r["hits"] / r["possible"]) < 1e-12
    for m in (
        "lsh_gate", "ivf", "pq", "ivfpq",
        "lsh_portable", "ivf_portable", "pq_portable", "ivfpq_portable",
    ):
        assert rows[m]["recall_at_k"] >= 0.3, (m, rows[m]["recall_at_k"])


class TestAnnIndexPersistence:
    """save_ann_index / load_ann_index: bit-exact round-trip and the
    prefit-centers path producing identical retrieval."""

    def test_round_trip_bit_exact(self, spark, tmp_path):
        import numpy as np

        from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

        rng = np.random.default_rng(3)
        centers = rng.random((4, 8))
        books = rng.random((2, 16, 4))
        path = str(tmp_path / "idx")
        sim.save_ann_index(spark, path, centers=centers, codebooks=books)
        loaded = sim.load_ann_index(spark, path)
        assert np.array_equal(loaded["centers"], centers)
        assert np.array_equal(loaded["codebooks"], books)

    def test_prefit_centers_reproduce_retrieval(self, spark, tmp_path):
        import numpy as np

        from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

        vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        if vecs.count() == 0:
            return
        queries = vecs.limit(5)
        centers = sim._fit_coarse_centers(
            vecs, "embedding", 4, seed=42, max_iter=10, fit_sample=512
        )
        path = str(tmp_path / "idx")
        sim.save_ann_index(spark, path, centers=centers)
        loaded = sim.load_ann_index(spark, path)["centers"]
        a = sorted(map(tuple, sim.ivf_topk(
            queries, vecs, k=3, n_cells=4, n_probe=2,
        ).collect()))
        b = sorted(map(tuple, sim.ivf_topk(
            queries, vecs, k=3, n_cells=4, n_probe=2, centers=loaded,
        ).collect()))
        assert a == b

    def test_guards(self, spark, tmp_path):
        import numpy as np
        import pytest

        from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

        with pytest.raises(ValueError, match="nothing to save"):
            sim.save_ann_index(spark, str(tmp_path / "x"))
        vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with pytest.raises(ValueError, match="prefit centers"):
            sim.ivf_topk(
                vecs.limit(1), vecs, n_cells=4, centers=np.zeros((3, 8))
            ).collect()


class TestIvfpqBuildProbeSplit:
    """Round 15: ivfpq_topk == ivfpq_index ∘ ivfpq_probe, and a
    persisted index round-trips into the probe bit-exactly — the
    build-once/probe-many production shape."""

    def test_split_identical_to_composed(self, spark):
        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 40 == 0)
        composed = sorted(
            tuple(r)
            for r in sim.ivfpq_topk(
                q, e, k=5, n_cells=8, n_probe=4, m=16, rerank=16
            ).collect()
        )
        idx, centers, books = sim.ivfpq_index(e, n_cells=8, m=16)
        split = sorted(
            tuple(r)
            for r in sim.ivfpq_probe(
                q, idx, centers, books, candidates=e, k=5, n_probe=4, rerank=16
            ).collect()
        )
        assert composed == split and len(split) > 0

    def test_persisted_index_reproduces_probe(self, spark, tmp_path):
        import numpy as np

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 40 == 0)
        idx, centers, books = sim.ivfpq_index(e, n_cells=8, m=16)
        base = sorted(
            tuple(r)
            for r in sim.ivfpq_probe(
                q, idx, centers, books, candidates=e, k=5, n_probe=4, rerank=16
            ).collect()
        )
        # persist fit + encoded table; reload into a fresh probe
        sim.save_ann_index(
            spark, str(tmp_path / "fit"), centers=centers, codebooks=books
        )
        idx.write.parquet(str(tmp_path / "enc"))
        loaded = sim.load_ann_index(spark, str(tmp_path / "fit"))
        assert np.array_equal(loaded["centers"], centers)
        assert np.array_equal(loaded["codebooks"], books)
        idx2 = spark.read.parquet(str(tmp_path / "enc"))
        again = sorted(
            tuple(r)
            for r in sim.ivfpq_probe(
                q, idx2, loaded["centers"], loaded["codebooks"],
                candidates=e, k=5, n_probe=4, rerank=16,
            ).collect()
        )
        assert again == base

    def test_prefit_skips_refit(self, spark):
        import numpy as np

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        _, centers, books = sim.ivfpq_index(e, n_cells=8, m=16)
        _, c2, b2 = sim.ivfpq_index(
            e, n_cells=8, m=16, centers=centers, codebooks=books
        )
        assert np.array_equal(centers, c2) and np.array_equal(books, b2)

    def test_prefit_geometry_mismatch_is_loud(self, spark):
        import numpy as np
        import pytest

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        _, centers, books = sim.ivfpq_index(e, n_cells=8, m=16)
        with pytest.raises(ValueError, match="prefit centers"):
            sim.ivfpq_index(e, n_cells=16, m=16, centers=centers, codebooks=books)
        with pytest.raises(ValueError, match="prefit codebooks"):
            sim.ivfpq_index(e, n_cells=8, m=8, centers=centers, codebooks=books)
        with pytest.raises(ValueError, match="prefit codebooks"):
            sim.ivfpq_index(
                e, n_cells=8, m=16, centers=centers, codebooks=books[:, :4]
            )
        with pytest.raises(ValueError, match="disagree"):
            sim.ivfpq_index(
                e, n_cells=8, m=16, centers=centers,
                codebooks=np.concatenate([books, books], axis=2),
            )
