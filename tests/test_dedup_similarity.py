"""Dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard) and
similarity search (exact + LSH cosine top-k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again today!"),  # near-dup of 1
    (3, "completely different text about database query engines and shuffles"),
    (4, "THE  quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1 (normalized)
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups_normalized_dups(docs):
    out = dd.exact_dedup(docs)
    rows = {r["keeper_id"]: r["n_copies"] for r in out.collect()}
    assert rows[1] == 2  # 1 and 4 collapse (case/whitespace normalized)
    assert rows[2] == 1 and rows[3] == 1 and rows[5] == 1


def test_minhash_finds_neardups_not_distinct(docs):
    pairs = dd.minhash_lsh_candidates(docs, num_hashes=16, bands=4, min_est_jaccard=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got or (1, 4) in got  # near/exact dups surface
    assert (1, 4) in got
    for a, b in got:
        assert {a, b} != {1, 3} and {a, b} != {2, 3}  # dissimilar never pairs


def test_simhash_identical_zero_hamming(spark, docs):
    sh = dd.simhash_df(docs)
    rows = {r["id"]: r["sh"] for r in sh.collect()}
    assert rows[1] == rows[4]  # normalized-identical -> same simhash
    pairs = dd.simhash_neardups_blocked(docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 4)) == 0
    # NULL text has no tokens, so explode drops the row: no signature
    withnull = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    assert [r["id"] for r in dd.simhash_df(withnull).orderBy("id").collect()] == [1, 3]


def test_ngram_jaccard_bounds(spark, docs):
    left = docs.select(F.col("doc_id").alias("id_a"), "text")
    right = docs.select(F.col("doc_id").alias("id_b"), "text")
    out = dd.ngram_jaccard(
        left, right, F.col("l.id_a") == F.col("r.id_b"), k=3
    ).select("id_a", "id_b", "jaccard")
    for r in out.collect():
        assert r["jaccard"] == 1.0  # self-pairs are exactly 1


def test_cosine_topk_exact_neighbor(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter(F.col("vec_id") == 0)
    out = sim.cosine_topk(q, vecs, k=3)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked[0] == 1 and ranked[-1] == 3


def test_lsh_topk_recall_at_least_half(spark):
    """LSH top-1 should agree with exact top-1 for most queries on the
    real embeddings fixture."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    dim = len(e.select("embedding").first()[0])
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.cosine_topk(q, e, k=1).collect()
    }
    import numpy as np

    # Random (unclustered) embeddings are LSH's worst case: use short
    # signatures x many tables. p(top-1 in same bucket, cos~0.5) ≈
    # 1-(1-(2/3)^4)^8 ≈ 0.83.
    rng = np.random.default_rng(42)
    planes = [
        [[float(x) for x in rng.standard_normal(dim)] for _ in range(4)]
        for _ in range(8)
    ]
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.lsh_topk(q, e, planes, k=1).collect()
    }
    hits = sum(1 for k, v in exact.items() if approx.get(k) == v)
    assert hits >= len(exact) // 2


def test_embedding_neardup_lsh_recall_and_plan(spark):
    """The gated embedding_neardup query runs the LSH-bucketed path — it
    must (a) never produce a pair the exact path wouldn't (precision 1.0:
    every candidate is exact-rescored), (b) recover >=60% of true pairs on
    the fixture, (c) contain no all-pairs/nested-loop join in its plan."""
    import io
    import re
    from contextlib import redirect_stdout

    from wordpress_sql_to_contentstack_exporter_spark.plans import registry as reg

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["id_a"], r["id_b"])
        for r in reg.q_embedding_neardup_exact(spark, sf).collect()
    }
    approx_df = reg.q_embedding_neardup(spark, sf)
    approx = {(r["id_a"], r["id_b"]) for r in approx_df.collect()}

    assert approx <= exact  # exact rescoring => no false positives
    assert len(approx) >= 0.6 * len(exact), (len(approx), len(exact))

    buf = io.StringIO()
    with redirect_stdout(buf):
        approx_df.explain("formatted")
    plan = buf.getvalue()
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan), plan


def test_simhash_blocked_exact_recall_vs_brute_force(spark):
    """The combination blocking is EXACT: over random-ish signatures,
    the blocked pair set equals the brute-force set of all pairs within
    max_hamming — the pigeonhole guarantee (>= combo_r intact blocks)
    plus the first-intact-combo filter (exactly one emission per pair,
    no distinct) must lose nothing and duplicate nothing."""
    import itertools
    import random

    rng = random.Random(7)
    base = [rng.getrandbits(62) for _ in range(20)]
    sigs_py = []
    i = 0
    for b in base:
        sigs_py.append((i, b)); i += 1
        # planted neighbors at controlled Hamming distances 1..9
        for d in (1, 3, 6, 8, 9):
            flipped = b
            for bit in rng.sample(range(63), d):
                flipped ^= 1 << bit
            sigs_py.append((i, flipped)); i += 1
    sigs = spark.createDataFrame(sigs_py, "id long, sh long")

    for k in (4, 6, 8):
        brute = {
            (a, b)
            for (a, sa), (b, sb) in itertools.combinations(sigs_py, 2)
            if bin(sa ^ sb).count("1") <= k
        }
        rows = dd.simhash_blocked_pairs_from_sigs(sigs, max_hamming=k).collect()
        got = [(r["id_a"], r["id_b"]) for r in rows]
        assert len(got) == len(set(got)), "duplicate pair emitted"
        assert set(got) == brute, f"k={k}"
        # hamming column is the true distance
        by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
        for (a, sa), (b, sb) in itertools.combinations(sigs_py, 2):
            if (a, b) in by_pair:
                assert by_pair[(a, b)] == bin(sa ^ sb).count("1")


def test_simhash_blocked_cap_and_validation(spark):
    """The (table, key) cap drops pathological groups whole — an
    all-identical signature corpus yields zero pairs under a small cap
    (identical docs belong to exact dedup) while a cap far above a
    benign corpus's block sizes changes nothing — and parameter
    validation rejects geometries that break the pigeonhole guarantee."""
    n = 40
    sigs = spark.createDataFrame(
        [(i, 123456789) for i in range(n)], "id long, sh long"
    )
    uncapped = dd.simhash_blocked_pairs_from_sigs(sigs, max_hamming=4)
    assert uncapped.count() == n * (n - 1) // 2
    capped = dd.simhash_blocked_pairs_from_sigs(
        sigs, max_hamming=4, max_block_size=10
    )
    assert capped.count() == 0
    benign = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string"),
                 F.lit(" totally unique words "), (F.col("id") * 7).cast("string")).alias("text"),
    )
    plain = sorted(map(tuple, dd.simhash_neardups_blocked(benign).collect()))
    wide = dd.simhash_neardups_blocked(benign, max_block_size=10_000)
    assert plain and plain == sorted(map(tuple, wide.collect()))

    with pytest.raises(ValueError, match="pigeonhole"):
        dd.simhash_blocked_pairs_from_sigs(sigs, max_hamming=6, n_blocks=7)
    with pytest.raises(ValueError, match="combo_r"):
        dd.simhash_blocked_pairs_from_sigs(sigs, max_hamming=6, combo_r=0)
    with pytest.raises(ValueError, match="16"):
        dd.simhash_blocked_pairs_from_sigs(sigs, max_hamming=15, combo_r=2)


def test_minhash_bucket_cap_bounds_pathological_corpus(spark):
    """An all-identical corpus puts every doc in one bucket per band ->
    C(n,2) pairs without a cap. max_bucket_size drops the giant buckets
    entirely (exact_dedup handles identical docs linearly), bounding the
    join output."""
    n = 60
    rows = [(i, "same boilerplate text repeated across the entire corpus here") for i in range(n)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dd.minhash_lsh_candidates(corpus, min_est_jaccard=0.0)
    assert uncapped.count() == n * (n - 1) // 2

    capped = dd.minhash_lsh_candidates(corpus, min_est_jaccard=0.0, max_bucket_size=10)
    assert capped.count() == 0

    # a cap far above any real bucket is a no-op on a mixed corpus
    mixed = spark.createDataFrame(DOCS, "doc_id long, text string")
    base = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates(mixed, min_est_jaccard=0.0).collect()
    }
    wide = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates(
            mixed, min_est_jaccard=0.0, max_bucket_size=1000
        ).collect()
    }
    assert base == wide


def test_minhash_bucket_stats_reports_skew(spark):
    """Skew telemetry (VERDICT r2 ask #8): an all-identical corpus lands
    every doc in one bucket per band — max_bucket == corpus size and,
    with a cap below it, every such bucket counts as capped. A diverse
    corpus under a generous cap reports zero capped buckets."""
    n = 40
    rows = [(i, "same boilerplate text repeated across the entire corpus here") for i in range(n)]
    boiler = spark.createDataFrame(rows, "doc_id long, text string")
    stats = dd.minhash_bucket_stats(boiler, num_hashes=16, bands=2, max_bucket_size=10)
    assert stats["max_bucket"] == n
    assert stats["capped_buckets"] == 2  # one giant bucket per band
    assert stats["buckets"] == 2

    mixed = spark.createDataFrame(DOCS, "doc_id long, text string")
    wide = dd.minhash_bucket_stats(mixed, num_hashes=16, bands=2, max_bucket_size=1000)
    assert wide["capped_buckets"] == 0
    assert 1 <= wide["max_bucket"] <= len(DOCS)


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "a line\ndup line\nb line"),
            (2, "dup line\nc line"),
            (3, "dup line"),  # fully duplicate doc -> empty output
            (4, ""),
            (5, "  \n \n"),  # whitespace-only paragraphs dropped
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert rows[1]["text_dedup"] == "a line\ndup line\nb line"
    assert (rows[1]["n_paras"], rows[1]["n_kept"]) == (3, 3)
    assert rows[2]["text_dedup"] == "c line"  # dup removed, order kept
    assert (rows[2]["n_paras"], rows[2]["n_kept"]) == (2, 1)
    assert rows[3]["text_dedup"] == "" and rows[3]["n_kept"] == 0
    assert rows[4]["text_dedup"] == "" and rows[4]["n_paras"] == 0
    assert rows[5]["n_paras"] == 0


def test_paragraph_dedup_within_doc_repeats(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(7, "x\ny\nx\nx\nz")], "doc_id long, text string"
    )
    row = paragraph_dedup(docs).collect()[0]
    assert row["text_dedup"] == "x\ny\nz"
    assert (row["n_paras"], row["n_kept"]) == (5, 3)


def test_pq_topk_recall_and_compressed_scan(spark):
    """PQ ANN: recall vs exact top-k on the fixture, deterministic output
    across runs (seeded codebooks), and the ADC scan must not carry raw
    vectors (the compressed-index property that matters at scale)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.similarity import cosine_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, emb, k=5).collect()}
    pq = pq_topk(q, emb, k=5, m=16, n_codes=16, rerank=32)
    got = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    assert len(exact & got) / len(exact) >= 0.6
    # deterministic: second build returns identical rows
    again = {(r["query_id"], r["neighbor_id"]) for r in
             pq_topk(q, emb, k=5, m=16, n_codes=16, rerank=32).collect()}
    assert got == again


def test_pq_topk_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="divisible"):
        pq_topk(emb.limit(2), emb, m=7)


def test_ivfpq_topk_recall(spark):
    """Composed IVF-PQ: recall vs exact with the gate's configuration;
    the scan index carries only (cell, codes, recon_norm)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.similarity import cosine_topk, ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, emb, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in
           ivfpq_topk(q, emb, k=5, n_cells=16, n_probe=8, m=16, rerank=32).collect()}
    assert len(exact & got) / len(exact) >= 0.6


def test_fuzzy_pairs_d1_finds_all_edit_kinds(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import fuzzy_pairs_d1

    df = spark.createDataFrame(
        [
            ("kitten",),
            ("mitten",),    # substitution
            ("kitte",),     # deletion
            ("kittens",),   # insertion
            ("sitting",),   # distance 3 -> excluded
            ("kitten",),    # exact duplicate -> collapsed, no pair
        ],
        "s string",
    )
    out = fuzzy_pairs_d1(df, text_col="s")
    pairs = {(r["s_a"], r["s_b"]) for r in out.collect()}
    assert ("kitten", "mitten") in pairs
    assert ("kitte", "kitten") in pairs
    assert ("kitten", "kittens") in pairs
    # kitte<->kittens is distance 2 (del_i = del_j false positive): the
    # verify stage must have removed it
    assert ("kitte", "kittens") not in pairs
    assert all("sitting" not in p for p in pairs)
    assert all(r["dist"] == 1 for r in out.collect())


def test_fuzzy_pairs_d1_exhaustive_vs_bruteforce(spark):
    import itertools

    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import fuzzy_pairs_d1

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    words = ["abc", "abd", "ab", "abcd", "bcd", "xyz", "xy", "a", "", "b", "ba"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    expect = {
        tuple(sorted((u, v)))
        for u, v in itertools.combinations(set(words), 2)
        if lev(u, v) == 1
    }
    got = {(r["s_a"], r["s_b"]) for r in fuzzy_pairs_d1(df, text_col="s").collect()}
    assert got == expect


def test_fuzzy_pairs_d1_bucket_cap_drops_giant_family(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import fuzzy_pairs_d1

    # "page 0".."page 9" all share the deletion variant "page " -> one
    # bucket of 10; cap below that kills the family, the unrelated pair
    # survives in its own small bucket
    rows = [(f"page {i}",) for i in range(10)] + [("alpha",), ("alpho",)]
    df = spark.createDataFrame(rows, "s string")
    capped = fuzzy_pairs_d1(df, text_col="s", max_bucket_size=5)
    pairs = {(r["s_a"], r["s_b"]) for r in capped.collect()}
    assert pairs == {("alpha", "alpho")}
    full = fuzzy_pairs_d1(df, text_col="s")
    assert len(full.collect()) == 45 + 1  # C(10,2) page pairs + alpha/alpho


def test_setsim_join_matches_bruteforce(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import setsim_join

    import itertools
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    base = rng.sample(vocab, 20)
    docs = []
    for i in range(12):
        toks = list(base)
        for _ in range(rng.randint(0, 8)):  # mutate some tokens
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((i, " ".join(toks)))
    docs.append((100, " ".join(rng.sample(vocab, 15))))  # unrelated

    def shingles(text):
        t = text.split()
        return {f"{a} {b}" for a, b in zip(t, t[1:])}

    expect = set()
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        inter = len(sa & sb)
        union = len(sa | sb)
        if union and 10 * inter >= 6 * union:
            expect.add((min(ia, ib), max(ia, ib)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = setsim_join(df, id_col="doc_id", text_col="text", tau_num=6, tau_den=10)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == expect  # exact recall: the prefix filter misses nothing


def test_setsim_join_integer_threshold_boundary(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import setsim_join

    # shingle sets: a={ab,bc,cd,de}, b shares exactly 3 of 4 with union 5
    # -> jaccard 3/5 = 0.6 exactly: the integer rule fires AT equality
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")],
        "doc_id long, text string",
    )
    out = setsim_join(df, id_col="doc_id", text_col="text", tau_num=6, tau_den=10).collect()
    assert [(r["id_a"], r["id_b"], r["inter_size"], r["union_size"]) for r in out] == [
        (1, 2, 3, 5)
    ]
    # one notch stricter and the same pair must vanish
    stricter = setsim_join(df, id_col="doc_id", text_col="text", tau_num=61, tau_den=100)
    assert stricter.count() == 0


def test_fuzzy_join_d1_cross_table_keeps_exact_matches(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import fuzzy_join_d1

    left = spark.createDataFrame(
        [(1, "kitten"), (2, "kitte"), (3, "zzz")], "lid long, s string"
    )
    right = spark.createDataFrame(
        [(10, "kitten"), (11, "mitten"), (12, "abcdef")], "rid long, s string"
    )
    out = fuzzy_join_d1(left, right, left_id="lid", right_id="rid", text_col="s")
    got = {(r["lid"], r["rid"]): r["dist"] for r in out.collect()}
    # exact match survives with dist 0 (unlike the self-join form)
    assert got[(1, 10)] == 0
    assert got[(1, 11)] == 1   # substitution
    assert got[(2, 10)] == 1   # deletion
    assert (3, 12) not in got and all(l != 3 for l, _ in got)


def test_fuzzy_join_d1_bucket_cap_guards_reference_side(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import fuzzy_join_d1

    left = spark.createDataFrame([(1, "page 3")], "lid long, s string")
    right = spark.createDataFrame(
        [(i, f"page {i}") for i in range(10)] + [(99, "other")], "rid long, s string"
    )
    full = fuzzy_join_d1(left, right, left_id="lid", right_id="rid", text_col="s")
    assert full.count() == 10  # "page 3" within dist 1 of all ten "page N"
    capped = fuzzy_join_d1(
        left, right, left_id="lid", right_id="rid", text_col="s", max_bucket_size=5
    )
    # the shared "page " deletion bucket (10 refs) is dropped; only the
    # small per-digit buckets survive -> just the exact match remains
    got = {(r["lid"], r["rid"]) for r in capped.collect()}
    assert got == {(1, 3)}


def test_source_overlap_detects_syndicated_content(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
    import tempfile, os

    shared = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, shared + " alpha", "en", "mirror_a", 0),
        (2, shared + " beta", "en", "mirror_b", 0),
        (3, "completely different text with no common trigrams at all", "en", "indie", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = SPARK_QUERIES["source_overlap"](spark, d).collect()
    got = {(r["src_a"], r["src_b"]): r for r in out}
    m = got[("mirror_a", "mirror_b")]
    # the two mirrors share the 8 trigrams of the shared sentence
    assert m["overlap_grams"] == 8
    assert m["containment"] == 8 / min(m["n_a"], m["n_b"])
    # the indie source shares nothing with either mirror
    assert ("indie", "mirror_a") not in got and ("mirror_a", "indie") not in got


def test_curation_pipeline_ladder_and_determinism(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    r1 = SPARK_QUERIES["curation_pipeline"](spark, sf).collect()[0]
    # the monotone curation ladder
    assert r1["n_input"] >= r1["n_quality"] >= r1["n_after_exact"] >= r1["n_final"]
    # one keeper per cluster by construction
    assert r1["n_final"] == r1["n_clusters"]
    # corpus = documents + one perturbed copy each
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert r1["n_input"] == 2 * n_docs
    # near-dup stage really fires: perturbed copies pair with originals
    assert r1["n_pairs"] > 0 and r1["n_clusters"] < r1["n_after_exact"]
    # bit-deterministic end to end (hash-based stages, no rand())
    r2 = SPARK_QUERIES["curation_pipeline"](spark, sf).collect()[0]
    assert r1 == r2


def test_tfidf_pairs_ranks_shared_rare_trigrams(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
    import tempfile, os

    rare = "zeta omega kappa sigma"
    rows = [
        (1, "common words here and " + rare, "en", "s", 0),
        (2, "other phrasing then " + rare, "en", "s", 0),
        (3, "common words here and nothing else shared", "en", "s", 0),
        (4, "totally unrelated text body", "en", "s", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = [(r["id_a"], r["id_b"], r["score"]) for r in SPARK_QUERIES["tfidf_pairs"](spark, d).collect()]
    assert out, "no pairs scored"
    # the pair sharing the rare 4-gram run tops the ranking
    assert (out[0][0], out[0][1]) == (1, 2)
    pair_ids = {(a, b) for a, b, _ in out}
    assert (1, 3) in pair_ids  # shares 'common words here and' trigrams
    assert all(4 not in p for p in pair_ids)


def test_containment_superset_pairs_score_one(spark):
    """The registry containment gate's planted superset family must
    score exactly 1.0 (appending text removes none of A's shingles),
    and a disjoint pair scores 0."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import q_containment

    # build a private corpus through the same operator the gate uses
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # superset
            (3, "one two three four five six"),                     # disjoint
        ],
        "doc_id long, text string",
    )
    lsh = dd.word_shingles(F.col("l.text"), 3)
    rsh = dd.word_shingles(F.col("r.text"), 3)
    inter = F.size(F.array_intersect(lsh, rsh))
    na = F.size(lsh)
    out = {
        r["id_b"]: (r["c"], r["flag"])
        for r in a.alias("l")
        .crossJoin(b.alias("r"))
        .select(
            F.col("r.doc_id").alias("id_b"),
            (inter / na).alias("c"),
            ((inter * 100) >= (na * 80)).alias("flag"),
        )
        .collect()
    }
    assert out[2] == (1.0, True)
    assert out[3] == (0.0, False)


def test_ngram_novelty_first_doc_owns_all_grams(spark, tmp_path):
    """Doc ordering semantics: the first doc's grams are all novel; an
    exact repeat contributes zero novel grams; a half-new doc splits."""
    import shutil

    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES

    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "en", "s", 9),
            (2, "a b c d e", "en", "s", 9),            # exact repeat: 0 novel
            (3, "a b c d e x y z w v", "en", "s", 19),  # half new
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"])
        for r in SPARK_QUERIES["ngram_novelty"](spark, str(d)).collect()
    }
    assert out[1] == (3, 3)          # 3 distinct 3-grams, all first seen here
    assert out[2] == (3, 0)          # exact repeat
    n_grams3, n_novel3 = out[3]
    assert n_grams3 == 8 and n_novel3 == 5  # 'cde'-prefix overlap seen before
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_calibration_separates_planted(spark):
    """The calibration composition: the TOP score bucket must be pure
    planted pairs (tp > 0, fp == 0 at its threshold), and the curve's
    totals must cover every candidate pair exactly once."""
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
        q_dedup_calibration,
    )

    rows = sorted(
        q_dedup_calibration(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["bucket"],
    )
    top = rows[-1]
    # the top score bucket is dominated by planted pairs (the fixture
    # also contains NATURAL duplicate texts, so perfect purity is not a
    # valid expectation — precision >= 0.8 is)
    assert top["tp"] > 0
    assert top["tp"] * 10 >= (top["tp"] + top["fp"]) * 8
    # the lowest threshold retrieves every candidate: nothing below it
    assert rows[0]["fn"] == 0
    # threshold ordering: tp nonincreasing with bucket
    tps = [r["tp"] for r in rows]
    assert tps == sorted(tps, reverse=True)


def test_windowed_dedup_burst_semantics(spark):
    """Gap-rule bursts: same content at t=0, t+3d, t+20d, t+22d with a
    7-day window -> bursts {0,3d} and {20d,22d}, keepers at 0 and 20d;
    distinct content is always its own keeper."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import windowed_dedup

    D = 86_400
    rows = [
        (1, "same text", 0), (2, "same text", 3 * D),
        (3, "same text", 20 * D), (4, "same text", 22 * D),
        (5, "other text", 1 * D),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ep long")
    out = {
        r["doc_id"]: (r["burst_id"], r["is_keeper"])
        for r in windowed_dedup(
            df, epoch_col="ep", window_seconds=7 * D
        ).collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (2, True)
    assert out[4] == (2, False)
    assert out[5] == (1, True)


def test_windowed_dedup_gap_rule_never_rekeeps_slow_drip(spark):
    """The documented conservative edge: re-posts every window-1
    seconds chain into ONE burst (gap rule), so only the first keeps."""
    from wordpress_sql_to_contentstack_exporter_spark.operators.dedup import windowed_dedup

    rows = [(i, "drip", i * 6) for i in range(5)]  # gap 6s < window 7s
    df = spark.createDataFrame(rows, "doc_id long, text string, ep long")
    out = windowed_dedup(df, epoch_col="ep", window_seconds=7)
    keepers = [r["doc_id"] for r in out.collect() if r["is_keeper"]]
    assert keepers == [0]


class TestSemDeDup:
    """SemDeDup (similarity.semdedup): within-cell greedy semantic
    pruning — planted dup resolution, the farthest-from-centroid keeper
    rule, and the loud cell-size cap."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        # two tight semantic families far apart + one isolated vector;
        # family members are scaled/jittered copies (cosine ~1 inside,
        # ~0 across)
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),     # dup of 1
            (3, [1.01, -0.01, 0.0, 0.0]),     # dup of 1
            (10, [0.0, 0.0, 1.0, 0.0]),
            (11, [0.0, 0.01, 0.998, 0.0]),    # dup of 10
            (20, [0.0, 0.0, 0.0, 1.0]),       # isolated
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_one_survivor_per_semantic_family(self, vecs):
        out = sim.semdedup(
            vecs, n_cells=3, threshold=0.95, fit_sample=10, seed=3
        ).collect()
        kept = {r["vec_id"] for r in out if r["keep"]}
        assert len(kept & {1, 2, 3}) == 1
        assert len(kept & {10, 11}) == 1
        assert 20 in kept
        # dropped rows carry the similarity that killed them
        for r in out:
            if not r["keep"]:
                assert r["max_kept_sim"] is not None and r["max_kept_sim"] >= 0.95
            else:
                assert r["max_kept_sim"] is None

    def test_deterministic_across_runs(self, vecs):
        a = sorted(map(tuple, sim.semdedup(
            vecs, n_cells=3, threshold=0.95, fit_sample=10, seed=3
        ).collect()))
        b = sorted(map(tuple, sim.semdedup(
            vecs, n_cells=3, threshold=0.95, fit_sample=10, seed=3
        ).collect()))
        assert a == b

    def test_threshold_one_keeps_everything_but_exact_direction_dups(self, spark):
        rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0])]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = sim.semdedup(vecs, n_cells=1, threshold=1.0, fit_sample=3, seed=1)
        kept = {r["vec_id"] for r in out.collect() if r["keep"]}
        # 1 and 2 are the SAME direction (cosine exactly 1.0): one survives
        assert len(kept & {1, 2}) == 1 and 3 in kept

    def test_cell_cap_raises_loudly(self, vecs):
        with pytest.raises(Exception, match="max_cell_rows"):
            sim.semdedup(
                vecs, n_cells=1, threshold=0.9, fit_sample=10, seed=3,
                max_cell_rows=2,
            ).collect()

    def test_bad_threshold_rejected(self, vecs):
        with pytest.raises(ValueError, match="threshold"):
            sim.semdedup(vecs, threshold=0.0)


def test_minhash_portable_pairs_planted_and_capped(spark):
    """md5 MinHash (the oracle-verifiable variant): a high-Jaccard
    planted pair surfaces with near-full signature agreement; disjoint
    docs never pair; a boilerplate bucket over the cap is dropped
    whole; invalid params raise."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    boiler = "all rights reserved footer " * 3
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, "totally different words here nothing shared at all zebra"),
    ] + [(10 + i, boiler) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    out = {
        (r.doc_id_a, r.doc_id_b): r
        for r in dd.minhash_portable_pairs(
            df, num_hashes=16, bands=4, min_agree=8, max_bucket_size=4
        ).collect()
    }
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.sig_agree >= 8 and abs(r.est_jaccard - r.sig_agree / 16) < 1e-15
    assert not any(3 in p for p in out)
    # 5 identical boilerplate docs > cap=4: bucket dropped whole
    assert not any(a >= 10 and b >= 10 for a, b in out)

    # raising the cap lets the boilerplate cluster pair (sig_agree 16)
    uncapped = {
        (r.doc_id_a, r.doc_id_b): r.sig_agree
        for r in dd.minhash_portable_pairs(
            df, num_hashes=16, bands=4, min_agree=8, max_bucket_size=50
        ).collect()
    }
    assert uncapped[(10, 11)] == 16

    import pytest as _pt

    with _pt.raises(ValueError):
        dd.minhash_portable_pairs(df, num_hashes=16, bands=5)
    with _pt.raises(ValueError):
        dd.minhash_portable_pairs(df, min_agree=0)
    with _pt.raises(ValueError):
        dd.minhash_portable_pairs(df, max_bucket_size=1)


def test_simhash_portable_pairs_exact_hamming_and_blocks(spark):
    """Portable SimHash: identical docs at hamming 0; a lightly edited
    copy within the threshold; disjoint docs never pair; pigeonhole
    blocks give EXACT candidate recall (every true pair within
    max_hamming survives); boilerplate block cap; validation."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon " * 3)
    rows = [
        (1, base),
        (2, base),                      # exact copy -> hamming 0
        (3, base + " tiny edit"),       # light edit -> small hamming
        (4, "completely different unrelated words entirely elsewhere "
            "nothing shared whatsoever zebra quux corge grault garply"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    out = {
        (r.doc_id_a, r.doc_id_b): r
        for r in dd.simhash_portable_pairs(df, max_hamming=10).collect()
    }
    assert out[(1, 2)].hamming == 0
    assert out[(1, 2)].simhash_a == out[(1, 2)].simhash_b
    assert (1, 3) in out and 0 < out[(1, 3)].hamming <= 10
    assert not any(4 in p for p in out)

    # exactness: brute-force hamming from the per-pair simhash values
    # agrees with the operator's own reported hamming
    for r in out.values():
        assert bin(r.simhash_a ^ r.simhash_b).count("1") == r.hamming

    # block cap: 5 identical boilerplate docs > cap=4 are dropped whole
    boiler = [(10 + i, "all rights reserved footer " * 4) for i in range(5)]
    df2 = spark.createDataFrame(rows + boiler, "doc_id long, text string")
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.simhash_portable_pairs(
            df2, max_hamming=10, max_block_size=4
        ).collect()
    }
    assert not any(a >= 10 and b >= 10 for a, b in capped)

    import pytest as _pt

    with _pt.raises(ValueError):
        dd.simhash_portable_pairs(df, max_hamming=0)
    with _pt.raises(ValueError):
        dd.simhash_portable_pairs(df, max_hamming=60)
    with _pt.raises(ValueError):
        dd.simhash_portable_pairs(df, max_block_size=1)


def test_soft_dedup_weights_conserve_unit_mass_per_cluster(docs):
    """SoftDeDup reweighting (round 12): every input row survives, each
    content cluster's weights sum to exactly 1 document of training
    mass, and singletons carry weight 1.0."""
    out = dd.soft_dedup_weights(docs).collect()
    assert len(out) == len(DOCS)  # nothing dropped
    by_hash: dict[str, list] = {}
    for r in out:
        by_hash.setdefault(r["content_hash"], []).append(r)
    # docs 1 and 4 normalize to the same content -> one 2-copy cluster
    sizes = sorted(len(v) for v in by_hash.values())
    assert sizes == [1, 1, 1, 2]
    for rows in by_hash.values():
        n = rows[0]["n_copies"]
        assert n == len(rows)
        for r in rows:
            assert float(r["weight"]) == 1.0 / n
        # unit mass per cluster (n * (1/n) exact for small n)
        assert abs(sum(float(r["weight"]) for r in rows) - 1.0) < 1e-12


def test_soft_dedup_weights_keeps_null_text_rows(spark):
    """Review r12c #1: NULL text coalesces to the empty-content hash —
    every input row survives (the old count-join dropped NULL keys),
    and NULL/empty share one cluster by the documented contract."""
    df = spark.createDataFrame(
        [(1, "real content here"), (2, None), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = dd.soft_dedup_weights(df).collect()
    assert len(out) == 4
    by_id = {int(r["doc_id"]): r for r in out}
    empty_cluster = {2, 3, 4}
    hashes = {by_id[i]["content_hash"] for i in empty_cluster}
    assert len(hashes) == 1  # NULL and "" share the empty-content hash
    for i in empty_cluster:
        assert int(by_id[i]["n_copies"]) == 3
        assert float(by_id[i]["weight"]) == 1.0 / 3
    assert int(by_id[1]["n_copies"]) == 1 and float(by_id[1]["weight"]) == 1.0
