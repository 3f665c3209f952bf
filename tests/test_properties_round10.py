"""Round-10 tests for the three curation additions.

1. unicode_clean: NFC parity with Python's own normalizer on
   adversarial fixtures (decomposed accents, canonical reordering,
   embedded controls, newline variants), idempotence (a second pass is
   a no-op — NFC is a projection), and the exact-dedup unification
   property: composed and decomposed spellings of the same visible text
   hash-equal after cleaning.
2. rare_token_ratio: exact integer expectations on a constructed
   corpus with known document frequencies, the token-less-doc flagging
   rule, and argument validation.
3. temperature_allocation: allocation sums to budget EXACTLY (the
   defining largest-remainder invariant) across random corpora and all
   alpha tiers, alpha=1 matches exact rational apportionment, monotone
   in counts, single-domain degenerate case, validation errors.

Hypothesis drives the data; few, fat examples — Spark job latency
dominates (round-6/7 convention).
"""

from __future__ import annotations

import unicodedata
from fractions import Fraction

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wordpress_sql_to_contentstack_exporter_spark.operators import sampling as smp
from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


# ---------------------------------------------------------------- unicode


ADVERSARIAL = [
    (0, "plain ascii text"),
    (1, "Cafe\u0301 au lait"),  # decomposed acute -> NFC composes
    (2, "Caf\u00e9 au lait"),   # precomposed -- same visible text as 1
    (3, "\u1e0b\u0323 reorder"),  # NFC must emit U+1E0D U+0307
    (4, "ctrl\u0000 here\u0008and\u007f"),  # NUL/BS/DEL stripped
    (5, "a\r\nb\rc\nd"),  # newline zoo -> all \n
    (6, "tab\tand\nnewline kept"),
    (7, ""),
    (8, "A\u030a ring"),  # decomposed ring -> NFC composes to U+00C5
    (9, None),  # NULL text propagates (never rewritten to empty)
]


def test_unicode_clean_matches_python_normalizer(spark):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    got = {r.doc_id: r for r in tx.unicode_clean(df).collect()}
    import re

    for doc_id, raw in ADVERSARIAL:
        if raw is None:
            row = got[doc_id]
            assert row.text_clean is None
            assert row.n_raw_chars is None and row.n_clean_chars is None
            assert row.changed == 0
            continue
        stripped = re.sub("\r\n?", "\n", raw)
        stripped = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", stripped)
        want = unicodedata.normalize("NFC", stripped)
        row = got[doc_id]
        assert row.text_clean == want, (doc_id, row.text_clean, want)
        assert row.n_raw_chars == len(raw)
        assert row.n_clean_chars == len(want)
        assert row.changed == int(raw != want)


def test_unicode_clean_idempotent_and_unifies_spellings(spark):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    once = tx.unicode_clean(df).select(
        "doc_id", tx.F.col("text_clean").alias("text")
    )
    twice = tx.unicode_clean(once)
    assert all(r.changed == 0 for r in twice.collect())
    texts = {r.doc_id: r.text_clean for r in tx.unicode_clean(df).collect()}
    # composed and decomposed café spell the SAME string after cleaning —
    # the property exact-hash dedup downstream depends on
    assert texts[1] == texts[2]


# ---------------------------------------------------------- rare tokens


def test_rare_token_ratio_exact_counts(spark):
    # 'common' appears in 3 docs (df=3, NOT rare at min_df=3);
    # 'odd'/'weird' in 1 doc each (rare); doc 4 is token-less.
    rows = [
        (1, "common common odd"),
        (2, "common weird"),
        (3, "common"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in tx.rare_token_ratio(df, min_df=3, max_rare_pct=20).collect()
    }
    assert (got[1].n_tokens, got[1].n_rare) == (3, 1)
    assert (got[2].n_tokens, got[2].n_rare) == (2, 1)
    assert (got[3].n_tokens, got[3].n_rare) == (1, 0)
    assert (got[4].n_tokens, got[4].n_rare) == (0, 0)
    # flags: doc1 1/3=33% >= 20% -> 1; doc2 50% -> 1; doc3 0% -> 0;
    # doc4 vacuous (0 >= 0) -> 1 by the documented degenerate rule
    assert [got[i].flagged for i in (1, 2, 3, 4)] == [1, 1, 0, 1]
    assert got[4].rare_ratio is None
    assert got[3].rare_ratio == 0.0


def test_rare_token_ratio_validates_args(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tx.rare_token_ratio(df, min_df=0)
    with pytest.raises(ValueError):
        tx.rare_token_ratio(df, max_rare_pct=0)
    with pytest.raises(ValueError):
        tx.rare_token_ratio(df, max_rare_pct=101)


# ------------------------------------------------------------ temperature


@_SETTINGS
@given(
    counts=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=8),
    alpha_halves=st.integers(min_value=1, max_value=4),
    budget=st.integers(min_value=0, max_value=100_000),
)
def test_temperature_allocation_sums_to_budget(spark, counts, alpha_halves, budget):
    rows = [(f"s{i}", j) for i, n in enumerate(counts) for j in range(n)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = smp.temperature_allocation(
        df, "source", alpha_halves=alpha_halves, budget=budget
    ).collect()
    assert sum(r.target_n for r in out) == budget
    assert {r.domain: r.n_docs for r in out} == {
        f"s{i}": n for i, n in enumerate(counts)
    }
    # alpha=1 (alpha_halves=2): largest-remainder over EXACT rationals
    # must match, because n^1 is integer-exact in doubles below 2^53
    if alpha_halves == 2:
        total = sum(counts)
        shares = {f"s{i}": Fraction(budget * n, total) for i, n in enumerate(counts)}
        base = {k: int(v) for k, v in shares.items()}
        leftover = budget - sum(base.values())
        order = sorted(shares, key=lambda k: (-(shares[k] - base[k]), k))
        want = {
            k: base[k] + (1 if order.index(k) < leftover else 0) for k in shares
        }
        assert {r.domain: r.target_n for r in out} == want


def test_temperature_allocation_degenerate_and_validation(spark):
    df = spark.createDataFrame([("only", i) for i in range(5)], "source string, doc_id long")
    out = smp.temperature_allocation(df, "source", budget=777).collect()
    assert len(out) == 1 and out[0].target_n == 777
    assert out[0].keep_per_million == 777 * 1_000_000 // 5
    with pytest.raises(ValueError):
        smp.temperature_allocation(df, "source", alpha_halves=0)
    with pytest.raises(ValueError):
        smp.temperature_allocation(df, "source", alpha_halves=5)
    with pytest.raises(ValueError):
        smp.temperature_allocation(df, "source", budget=-1)


def test_temperature_alpha_flattens_toward_uniform(spark):
    # alpha=0.5 must allocate the low-resource domain MORE than its
    # proportional share and the high-resource domain LESS — the whole
    # reason temperature sampling exists
    rows = [("big", i) for i in range(900)] + [("small", i) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    sqrt_alloc = {
        r.domain: r.target_n
        for r in smp.temperature_allocation(df, "source", alpha_halves=1, budget=1000).collect()
    }
    prop_alloc = {
        r.domain: r.target_n
        for r in smp.temperature_allocation(df, "source", alpha_halves=2, budget=1000).collect()
    }
    assert sqrt_alloc["small"] > prop_alloc["small"]
    assert sqrt_alloc["big"] < prop_alloc["big"]
    assert prop_alloc == {"big": 900, "small": 100}


# ---------------------------------------------------- decontamination


def test_semantic_decontaminate_planted(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0, 0.0]),   # ~bench 100 -> contaminated
            (2, [0.0, 0.0, 1.0, 0.0]),       # orthogonal -> clean
            (3, [0.01, 0.999, 0.0, 0.0]),   # ~bench 101 -> contaminated
            (4, [0.0, 0.0, 0.0, 0.0]),       # zero vector -> sim 0, clean
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r
        for r in sim.semantic_decontaminate(corpus, bench, threshold=0.9).collect()
    }
    assert [got[i].contaminated for i in (1, 2, 3, 4)] == [1, 0, 1, 0]
    assert got[1].nearest_bench_id == 100
    assert got[3].nearest_bench_id == 101
    assert got[4].max_sim == 0.0
    # zero-norm tie: both benches score 0.0 -> smallest bench id wins
    assert got[4].nearest_bench_id == 100
    with pytest.raises(ValueError):
        sim.semantic_decontaminate(corpus, bench, threshold=1.5)


# ------------------------------------------------------------- bigram LM


def test_lm_perplexity_hand_model(spark):
    import math

    rows = [(1, "a b a b"), (2, "a b"), (3, "z q"), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in tx.lm_perplexity(df).collect()}

    # model: big = {(a,b):3, (b,a):1, (z,q):1}; uni = {a:3, b:1, z:1}; V=3
    def lp(c_big, c_uni):
        return math.floor(math.log((c_big + 1) / (c_uni + 3)) * (1 << 20))

    ab, ba, zq = lp(3, 3), lp(1, 1), lp(1, 1)
    assert (got[1].n_bigrams, got[1].sum_logprob_scaled) == (3, 2 * ab + ba)
    assert (got[2].n_bigrams, got[2].sum_logprob_scaled) == (1, ab)
    assert (got[3].n_bigrams, got[3].sum_logprob_scaled) == (1, zq)
    # a single-token doc has no bigrams: zero counts, NULL average
    assert (got[4].n_bigrams, got[4].sum_logprob_scaled) == (0, 0)
    assert got[4].avg_logprob is None
    assert got[1].avg_logprob == ((2 * ab + ba) / (1 << 20)) / 3


def test_lm_perplexity_flags_junk_below_prose(spark):
    # prose-like docs reuse the corpus's bigrams; the junk doc's bigrams
    # are all hapax — its avg logprob must be strictly lower
    prose = [(i, "the cat sat on the mat and the cat ran") for i in range(5)]
    junk = [(99, "qz vx jk wq zx kv")]
    df = spark.createDataFrame(prose + junk, "doc_id long, text string")
    out = {r.doc_id: r.avg_logprob for r in tx.lm_perplexity(df).collect()}
    assert out[99] < out[0]

    with pytest.raises(ValueError):
        tx.lm_perplexity(df, add_k=0)
    with pytest.raises(ValueError):
        tx.lm_perplexity(df, scale_bits=4)


def test_semantic_decontaminate_empty_benchmark_keeps_rows(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in sim.semantic_decontaminate(corpus, bench, threshold=0.5).collect()}
    # row conservation: all-clean verdict, never a silently empty result
    assert sorted(out) == [1, 2]
    assert all(r.contaminated == 0 for r in out.values())
    assert all(r.max_sim is None and r.nearest_bench_id is None for r in out.values())


# -------------------------------------------------------------- winnowing


def _winnow_pyref(text, k, w):
    import hashlib
    import re as _re

    t = _re.sub(r"[ \t\n\r\f\x0b]+", " ", text.strip(" ").lower())
    grams = [
        (hashlib.md5(t[i:i + k].encode()).hexdigest(), i + 1)
        for i in range(len(t) - k + 1)
    ]
    picks = set()
    for j in range(len(grams) - w + 1):
        best = grams[j]
        for g in grams[j + 1:j + w]:
            if g[0] <= best[0]:  # rightmost minimum (paper's tie rule)
                best = g
        picks.add(best)
    return picks


@_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abcdef \n", min_size=0, max_size=60),
        min_size=1, max_size=6,
    ),
    k=st.integers(min_value=2, max_value=6),
    w=st.integers(min_value=1, max_value=5),
)
def test_winnowing_matches_python_reference(spark, texts, k, w):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in tx.winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_hash, r.pos))
    for i, t in rows:
        assert got.get(i, set()) == _winnow_pyref(t, k, w), (i, t, k, w)


def test_winnowing_shared_substring_guarantee(spark):
    # any shared substring of length >= w + k - 1 must yield at least
    # one identical fingerprint HASH in both documents
    shared = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, "prefix junk " + shared), (2, shared + " totally other tail")],
        "doc_id long, text string",
    )
    out = tx.winnow_fingerprints(df, k=8, w=4)
    sets = {}
    for r in out.collect():
        sets.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert sets[1] & sets[2]

    with pytest.raises(ValueError):
        tx.winnow_fingerprints(df, k=1)
    with pytest.raises(ValueError):
        tx.winnow_fingerprints(df, w=0)


def test_semantic_decontaminate_null_vector_and_id_guard(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r for r in sim.semantic_decontaminate(corpus, bench, threshold=0.5).collect()}
    # NULL vector -> unscoreable: NULL sim, contaminated 0 (the
    # engine-wide NULL-propagation discipline; zero-norm != NULL)
    assert got[2].max_sim is None and got[2].contaminated == 0
    assert got[1].contaminated == 1

    bench_str = spark.createDataFrame([("a", [1.0, 0.0])], "vec_id string, embedding array<double>")
    with pytest.raises(ValueError):
        sim.semantic_decontaminate(corpus, bench_str, threshold=0.5)


def test_winnow_overlap_detects_planted_pair_and_caps_boilerplate(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    boiler = "all rights reserved standard footer text here"
    rows = [
        (1, shared + " alpha tail one"),
        (2, shared + " beta tail two"),       # near-dup of 1 via shared prefix
        (3, "completely different content with nothing in common zebra"),
    ] + [(10 + i, f"unique doc {i} body {i * 7} | " + boiler) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = tx.winnow_overlap(df, k=8, w=4, min_shared=2, max_fp_docs=3)
    pairs = {(r.doc_id_a, r.doc_id_b): r for r in out.collect()}
    assert (1, 2) in pairs                       # planted pair surfaces
    assert pairs[(1, 2)].n_shared >= 2
    assert 0 < pairs[(1, 2)].overlap_pm_a <= 1000
    # the footer appears in 6 docs > max_fp_docs=3: its fingerprints are
    # capped away, so the boilerplate docs must NOT pair with each other
    assert not any(a >= 10 and b >= 10 for a, b in pairs)
    assert not any(3 in p for p in pairs)

    with pytest.raises(ValueError):
        tx.winnow_overlap(df, min_shared=0)
    with pytest.raises(ValueError):
        tx.winnow_overlap(df, max_fp_docs=1)


def test_winnow_dedup_clusters_and_keepers(spark):
    """winnow_dedup (VERDICT r10 ask #4): near-identical docs co-cluster
    with the min id as keeper; weak-overlap docs stay singletons
    (containment gate); transitive closure merges A~B, B~C chains."""
    base = "the quick brown fox jumps over the lazy dog again and again extra"
    rows = [
        (1, base + " alpha"),
        (2, base + " beta"),                 # near-dup of 1
        (3, base + " beta gamma"),           # near-dup of 2 -> chain {1,2,3}
        (4, "completely different content with nothing shared zebra quux"),
        # shares a few grams with 1 but far below 50% containment:
        (5, "the quick brown cat sits still while unrelated text dominates "
            "this much longer document body with many extra unique tokens "
            "filling space so shared fingerprints stay a small fraction"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.winnow_dedup(
            df, k=8, w=4, min_shared=2, max_fp_docs=10, min_containment_pm=500
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # transitive chain collapses to cluster 1, keeper = min id
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].is_keeper and not out[2].is_keeper and not out[3].is_keeper
    # weak-overlap and disjoint docs are singleton keepers
    assert out[4].cluster_id == 4 and out[4].is_keeper
    assert out[5].cluster_id == 5 and out[5].is_keeper

    with pytest.raises(ValueError):
        tx.winnow_dedup(df, min_containment_pm=0)
    with pytest.raises(ValueError):
        tx.winnow_dedup(df, min_containment_pm=1001)


def test_semantic_decontaminate_prenormalized_matches_default(spark):
    """The steady-state shape (VERDICT r10 ask #5): feeding unit vectors
    with prenormalized=True must reproduce the default path on the raw
    vectors bit-for-bit — same normalize-then-sequential-fold float
    sequence, just computed upstream."""
    import math

    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    raw = [
        (1, [3.0, 4.0]), (2, [1.0, 0.0]), (3, [-2.0, 2.0]), (4, [0.0, 0.0]),
    ]
    bench = [(10, [6.0, 8.0]), (11, [0.0, 1.0])]

    def unit(v):
        n = math.sqrt(math.fsum(x * x for x in v))
        return [x / n for x in v] if n > 0 else v

    corpus = spark.createDataFrame(raw, "vec_id long, embedding array<double>")
    bdf = spark.createDataFrame(bench, "vec_id long, embedding array<double>")
    corpus_u = spark.createDataFrame(
        [(i, unit(v)) for i, v in raw], "vec_id long, embedding array<double>"
    )
    bdf_u = spark.createDataFrame(
        [(i, unit(v)) for i, v in bench], "vec_id long, embedding array<double>"
    )
    want = sorted(
        map(tuple, sim.semantic_decontaminate(corpus, bdf, threshold=0.9).collect())
    )
    got = sorted(
        map(
            tuple,
            sim.semantic_decontaminate(
                corpus_u, bdf_u, threshold=0.9, prenormalized=True
            ).collect(),
        )
    )
    assert got == want


def test_winnow_spans_localizes_shared_region(spark):
    """The shared block between two docs must come back as one merged
    span on each side, positioned where the block actually sits (start
    of doc a, after the unique prefix in doc b); unique tails must NOT
    be covered. Pair qualification mirrors winnow_overlap exactly."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, shared + " unique tail alpha beta gamma delta epsilon"),
        (2, "totally different prefix here | " + shared),
        (3, "no overlap with anything else zebra quux corge grault"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.winnow_spans(df, k=8, w=4, min_shared=2, max_fp_docs=10).collect()
    assert all((r.doc_id_a, r.doc_id_b) == (1, 2) for r in out)  # only pair
    a_spans = [r for r in out if r.side == "a"]
    b_spans = [r for r in out if r.side == "b"]
    assert a_spans and b_spans
    # side a: the shared block is the doc PREFIX. Spans cover SELECTED
    # fingerprints, so the edge is fuzzy by up to w-1 grams: the first
    # window (grams 1..w) guarantees a pick, hence span_start <= w; the
    # span must not reach into the unique tail
    assert min(s.span_start for s in a_spans) <= 4  # w = 4
    assert max(s.span_end for s in a_spans) <= len(shared)
    # side b: the block sits after the 32-char unique prefix -> every
    # span starts beyond it and stays inside the doc
    prefix_len = len("totally different prefix here | ")
    assert all(s.span_start > prefix_len - 8 for s in b_spans)
    assert max(s.span_end for s in b_spans) <= prefix_len + len(shared)
    # spans are disjoint, ordered, with inclusive integer bounds
    for spans in (a_spans, b_spans):
        spans = sorted(spans, key=lambda s: s.span_start)
        for s in spans:
            assert s.span_start <= s.span_end and s.n_fp >= 1
        for x, y in zip(spans, spans[1:]):
            assert x.span_end + 1 < y.span_start  # merged => real gap

    # qualification parity with winnow_overlap: same pairs qualify
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in tx.winnow_overlap(
            df, k=8, w=4, min_shared=2, max_fp_docs=10
        ).collect()
    }
    assert {(r.doc_id_a, r.doc_id_b) for r in out} == pairs

    with pytest.raises(ValueError):
        tx.winnow_spans(df, min_shared=0)


def test_winnow_dedup_containment_gate_is_id_independent(spark):
    """Review r11 #4: an excerpt fully contained in a long article must
    co-cluster with it whichever document holds the lower id — the gate
    tests the SMALLER side's fingerprint count."""
    article = " ".join(f"word{i} token{i} item{i}" for i in range(60))
    excerpt = " ".join(f"word{i} token{i} item{i}" for i in range(6))
    for ids in ((1, 2), (2, 1)):
        art_id, exc_id = ids
        df = spark.createDataFrame(
            [(art_id, article), (exc_id, excerpt),
             (9, "entirely unrelated filler content zebra quux corge")],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.cluster_id
            for r in tx.winnow_dedup(
                df, k=8, w=4, min_shared=2, max_fp_docs=10,
                min_containment_pm=500,
            ).collect()
        }
        assert out[art_id] == out[exc_id] == min(art_id, exc_id), ids
        assert out[9] == 9


def test_excise_spans_surgery_and_row_conservation(spark):
    """excise_spans: inclusive ranges cut from NORMALIZED text, touching
    and overlapping spans merged first, docs without spans pass through
    normalized, exact removed-char accounting."""
    docs = spark.createDataFrame(
        [
            (1, "AAAA keep1 BBBB keep2 CCCC"),
            (2, "untouched document"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 1, 4),     # 'aaaa'
            (1, 12, 13),   # overlapping + touching pieces of 'bbbb'
            (1, 14, 15),
            (1, 13, 14),
        ],
        "doc_id long, span_start long, span_end long",
    )
    out = {r.doc_id: r for r in tx.excise_spans(docs, spans).collect()}
    assert set(out) == {1, 2, 3}  # row conservation incl. NULL text
    # normalized: 'aaaa keep1 bbbb keep2 cccc'; spans merge to [1,4]+[12,15]
    assert out[1].text_clean == " keep1  keep2 cccc"
    assert out[1].n_spans == 2 and out[1].n_removed_chars == 8
    assert out[2].text_clean == "untouched document"
    assert out[2].n_spans == 0 and out[2].n_removed_chars == 0
    assert out[3].text_clean is None

    # span covering the doc PREFIX and SUFFIX edges
    docs2 = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    spans2 = spark.createDataFrame(
        [(1, 1, 2), (1, 5, 6)], "doc_id long, span_start long, span_end long"
    )
    r1 = tx.excise_spans(docs2, spans2).first()
    assert r1.text_clean == "cd" and r1.n_removed_chars == 4

    # caller spans past the end of the document: the count reflects the
    # ACTUAL deletion, not the nominal span width (ADVICE r11 — the cut
    # already degraded safely; the accounting now matches it)
    spans3 = spark.createDataFrame(
        [(1, 5, 50), (1, 100, 200)],
        "doc_id long, span_start long, span_end long",
    )
    r2 = tx.excise_spans(docs2, spans3).first()
    assert r2.text_clean == "abcd"
    assert r2.n_removed_chars == 2  # only 'ef' actually deleted

    # ...and below position 1 (review r12 #2: the first clamp cut only
    # the high side): a 0-based caller's span (0, 2) deletes 'ab' — two
    # chars, not its nominal three
    spans4 = spark.createDataFrame(
        [(1, 0, 2), (1, -5, -2)],
        "doc_id long, span_start long, span_end long",
    )
    r3 = tx.excise_spans(docs2, spans4).first()
    assert r3.text_clean == "cdef"
    assert r3.n_removed_chars == 2
