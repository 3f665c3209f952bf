"""Text analysis (lang-ID, quality, tokens, fingerprints) and multimodal
binary-column plumbing."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from wordpress_sql_to_contentstack_exporter_spark.operators import multimodal as mm
from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx
from wordpress_sql_to_contentstack_exporter_spark.operators import y4m

#: The media-row shape the multimodal operators read: payload + typed
#: metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def y4m_encode(
    width: int,
    height: int,
    frames: list[bytes],
    *,
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "420jpeg",
) -> bytes:
    """Assemble a Y4M stream fixture. Each element of ``frames`` must be
    exactly the plane size for the colorspace."""
    fb = y4m._plane_bytes(width, height, colorspace)
    for i, fr in enumerate(frames):
        if len(fr) != fb:
            raise ValueError(f"frame {i}: {len(fr)} bytes, expected {fb}")
    head = f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}\n"
    out = bytearray(head.encode("ascii"))
    for fr in frames:
        out += b"FRAME\n"
        out += fr
    return bytes(out)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello, world! it's 2024"), (2, "   "), (3, "one")],
        "id long, text string",
    )
    out = df.select(
        "id",
        tx.token_count_ws(F.col("text")).alias("ws"),
        tx.token_count_bpe(F.col("text")).alias("bpe"),
    )
    rows = {r["id"]: (r["ws"], r["bpe"]) for r in out.collect()}
    assert rows[1][0] == 4
    # hello , world ! it ' s 2024 -> 8 BPE-ish tokens
    assert rows[1][1] == 8
    assert rows[2] == (0, 0)
    assert rows[3] == (1, 1)


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el gato de la casa que los perros"),
            (3, "der hund und die katze das ist gut"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = tx.lang_id(df)
    rows = {r["doc_id"]: r["lang_pred"] for r in out.collect()}
    assert rows[1] == "en" and rows[2] == "es" and rows[3] == "de" and rows[4] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "hello  world ")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in tx.fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[0] == hashlib.sha256(b"hello world").hexdigest()


def test_quality_features_ranges(spark):
    df = spark.createDataFrame(
        [(1, "Good text, with punctuation. And the usual stopwords of note.")],
        "doc_id long, text string",
    )
    r = tx.quality_features(df).first()
    assert r["q_tokens"] == 10
    assert 0 < r["q_punct_ratio"] < 0.2
    assert 0 < r["q_stopword_ratio"] <= 0.5
    assert r["q_mean_token_len"] > 3


def test_multimodal_decode_stub(spark):
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    media = mm.synthesize_media_from_documents(
        docs.withColumn("lang", F.lit("en"))
    )
    assert media.schema["content"].dataType.typeName() == "binary"
    feats = mm.decode_features(media, decoder="stub")
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == 5
    assert rows[1]["content_sha256"] == hashlib.sha256(b"alpha").hexdigest()
    assert len(rows[1]["feature"]) == 8
    assert all(0.0 <= x <= 1.0 for x in rows[1]["feature"])


def test_decoder_dispatch_auto_falls_back_to_stub(spark):
    """Non-image payloads (text bytes) fail every real tier — PIL if
    installed, then the stdlib PNG decoder — so auto must equal the
    pinned stub path bit-for-bit regardless of installed libraries."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    media = mm.synthesize_media_from_documents(docs)
    stub = {r["media_id"]: r for r in mm.decode_features(media, decoder="stub").collect()}
    auto = {r["media_id"]: r for r in mm.decode_features(media, decoder="auto").collect()}
    assert stub.keys() == auto.keys()
    for mid in stub:
        assert stub[mid]["feature"] == auto[mid]["feature"]
        assert stub[mid]["content_sha256"] == auto[mid]["content_sha256"]


def test_decoder_dispatch_pil_required_raises_without_pil(spark):
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL installed; the strict path would succeed")
    except ImportError:
        pass
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(2)
    media = mm.synthesize_media_from_documents(docs)
    with pytest.raises(Exception, match="PIL is not installed"):
        mm.decode_features(media, decoder="pil").collect()


def test_decoder_dispatch_rejects_unknown_name(spark):
    import pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(2)
    media = mm.synthesize_media_from_documents(docs)
    with pytest.raises(ValueError, match="unknown decoder"):
        mm.decode_features(media, decoder="jpeg2000")


def test_decoder_real_pil_path_if_available(spark):
    """Exercised only when a codec lib lands in the container: a 1x1 PNG
    decodes to the resolution-aware feature, a non-image payload falls
    back to the stub feature without failing the batch."""
    import pytest

    pil = pytest.importorskip("PIL")  # noqa: F841
    import base64

    # 1x1 red pixel PNG
    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4nGP8z8BQ"
        "DwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    rows = [(1, png), (2, b"definitely not an image")]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in mm.decode_features(media, decoder="auto").collect()}
    assert out[1]["feature"][4] == pytest.approx(1 / 65535.0)  # width=1
    assert out[2]["feature"] == [b / 255.0 for b in __import__("hashlib").sha256(rows[1][1]).digest()[:8]]


def test_pii_redact_masks_and_counts(spark):
    rows = [
        (1, "mail me at alice.smith+x@ex-corp.io or bob@b.co today"),
        (2, "server 192.168.001.1 and 10.0.0.7 rebooted"),
        (3, "call +1 at 555-867-5309 or 555.867.5309"),
        (4, "no pii here at all"),
        (5, "mixed: c@d.org from 8.8.8.8 call 123-456-7890"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import pii_redact

    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (2, 0, 0)
    assert out[1]["redacted"] == "mail me at <EMAIL> or <EMAIL> today"
    assert out[2]["n_ip"] == 2 and "<IP>" in out[2]["redacted"]
    assert out[3]["n_phone"] == 2
    assert out[3]["redacted"] == "call +1 at <PHONE> or <PHONE>"
    assert out[4]["redacted"] == rows[3][1]  # untouched
    assert (out[5]["n_email"], out[5]["n_ip"], out[5]["n_phone"]) == (1, 1, 1)


def test_ngram_decontaminate_flags_overlap(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import (
        ngram_decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),      # shares 'the quick brown' etc
            (2, "completely unrelated database text"),  # clean
            (3, "quick brown fox is fast"),             # shares 'quick brown fox'
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sat down")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ngram_decontaminate(docs, bench, k=3).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlap"] == 2  # 'the quick brown', 'quick brown fox'
    assert not out[2]["contaminated"] and out[2]["n_overlap"] == 0
    assert out[3]["contaminated"] and out[3]["n_overlap"] == 1


def test_domain_mixture_deterministic_and_proportional(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.sampling import (
        domain_mixture,
    )

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("dom"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    weights = {"dom0": 0.8, "dom1": 0.2}
    kept1 = domain_mixture(df, weights, domain_col="source", key_col="doc_id")
    kept2 = domain_mixture(df, weights, domain_col="source", key_col="doc_id")
    ids1 = {r["doc_id"] for r in kept1.collect()}
    assert ids1 == {r["doc_id"] for r in kept2.collect()}  # retry-stable

    by_dom = {
        r["source"]: r["n"]
        for r in kept1.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(by_dom["dom0"] / 1000 - 0.8) < 0.06
    assert abs(by_dom["dom1"] / 1000 - 0.2) < 0.06

    # monotone: lowering a weight only removes rows, never swaps them
    smaller = domain_mixture(
        df, {"dom0": 0.4, "dom1": 0.2}, domain_col="source", key_col="doc_id"
    )
    ids_small = {r["doc_id"] for r in smaller.collect()}
    assert ids_small <= ids1

    # mix_key is a deterministic function of the key
    mk = {r["doc_id"]: r["mix_key"] for r in kept1.collect()}
    mk2 = {r["doc_id"]: r["mix_key"] for r in kept2.collect()}
    assert mk == mk2


def test_pil_decoder_math_with_fake_module(monkeypatch):
    """Execute the real-codec branch deterministically WITHOUT PIL in the
    container: inject a minimal fake PIL into sys.modules and call the
    decoder closure directly (driver-side — no Spark worker involved, so
    the injection is reliable). Pins the feature layout the PIL path
    promises: 2x2 grayscale thumbnail + normalized w/h + aspect + pad."""
    import sys
    import types

    class FakeThumb:
        def getdata(self):
            return [0, 85, 170, 255]

    class FakeImg:
        size = (4, 2)

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, wh):
            assert wh == (2, 2)
            return FakeThumb()

    fake_image_mod = types.SimpleNamespace(open=lambda buf: FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    decode = mm._make_pil_decoder()
    assert decode is not None  # the fake import satisfied the guard
    feat = decode(b"any-bytes")
    assert feat == [
        0.0,
        85 / 255.0,
        170 / 255.0,
        1.0,
        4 / 65535.0,
        2 / 65535.0,
        2.0,
        0.0,
    ]
    assert len(feat) == 8  # stub-compatible shape: schemas don't care which ran


def test_repetition_features_flags_loops_and_boilerplate(spark):
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.text import repetition_features

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),        # clean prose
        (2, "spam ham " * 12 + "end"),                     # looping bigram, long
        (3, "menu item\nmenu item\nmenu item\nfooter"),    # duplicate lines
        (4, ""),                                           # empty
        (5, "single"),                                     # one token: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}

    assert out[1]["dup_line_frac"] == 0.0
    # 5 all-distinct bigrams give frac 0.2 — the >=20-bigram guard keeps
    # short docs from tripping the ratio rule
    assert out[1]["top_bigram_frac"] == pytest.approx(0.2)
    assert not out[1]["rep_flagged"]

    # "spam ham" appears 12 of 24 bigrams -> 0.5; 24 bigrams >= 20
    assert out[2]["top_bigram_frac"] == pytest.approx(0.5)
    assert out[2]["rep_flagged"]

    assert out[3]["n_lines"] == 4
    assert out[3]["dup_line_frac"] == 0.5  # 2 distinct / 4 lines
    assert out[3]["rep_flagged"]

    assert out[4] and out[4]["top_bigram_frac"] == 0.0 and not out[4]["rep_flagged"]
    assert out[5]["top_bigram_frac"] == 0.0 and not out[5]["rep_flagged"]


def test_token_topk_counts_and_tiebreak(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import token_topk

    docs = spark.createDataFrame(
        [(1, "b a a"), (2, "A  b"), (3, "c")], "doc_id long, text string"
    )
    rows = token_topk(docs, k=2).collect()
    # 'a' x3 (2 docs), 'b' x2 (2 docs); 'c' cut by k
    assert [(r["token"], r["n_occurrences"], r["n_docs"]) for r in rows] == [
        ("a", 3, 2),
        ("b", 2, 2),
    ]
    # tie-break: equal counts order lexicographically
    tie = spark.createDataFrame([(1, "z q z q")], "doc_id long, text string")
    t_rows = token_topk(tie, k=1).collect()
    assert t_rows[0]["token"] == "q"


def test_tfidf_top_terms_ranks_rare_terms_first(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(docs, top=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["df_docs"]))
    # doc 1: 'rare' (tf=2, df=1) outranks 'common' (tf=1, df=3)
    assert by_doc[1][0][1] == "rare" and by_doc[1][0][2] == 2 and by_doc[1][0][3] == 1
    assert by_doc[1][1][1] == "common"
    # docs 2/3: 'other' (df=2) outranks 'common' (df=3)
    assert by_doc[2][0][1] == "other"


def test_sample_frames_stub_counts_and_determinism(spark):
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "a video"), (2, "short"), (3, "long video")],
        "doc_id long, text string",
    )
    media = mm.synthesize_media_from_documents(docs).withColumn(
        "meta",
        F.struct(
            F.col("meta.mime"),
            F.col("meta.width"),
            F.col("meta.height"),
            F.when(F.col("media_id") == 1, F.lit(2500))
            .when(F.col("media_id") == 3, F.lit(99_000))
            .otherwise(F.lit(None))
            .cast("long")
            .alias("duration_ms"),
        ),
    )
    out = mm.sample_frames(media, every_ms=1000, max_frames=4)
    assert out.schema == mm.FRAMES_SCHEMA
    per = {r["media_id"]: r for r in out.groupBy("media_id").count().collect()}
    assert per[1]["count"] == 3   # 2500ms // 1000 + 1
    assert per[2]["count"] == 1   # null duration -> thumbnail grab
    assert per[3]["count"] == 4   # capped by max_frames
    f = {(r["media_id"], r["frame_idx"]): (r["ts_ms"], r["frame"]) for r in out.collect()}
    assert f[(1, 2)][0] == 2000
    assert f[(1, 0)][1] != f[(1, 1)][1]  # distinct frames
    # deterministic
    g = {(r["media_id"], r["frame_idx"]): r["frame"]
         for r in mm.sample_frames(media, every_ms=1000, max_frames=4).collect()}
    assert {k: v[1] for k, v in f.items()} == g


def test_sample_frames_av_branch_is_marked(spark):
    import pytest as _pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    media = mm.synthesize_media_from_documents(docs)
    with _pytest.raises(NotImplementedError, match="PyAV"):
        mm.sample_frames(media, decoder="av")


def test_chunk_documents_windows_and_overlap(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import chunk_documents

    toks120 = " ".join(f"t{i}" for i in range(120))
    rows = [
        (1, "short doc"),                 # <= max_tokens -> 1 chunk
        (2, toks120),                     # 120 tokens, window 32 stride 24
        (3, ""),                          # empty -> no chunks
        (4, "   "),                       # whitespace -> no chunks
        (5, " ".join(f"x{i}" for i in range(32))),  # exactly max -> 1 chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, max_tokens=32, overlap=8).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_idx"])

    assert len(by_doc.get(1, [])) == 1 and by_doc[1][0]["chunk_text"] == "short doc"
    assert 3 not in by_doc and 4 not in by_doc
    assert len(by_doc[5]) == 1 and by_doc[5][0]["n_chunk_tokens"] == 32

    # 120 tokens: chunks at strides 0,24,48,72,88? no: 1+ceil(88/24)=1+4=5
    c2 = by_doc[2]
    assert len(c2) == 5
    assert [r["n_chunk_tokens"] for r in c2] == [32, 32, 32, 32, 24]
    # full coverage: last chunk reaches token 119
    assert c2[-1]["chunk_text"].split()[-1] == "t119"
    # consecutive chunks share exactly `overlap` tokens
    a, b = c2[0]["chunk_text"].split(), c2[1]["chunk_text"].split()
    assert a[-8:] == b[:8]
    # every token covered in order within each chunk
    assert a == [f"t{i}" for i in range(32)]


def test_chunk_documents_rejects_bad_params(spark):
    import pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=16, overlap=16)
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=16, overlap=-1)


def test_boilerplate_removal_drops_all_instances(spark):
    # footer in 3/4 docs (75% >= 5%): removed everywhere, including the
    # doc that is nothing but footer (n_kept 0, empty text)
    df = spark.createDataFrame(
        [
            (1, "alpha\nFOOTER\nbeta"),
            (2, "gamma\nFOOTER"),
            (3, "FOOTER"),
            (4, "delta only"),
        ],
        "doc_id long, text string",
    )
    out = tx.remove_boilerplate_lines(df, min_docs=2, max_doc_ratio_pct=5)
    rows = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"]) for r in out.collect()}
    assert rows[1] == (3, 2, "alpha\nbeta")
    assert rows[2] == (2, 1, "gamma")
    assert rows[3] == (1, 0, "")
    assert rows[4] == (1, 1, "delta only")


def test_boilerplate_removal_repeats_within_one_doc_do_not_count(spark):
    # a line repeated 10x inside ONE doc has df=1 -> below min_docs=2,
    # kept; document frequency is distinct-docs, not occurrences
    df = spark.createDataFrame(
        [(1, "\n".join(["same line"] * 10)), (2, "other")],
        "doc_id long, text string",
    )
    out = tx.remove_boilerplate_lines(df, min_docs=2, max_doc_ratio_pct=5)
    rows = {r["doc_id"]: r["n_kept"] for r in out.collect()}
    assert rows[1] == 10 and rows[2] == 1


def test_boilerplate_removal_ratio_threshold_boundary(spark):
    # df=2 of 40 docs = exactly 5% -> integer rule df*100 >= n_docs*5
    # fires at equality; at 41 docs the same df=2 is below threshold
    def corpus(n):
        rows = [(i, f"unique {i}\ncommon") for i in (1, 2)]
        rows += [(i, f"unique {i}") for i in range(3, n + 1)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    at = tx.remove_boilerplate_lines(corpus(40), min_docs=2, max_doc_ratio_pct=5)
    assert at.filter("doc_id = 1").first()["text_clean"] == "unique 1"
    below = tx.remove_boilerplate_lines(corpus(41), min_docs=2, max_doc_ratio_pct=5)
    assert below.filter("doc_id = 1").first()["text_clean"] == "unique 1\ncommon"


def test_boilerplate_removal_trims_before_matching(spark):
    # '  FOOTER ' and 'FOOTER' are the same line after trim
    df = spark.createDataFrame(
        [(1, "a\n  FOOTER "), (2, "b\nFOOTER"), (3, "c")],
        "doc_id long, text string",
    )
    out = tx.remove_boilerplate_lines(df, min_docs=2, max_doc_ratio_pct=5)
    rows = {r["doc_id"]: r["text_clean"] for r in out.collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_pmi_collocations_ranks_bound_pairs_first(spark):
    # "san francisco" always co-occur (PMI ratio = N/c_x/c_y * c_xy high);
    # "the cat"/"the dog" are frequent but 'the' is promiscuous -> lower
    docs = [("san francisco is foggy . " * 3 + "the cat sat . the dog sat . " * 5,)] * 4
    df = spark.createDataFrame(docs, "text string")
    out = tx.pmi_collocations(df, min_count=5, top=10).collect()
    assert out, "no collocations found"
    ranked = [(r["w1"], r["w2"]) for r in out]
    assert ranked.index(("san", "francisco")) < ranked.index(("the", "cat"))
    top = out[0]
    # integer evidence is self-consistent
    assert top["score"] == top["c_xy"] * top["n_big"] / top["c_x"] / top["c_y"]


def test_pmi_collocations_min_count_filters_hapax(spark):
    df = spark.createDataFrame(
        [("rare pair appears once . common phrase here . " + "common phrase again . " * 6,)],
        "text string",
    )
    out = tx.pmi_collocations(df, min_count=5, top=50).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("rare", "pair") not in pairs
    assert ("common", "phrase") in pairs
    assert all(r["c_xy"] >= 5 for r in out)


def test_inverted_index_postings_and_truncation(spark):
    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a c"), (3, "a"), (4, "c C")],
        "doc_id long, text string",
    )
    out = tx.inverted_index(df, max_postings=2)
    rows = {r["token"]: r for r in out.collect()}
    a = rows["a"]
    # df counts ALL docs even past the truncation cap
    assert (a["df_docs"], a["total_tf"], a["n_postings"]) == (3, 4, 2)
    assert a["postings"] == "1:2,2:1"  # lowest doc ids win, tf carried
    assert rows["b"]["postings"] == "1:1"
    # lowercase tokenization folds 'C' into 'c'
    assert rows["c"]["postings"] == "2:1,4:2"


def test_ngram_lm_counts_kn_evidence(spark):
    # corpus: "a b c", "a b d", "x b c"
    df = spark.createDataFrame(
        [("a b c a b d",), ("x b c",)], "text string"
    )
    out = tx.ngram_lm_counts(df, min_count=1, top=50)
    rows = {(r["w1"], r["w2"], r["w3"]): r for r in out.collect()}
    abc = rows[("a", "b", "c")]
    assert abc["c_xyz"] == 1
    # prefix (a,b) occurs twice with 2 distinct continuations {c, d}
    assert abc["c_xy"] == 2 and abc["n_right"] == 2
    # (b,c) has 2 distinct left contexts {a, x}
    assert abc["n_left"] == 2
    # (x,b,c): prefix (x,b) unique continuation
    xbc = rows[("x", "b", "c")]
    assert xbc["c_xy"] == 1 and xbc["n_right"] == 1 and xbc["n_left"] == 2


def test_ngram_lm_counts_short_docs_excluded(spark):
    df = spark.createDataFrame([("one two",), ("solo",), ("",)], "text string")
    assert tx.ngram_lm_counts(df, min_count=1).count() == 0


def test_compression_signals_repetitive_compresses_lower(spark):
    rep_text = "repeat this line\n" * 60
    import random

    rng = random.Random(3)
    noise = " ".join("".join(rng.choices("abcdefghijklmnop", k=8)) for _ in range(120))
    df = spark.createDataFrame(
        [(1, rep_text), (2, noise), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.compression_signals(df).collect()}
    # repetitive text compresses far below the noise text
    assert out[1]["ratio_permille"] < out[2]["ratio_permille"]
    assert out[1]["ratio_permille"] < 200
    # evidence columns are consistent
    for r in out.values():
        if r["n_bytes"] > 0:
            assert r["ratio_permille"] == r["n_compressed"] * 1000 // r["n_bytes"]
    # empty / NULL text is well-defined, not a crash
    assert out[3]["n_bytes"] == 0 and out[4]["n_bytes"] == 0


def test_compression_signals_deterministic(spark):
    df = spark.createDataFrame(
        [(i, f"some text body number {i} " * (i % 5 + 1)) for i in range(50)],
        "doc_id long, text string",
    )
    a = sorted((r["doc_id"], r["n_compressed"]) for r in tx.compression_signals(df).collect())
    b = sorted((r["doc_id"], r["n_compressed"]) for r in tx.compression_signals(df.repartition(7)).collect())
    assert a == b


def test_vocab_drift_flags_half_exclusive_tokens(spark):
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
    import tempfile, os

    # even docs say "stable common words"; odd docs add a burst token
    rows = []
    for i in range(40):
        text = "stable common words here"
        if i % 2 == 1:
            text += " burst burst burst"
        rows.append((i, text, "en", "s", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["token"]: r for r in SPARK_QUERIES["vocab_drift"](spark, d).collect()}
    b = out["burst"]
    assert b["n_a"] == 0 and b["n_b"] == 60 and b["drifted"]
    # the stable words shift in SHARE (denominator grew on the odd side)
    # but each stays within the band or flags consistently — just check
    # they are present and counted evenly
    s = out["stable"]
    assert s["n_a"] == 20 and s["n_b"] == 20


def test_y4m_codec_roundtrip():
    """Pure-stdlib Y4M parse: encode -> header parse returns the
    geometry, rate and frame size that went in."""
    w, h = 8, 6
    fb = w * h + 2 * ((w // 2) * (h // 2))
    frames = [bytes([i]) * fb for i in range(10)]
    stream = y4m_encode(w, h, frames, fps=(5, 1))
    hdr = y4m.parse_header(stream)
    assert (hdr["width"], hdr["height"], hdr["fps_num"], hdr["fps_den"]) == (8, 6, 5, 1)
    assert hdr["frame_bytes"] == fb
    import pytest as _pytest

    with _pytest.raises(ValueError):
        y4m.parse_header(b"not a video")
    with _pytest.raises(ValueError):
        y4m_encode(w, h, [b"short"])


def test_sample_frames_y4m_real_extraction(spark):
    """REAL frame extraction executes in-container: a 10-frame 5 fps Y4M
    stream sampled at 500 ms yields the true stream frames (ts 0 ms ->
    frame 0, 500 ms -> frame 2, 1000 ms -> frame 5), with the stream's
    own duration driving the count; a non-Y4M payload in the same batch
    falls back to the sha256 stub under decoder='auto'."""
    w, h = 8, 6
    fb = w * h + 2 * ((w // 2) * (h // 2))
    frames = [bytes([i]) * fb for i in range(10)]
    stream = y4m_encode(w, h, frames, fps=(5, 1))  # 2000 ms duration
    media = spark.createDataFrame(
        [
            (1, bytearray(stream), ("video/y4m", w, h, None)),
            (2, bytearray(b"JUNKJUNKJUNK"), ("video/mp4", None, None, 1500)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {
        (r["media_id"], r["frame_idx"]): r
        for r in mm.sample_frames(
            media, every_ms=500, max_frames=4, decoder="auto"
        ).collect()
    }
    # y4m row: 4 frames capped (duration 2000ms/500ms + 1 = 5 > max 4)
    assert bytes(rows[(1, 0)]["frame"]) == frames[0]
    assert bytes(rows[(1, 1)]["frame"]) == frames[2]   # 500 ms at 5 fps
    assert bytes(rows[(1, 2)]["frame"]) == frames[5]   # 1000 ms
    assert bytes(rows[(1, 3)]["frame"]) == frames[7]   # 1500 ms
    assert (1, 4) not in rows
    assert rows[(1, 1)]["ts_ms"] == 500
    # junk payload: stub tier, metadata duration 1500 ms -> 2 frames at 500 ms... capped by max_frames=4 -> 4
    import hashlib as _hl

    assert bytes(rows[(2, 0)]["frame"]) == _hl.sha256(
        b"JUNKJUNKJUNK" + (0).to_bytes(4, "big")
    ).digest()
    # strict y4m decoder refuses junk instead of silently stubbing
    import pytest as _pytest

    with _pytest.raises(Exception):
        mm.sample_frames(media, decoder="y4m").collect()


def test_bpe_apply_matches_sequential_reference_and_is_deterministic(spark):
    """The greedy lowest-rank encoder must agree bit-for-bit with the
    classic training-style apply (replace all occurrences merge by
    merge, in rank order) — an independent algorithm, same fixpoint."""
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

    merges = [("t", "h"), ("th", "e"), ("e", "s"), ("i", "n"), ("in", "g")]

    def ref(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    texts = [
        "the thing things nothing",
        "testing the theses",
        "in the beginning",
        "",
        None,
        "THE THING",  # canonicalized to lowercase before encoding
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in tx.bpe_apply(docs, merges).collect()}
    for i, t in enumerate(texts):
        words = [w for w in (t or "").lower().split() if w]
        want_tokens = [tok for w in words for tok in ref(w)]
        assert out[i]["n_words"] == len(words)
        assert out[i]["n_bpe_tokens"] == len(want_tokens), (i, t)
        assert out[i]["preview"] == " ".join(want_tokens[:16]), (i, t)
    # determinism across a second run
    again = {r["doc_id"]: r["n_bpe_tokens"] for r in tx.bpe_apply(docs, merges).collect()}
    assert again == {k: v["n_bpe_tokens"] for k, v in out.items()}


def test_wav_codec_roundtrip():
    """Stdlib WAV parse: encode -> parse returns the exact samples and
    metadata (completing the png/y4m/wav stdlib modality triple)."""
    from wordpress_sql_to_contentstack_exporter_spark.operators import wav

    samples = [0, 1000, -1000, 32767, -32768, 0, 500]
    data = wav.encode(8000, samples)
    info = wav.parse(data)
    assert (info["sample_rate"], info["n_channels"], info["sample_width"]) == (8000, 1, 2)
    assert info["n_frames"] == len(samples)
    assert wav.first_channel_samples(info) == samples
    # stereo: channel 0 extraction
    st = wav.encode(16000, samples, n_channels=2)
    assert wav.first_channel_samples(wav.parse(st)) == samples
    import pytest as _pytest

    with _pytest.raises(ValueError):
        wav.parse(b"not audio at all")


def test_audio_features_real_wav_and_stub_fallback(spark):
    """A square wave's integer features are handworked: peak == the
    amplitude, energy_ms == amplitude^2, zero_crossings == number of
    sign flips; junk payloads fall to the sha256 stub under auto; the
    strict wav decoder refuses junk; the lib tier is a marked plug
    point."""
    import hashlib as _hl

    import pytest as _pytest

    from wordpress_sql_to_contentstack_exporter_spark.operators import multimodal as mm
    from wordpress_sql_to_contentstack_exporter_spark.operators import wav

    amp = 2000
    square = ([amp] * 4 + [-amp] * 4) * 100  # 800 samples, 199 flips
    payload = wav.encode(8000, square)
    media = spark.createDataFrame(
        [
            (1, bytearray(payload), ("audio/wav", None, None, None)),
            (2, bytearray(b"JUNK"), ("audio/mp3", None, None, None)),
            (3, None, ("audio/wav", None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in mm.audio_features(media, decoder="auto").collect()}
    r1 = rows[1]
    assert r1["sample_rate"] == 8000
    assert r1["n_samples"] == 800
    assert r1["duration_ms"] == 100
    assert r1["peak"] == amp
    assert r1["energy_ms"] == amp * amp
    assert r1["zero_crossings"] == 199
    d = _hl.sha256(b"JUNK").digest()
    assert (rows[2]["peak"], rows[2]["energy_ms"]) == (d[0], d[1])
    assert rows[3]["sample_rate"] is None
    with _pytest.raises(Exception):
        mm.audio_features(media, decoder="wav").collect()
    with _pytest.raises(NotImplementedError, match="soundfile"):
        mm.audio_features(media, decoder="lib")


def test_repeated_spans_offset_invariant_detection(spark):
    """Word-boundary anchoring finds the same injected block at
    DIFFERENT offsets in different documents (the case fixed-stride
    anchors miss), counts within-doc repeats in n_total but not
    n_docs, and ignores sub-span or single-doc content."""
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

    block = "x" * 30 + " common repeated block of text " + "y" * 30  # > 64 chars
    docs = spark.createDataFrame(
        [
            (1, "short prefix " + block + " tail"),
            (2, "a much longer and different document prefix here " + block),
            (3, block + " " + block),           # twice in one doc
            (4, "completely unrelated content " + "z" * 80),
        ],
        "doc_id long, text string",
    )
    out = tx.repeated_spans(docs, span=64, min_docs=2, top=20).collect()
    assert out, "planted block not found"
    top = out[0]
    assert top["n_docs"] == 3            # docs 1, 2, 3 — offsets all differ
    assert top["n_total"] >= 4           # doc 3 contributes two copies
    assert all("z" not in r["span"] for r in out)  # single-doc content absent


def test_span_coverage_flags_template_docs(spark):
    """The decision stage: a doc dominated by corpus-repeated spans
    flags; unique docs don't; short (<span) docs have zero anchors and
    never flag."""
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

    block = "w" * 30 + " shared boilerplate body of text " + "v" * 30
    docs = spark.createDataFrame(
        [
            (1, block),                                   # pure template
            (2, block),                                   # pure template
            (3, "a unique long document " + "q" * 80),    # unique
            (4, "tiny"),                                  # < span chars
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in tx.span_coverage(docs, span=64, min_docs=2, flag_pct=30).collect()
    }
    assert out[1]["span_flagged"] and out[2]["span_flagged"]
    assert not out[3]["span_flagged"] and out[3]["n_repeated"] == 0
    assert out[4]["n_anchors"] == 0 and not out[4]["span_flagged"]


def test_sentence_split_handworked(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import sentence_split

    df = spark.createDataFrame(
        [
            (1, "One two. Three! Four five? tail no terminator"),
            (2, "No boundaries at all"),
            (3, "Dots.like.this stay. Next"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["sent_idx"]): (r["sentence"], r["n_tokens"])
        for r in sentence_split(df).collect()
    }
    assert rows[(1, 0)] == ("One two.", 2)
    assert rows[(1, 1)] == ("Three!", 1)
    assert rows[(1, 2)] == ("Four five?", 2)
    assert rows[(1, 3)] == ("tail no terminator", 3)
    assert rows[(2, 0)] == ("No boundaries at all", 4)
    # mid-word dots (no following space) are NOT boundaries
    assert rows[(3, 0)] == ("Dots.like.this stay.", 2)
    assert rows[(3, 1)] == ("Next", 1)
    assert not any(d == 4 for d, _ in rows)  # NULL text -> no rows


def test_sentence_chunks_greedy_and_oversize(spark):
    from wordpress_sql_to_contentstack_exporter_spark.operators.text import (
        sentence_chunks,
        sentence_split,
    )

    df = spark.createDataFrame(
        [(1, "a b c. d e. f g h i j k l m n o p q r s t. u v.")],
        "doc_id long, text string",
    )
    sents = sentence_split(df)
    chunks = {
        r["chunk_id"]: r
        for r in sentence_chunks(sents, max_tokens=6).collect()
    }
    # sentences: 3,2,15,2 tokens. greedy: [3+2], [15 oversize alone], [2]
    assert chunks[0]["n_tokens"] == 5 and chunks[0]["n_sentences"] == 2
    assert chunks[1]["n_tokens"] == 15 and chunks[1]["n_sentences"] == 1
    assert chunks[2]["n_tokens"] == 2
    assert chunks[0]["chunk_text"] == "a b c. d e."
    # every sentence in exactly one chunk, order preserved
    total = sum(c["n_sentences"] for c in chunks.values())
    assert total == sents.count()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_tokens"):
        sentence_chunks(sents, max_tokens=0)
