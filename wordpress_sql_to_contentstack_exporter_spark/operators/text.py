"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Column expressions (whole-stage codegen);
nothing here touches Python per row. Designed for the ``documents`` table
shape (doc_id, text, lang, source, n_chars) but parameterized by column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable import PORTABLE_WS_PLUS, portable_lower
from ..sources.catalog import spread_small_scan

#: BPE-ish tokenizer regex: runs of alphanumerics OR single non-space symbols.
#: Compatible between Java regex (Spark) and RE2 (DuckDB oracle).
TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]"

#: Small distinctive-marker profiles for the n-gram/stopword language
#: heuristic. Public-knowledge marker words; intentionally tiny — this is
#: the classic fast heuristic (cf. fastText/langid baselines), not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization: the NON-EMPTY runs between portable
    whitespace (empty/whitespace-only input -> empty array). The empty
    filter is part of the cross-engine contract — ``trim`` strips only
    spaces, so text with leading/trailing ``\\n``/``\\t`` would
    otherwise grow phantom ''-tokens whose handling differs between a
    split-on-collapsed-space oracle and a regex split (caught by
    tests/test_portable_text.py on the adversarial corpus)."""
    t = F.trim(text)
    return F.filter(F.split(t, PORTABLE_WS_PLUS), lambda x: x != "")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: alnum runs + individual symbols (TOKEN_RE)."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


def stopword_hits(text: Column, stopwords: list[str]) -> Column:
    """Number of whitespace tokens that are in ``stopwords`` (lowercased)."""
    toks = tokens(portable_lower(text))
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def substring_hits(text: Column, markers: list[str]) -> Column:
    """Total occurrence count of each marker as a SUBSTRING — required for
    unsegmented scripts (Chinese has no whitespace tokens, so token-equality
    matching can never fire)."""
    import re as _re

    total = None
    for m in markers:
        c = F.regexp_count(portable_lower(text), F.lit(_re.escape(m)))
        total = c if total is None else total + c
    return total if total is not None else F.lit(0)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: lengths, token counts, punctuation /
    stopword / uppercase ratios, mean token length.

    One narrow projection — no shuffle; at 100 TB this is a pure map stage
    that pipelines with the parquet scan.

    Ratios are emitted UNROUNDED: each is a single int/int IEEE division,
    which is correctly rounded and therefore bit-identical in any engine,
    whereas a decimal re-round (``round(x, 6)``) can diverge by 1 ULP
    between engines (Spark BigDecimal HALF_UP vs multiply-round-divide) —
    the hazard that made the ``repetition`` oracle row flaky in round 4.
    """
    t = F.col(text_col)
    n_tok = token_count_ws(t)
    n_char = F.length(t)
    stop = stopword_hits(t, LANG_MARKERS["en"])
    return df.select(
        "*",
        n_char.alias("q_chars"),
        n_tok.alias("q_tokens"),
        token_count_bpe(t).alias("q_bpe_tokens"),
        F.when(n_char > 0, F.regexp_count(t, F.lit(r"[.,;:!?]")) / n_char)
        .otherwise(F.lit(0.0))
        .alias("q_punct_ratio"),
        F.when(n_tok > 0, stop / n_tok).otherwise(F.lit(0.0)).alias("q_stopword_ratio"),
        F.when(n_tok > 0, n_char / n_tok).otherwise(F.lit(0.0)).alias("q_mean_token_len"),
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language heuristic: argmax of per-language marker-token
    hit counts; ties and all-zero fall back to 'und'.

    Deterministic tie-break: higher count wins, then lexicographic language
    code. Pure expressions — a map-only stage at any scale. Space-delimited
    languages match markers as whole tokens; unsegmented scripts (zh) count
    marker substrings, since Chinese text has no whitespace tokens.
    """
    t = portable_lower(F.col(text_col))
    langs = sorted(LANG_MARKERS)
    hit_cols = {
        lang: (
            substring_hits(t, LANG_MARKERS[lang])
            if lang == "zh"
            else stopword_hits(t, LANG_MARKERS[lang])
        )
        for lang in langs
    }
    # struct(-count, lang) and array_min gives (max count, lexicographically
    # smallest lang) — deterministic argmax.
    candidates = F.array(
        *[F.struct((-hit_cols[lang]).alias("neg"), F.lit(lang).alias("lang")) for lang in langs]
    )
    best = F.array_min(candidates)
    pred = F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


#: PII patterns, deliberately restricted to syntax with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
#: classes, bounded repetition, non-capturing groups, \b. Order matters:
#: emails first (they contain dots and digits), then IPv4, then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
]


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora (the C4/Dolma-style hygiene
    pass): mask emails, IPv4 addresses and phone numbers with typed
    placeholder tokens and report per-category match counts.

    Map-only codegen stage — counts and masks are both chained in
    ``PII_PATTERNS`` order, so each category's count is computed on the
    text AFTER earlier categories were masked and therefore equals the
    number of its placeholder tokens in ``redacted`` (counting every
    category on the original text would let an email swallow an
    IP-looking substring and report an ``<IP>`` that never appears).
    Nothing shuffles and nothing leaves the JVM, so this pipelines with
    the scan at any scale.
    """
    out_cols = [F.col(c) for c in df.columns]
    redacted = F.col(text_col)
    for name, pattern, token in PII_PATTERNS:
        out_cols.append(F.regexp_count(redacted, F.lit(pattern)).alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pattern, token)
    out_cols.append(redacted.alias("redacted"))
    return df.select(*out_cols)


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: count distinct word ``k``-grams each
    document shares with a benchmark/eval corpus (the standard
    train-test-overlap guard in LLM pipelines; production uses k=8-13,
    fixture tests use smaller k).

    Plan shape for 100 TB: explode each side to distinct (id, gram) /
    (gram) rows, inner-join on the gram, count per document. Benchmark
    corpora are small (eval sets), so the gram side is always broadcast
    — the 100 TB document stream never shuffles. Gram normalization is the
    dedup family's canonical form (shared ``word_shingles``), so
    decontamination and near-dup can't disagree on tokenization.
    """
    from .dedup import word_shingles

    doc_grams = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(word_shingles(F.col(text_col), k)).alias("g"),
    )
    bench_grams = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), k)).alias("g"))
        .distinct()
    )
    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("__did")
        .agg(F.count(F.lit(1)).alias("n_overlap"))  # doc grams are distinct per doc
    )
    return (
        docs.join(overlap, docs[id_col] == F.col("__did"), "left")
        .drop("__did")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Document fingerprint: sha2-256 over the dedup family's canonical
    normalized form (shared with exact_dedup so the two hash definitions
    can never silently fork)."""
    from .dedup import normalize_text

    return df.withColumn(out_col, F.sha2(normalize_text(F.col(text_col)), 256))


def token_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace tokens
    (lowercased) with occurrence and document frequencies — the first
    step of vocabulary construction / corpus profiling over a training
    set.

    Plan shape at 100 TB: explode tokens (map-only), ONE hash
    aggregation per (token) computing both counts — ``n_docs`` via
    ``count(DISTINCT id)`` would re-shuffle, so the doc frequency is a
    two-level aggregate: (token, id) partial first, then token. Top-k is
    ``orderBy().limit()`` — Spark's TakeOrdered, a per-partition heap +
    driver merge of k rows, never a global sort. Deterministic
    tie-break: count desc, then token asc.

    Output: (token, n_occurrences, n_docs) — exactly ``k`` rows (fewer
    on tiny corpora).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS)).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("token", "id").agg(F.count(F.lit(1)).alias("c"))
    counts = per_doc.groupBy("token").agg(
        F.sum("c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("token").asc()).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    top: int = 3,
) -> DataFrame:
    """Per-document top-``top`` TF-IDF terms (whitespace tokens,
    lowercased) — the standard keyword/topic-profiling pass over a
    corpus.

    Ranking is by tf/df (term frequency over document frequency), which
    orders identically to any tf·idf(N) with a corpus-constant N and a
    monotone idf — so no corpus-size scalar (and no driver-side count)
    enters the plan, keeping construction lazy and the ranking free of
    transcendental functions whose last-ulp behavior could differ
    between engines. The output carries the integer evidence (tf, df)
    rather than a float score: consumers can apply their preferred idf
    curve, and cross-engine verification hashes exact integers.

    Plan shape at 100 TB: one (id, token) aggregation for tf; df is a
    second aggregation over the FIRST one's output (already distinct per
    (token, doc), so no distinct-shuffle); ranking is a window
    partitioned by doc — per-doc groups are bounded by vocabulary, so
    no skew hazard. Deterministic tie-break: tf/df desc, then token asc.

    Output: (doc_id, rank, term, tf, df_docs).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS)).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = tf.join(dfreq, "term")
    w = Window.partitionBy("id").orderBy(
        (F.col("tf").cast("double") / F.col("df_docs")).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            F.col("id").alias(id_col),
            "rank",
            F.col("term"),
            "tf",
            "df_docs",
        )
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText family
    of curation rules: Rae et al. 2021 §A1.1, carried into RefinedWeb and
    friends): boilerplate-heavy and looping documents show duplicate
    lines and a dominant repeated n-gram long before dedup sees them.

    Output per doc: exact integer evidence — ``n_lines``,
    ``n_distinct_lines`` (whitespace-trimmed, empties dropped),
    ``n_bigrams`` (total word 2-grams), ``top_c`` (count of the most
    frequent 2-gram) — plus derived doubles ``dup_line_frac``
    (1 - distinct/total) and ``top_bigram_frac`` (top_c/total) for
    in-engine consumers, and ``rep_flagged`` under the published-style
    thresholds (dup_line_frac > 0.30 or top_bigram_frac > 0.18 with
    >= 20 bigrams).

    The flag is computed from INTEGER arithmetic only
    (``10*(n_lines - n_distinct_lines) > 3*n_lines`` and
    ``100*top_c > 18*n_bigrams``), never from the derived doubles:
    a rounded float ratio is not a stable cross-engine contract — Spark
    rounds HALF_UP on the exact binary value via Java BigDecimal while
    other engines multiply-round-divide, and the two can disagree by one
    ULP near a boundary. Any cross-engine comparison should likewise
    hash the integer columns, not the fracs.

    Plan shape: line metrics are per-row array expressions (no shuffle);
    the bigram mode needs a (doc, gram) count, done explode -> two hash
    aggregations — the shuffle carries (id, 8-byte xxhash64(gram)) rather
    than gram text. Docs with < 2 tokens have no bigrams: top_c 0.

    The token array is materialized as a projected column BEFORE the
    gram construction, and grams come from ONE zip_with over two slices
    — not transform(i -> slice(toks, i, 2)) over an index sequence,
    whose interpreted lambda re-evaluates the whole tokenize expression
    per gram (measured 5.0 s -> 0.1 s on the 1000-doc gate corpus; the
    same trap minhash_signatures_df documents).
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_distinct_lines"),
    )

    tok_df = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_for_rep(F.col(text_col))).alias("__toks"),
    )
    n = F.size(F.col("__toks"))
    empty = F.array().cast("array<string>")
    gram_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("__toks"), F.lit(1), n - 1),
            F.slice(F.col("__toks"), F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(empty)
    exploded = tok_df.select("id", F.explode_outer(gram_arr).alias("gram"))
    gram_stats = (
        # null-preserving hash: xxhash64 SKIPS null inputs (returning the
        # seed's hash), which would turn the explode_outer placeholder of
        # a <2-token doc into a phantom gram
        exploded.select(
            "id",
            F.when(F.col("gram").isNotNull(), F.xxhash64("gram")).alias("g"),
        )
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.max(F.when(F.col("g").isNotNull(), F.col("c"))).alias("top_c"),
            F.sum(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(0)).alias(
                "total_c"
            ),
        )
        .select(
            "id",
            F.col("total_c").cast("long").alias("n_bigrams"),
            F.coalesce(F.col("top_c"), F.lit(0)).cast("long").alias("top_c"),
        )
    )
    dup_line_frac = F.when(
        F.col("n_lines") > 0,
        1 - F.col("n_distinct_lines") / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    top_bigram_frac = F.when(
        F.col("n_bigrams") > 0, F.col("top_c") / F.col("n_bigrams")
    ).otherwise(F.lit(0.0))
    return (
        base.join(gram_stats, "id")
        .select(
            F.col("id").alias(id_col),
            "n_lines",
            "n_distinct_lines",
            "n_bigrams",
            "top_c",
            dup_line_frac.alias("dup_line_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            (
                # integer-only flag arithmetic: ULP-proof across engines
                (10 * (F.col("n_lines") - F.col("n_distinct_lines")) > 3 * F.col("n_lines"))
                | (
                    (100 * F.col("top_c") > 18 * F.col("n_bigrams"))
                    & (F.col("n_bigrams") >= 20)
                )
            ).alias("rep_flagged"),
        )
    )


def normalize_for_rep(text: Column) -> Column:
    """Lowercase + whitespace-collapse — the same canonical form the dedup
    family uses, so repetition and dedup agree on what a token is."""
    return F.regexp_replace(portable_lower(F.trim(text)), PORTABLE_WS_PLUS, " ")


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the step
    between cleaning and sequence packing in a training-data pipeline
    (context-window chunking for pretraining shards, embedding inputs,
    retrieval corpora).

    Chunk i covers whitespace tokens ``[i*stride, i*stride + max_tokens)``
    with ``stride = max_tokens - overlap``; the last chunk is the first
    one whose window reaches the end of the document, so every token is
    covered, consecutive chunks share exactly ``overlap`` tokens, and a
    doc with ``<= max_tokens`` tokens yields exactly one chunk. Empty /
    whitespace-only docs yield NO chunks (nothing to train on).

    Output: ``(id, chunk_idx, n_chunk_tokens, chunk_text)``.

    Plan shape: pure flat-map — tokenize once (projected column), a
    JVM-side ``sequence``/``explode`` for chunk indices, ``slice`` +
    ``concat_ws`` per chunk. No shuffle, no Python; at 100 TB this
    pipelines with the parquet scan exactly like the quality features.
    The token array is materialized BEFORE the per-chunk slicing for the
    same interpreted-lambda reason ``repetition_features`` documents.
    """
    if max_tokens <= 0 or overlap < 0 or overlap >= max_tokens:
        raise ValueError("need max_tokens > 0 and 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    tok_df = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size(F.col("__toks"))
    # number of chunks: 1 + ceil(max(n - max_tokens, 0) / stride), via
    # integer arithmetic; 0 chunks when the doc has no tokens
    extra = F.greatest(n - F.lit(max_tokens), F.lit(0))
    n_chunks = F.when(
        n > 0, F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    ).otherwise(F.lit(0))
    # sequence(0, -1) would generate a DESCENDING [0, -1] (Spark's
    # sequence direction follows its bounds) — guard the 0-chunk case
    # to an explicit empty array instead.
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    exploded = tok_df.select(
        "id",
        "__toks",
        F.explode(idxs).alias("chunk_idx"),
    )
    window = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, max_tokens
    )
    return exploded.select(
        F.col("id").alias(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", window).alias("chunk_text"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_docs: int = 2,
    max_doc_ratio_pct: int = 5,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: drop EVERY instance of any
    line that appears in too many distinct documents, then reassemble.

    The C4/RefinedWeb-style companion to ``dedup.paragraph_dedup``:
    span dedup keeps a repeated line's FIRST instance, but navigation
    chrome / cookie banners / license footers should keep ZERO — a line
    is boilerplate when its document frequency reaches ``min_docs`` AND
    ``max_doc_ratio_pct`` percent of the corpus (the ratio test is
    integer cross-multiplication, ``df * 100 >= n_docs * pct`` — no
    float decides membership).

    Plan shape at 100 TB (r16 — the paragraph_dedup guide-§8 rewrite
    applied here: decisions ride hashes and positions, the line text
    never enters any exchange):
    1. per-doc DISTINCT line hashes computed inside the row
       (array_distinct over the split array) — the document-frequency
       aggregate receives one (id, lkey) row per distinct line with NO
       per-(lkey, id) pre-shuffle (pre-r16 this was a two-level
       (lkey, id) -> lkey aggregate: two occurrence-sized exchanges).
       Map-side combine still absorbs the billion-copy footer.
    2. corpus size joins on as a broadcast 1-row bound (cf. the
       histogram bounds pattern), so the threshold needs no collect.
    3. boilerplate keys are few by construction (each needs >= pct% of
       all docs) -> ``left_anti`` broadcast join against the exploded
       (id, pos, lkey) rows; the surviving POSITIONS regroup per doc
       (longs only) into a sorted keep-plan.
    4. reassembly IN the document row: the keep-plan left-joins back on
       id and ``text_clean`` is rebuilt by ``element_at`` lookups into
       the row's own split array (pre-r16 the reassembly
       ``collect_list(struct(pos, line))`` shuffled every surviving
       line's text by doc id; ``n_lines`` cost a fourth, per-id
       exchange — both gone).

    Collision wager: a 64-bit line-hash collision removes an innocent
    line with the boilerplate one (~2^-64/pair, the MinHash-family
    trade documented in paragraph_dedup).

    Output: (id_col, n_lines, n_kept, text_clean) — fully-boilerplate
    documents surface with ``n_kept = 0`` and empty text, auditable via
    ``sum(n_lines - n_kept)``. Assumes ``id_col`` is unique per row
    (reassembly is keyed on it, as in paragraph_dedup).
    """
    if min_docs < 1 or not (0 < max_doc_ratio_pct <= 100):
        raise ValueError("min_docs >= 1 and 0 < max_doc_ratio_pct <= 100 required")
    # F.split treats the separator as a Java regex but array_join below
    # reassembles with it as a literal — escape it so a regex-special sep
    # ('|', '.', '+') can't silently split per-character (ADVICE r5 #3);
    # re.escape only ever backslashes non-alphanumerics, which Java regex
    # accepts as literal escapes unconditionally
    import re as _re

    segs = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), _re.escape(sep)).alias("__segs"),
    )
    # per-doc DISTINCT line hashes, computed in the row: empty-after-
    # trim segments are dropped exactly as the exploded form did
    line_hashes = F.array_distinct(
        F.transform(
            F.filter(F.col("__segs"), lambda s: F.trim(s) != ""),
            lambda s: F.xxhash64(F.trim(s)),
        )
    )
    distinct_pairs = segs.select(
        "id", F.explode(line_hashes).alias("lkey")
    )
    line_df = distinct_pairs.groupBy("lkey").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    boiler = (
        line_df.join(F.broadcast(n_docs))
        .filter(
            (F.col("df_docs") >= F.lit(min_docs))
            & (F.col("df_docs") * 100 >= F.col("n_docs") * F.lit(max_doc_ratio_pct))
        )
        .select("lkey")
    )
    lines = (
        segs.select("id", F.posexplode("__segs").alias("pos", "raw"))
        .select(
            "id",
            "pos",
            F.xxhash64(F.trim(F.col("raw"))).alias("lkey"),
            (F.trim(F.col("raw")) != "").alias("__ne"),
        )
        .filter(F.col("__ne"))
    )
    keep_plan = (
        lines.join(F.broadcast(boiler), "lkey", "left_anti")
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("__kp"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    n_lines = F.size(
        F.filter(F.col("__segs"), lambda s: F.trim(s) != "")
    ).cast("long")
    rebuilt = F.array_join(
        F.transform(
            F.col("__kp"), lambda p: F.trim(F.element_at(F.col("__segs"), p + 1))
        ),
        sep,
    )
    return (
        segs.join(keep_plan, "id", "left")
        .select(
            F.col("id").alias(id_col),
            # isNull guard: NULL text stays 0 under either size(NULL)
            # convention; coalesce keeps the non-nullable schema
            F.coalesce(
                F.when(F.col("__segs").isNull(), F.lit(0).cast("long")).otherwise(
                    n_lines
                ),
                F.lit(0).cast("long"),
            ).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(rebuilt, F.lit("")).alias("text_clean"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top: int = 100,
) -> DataFrame:
    """Corpus-wide collocation mining: the ``top`` word bigrams ranked
    by pointwise mutual information, PMI = log(P(xy) / (P(x)P(y))).

    Because log is monotone, ranking by the RATIO ``c_xy * N /
    (c_x * c_y)`` is ranking by PMI — so no transcendental ever runs
    (the tfidf_top_terms discipline): the score is a product/quotient
    of exact longs evaluated in a fixed association order, and IEEE
    multiply/divide are correctly rounded, so two engines produce the
    BIT-IDENTICAL double. ``min_count`` kills the hapax-pair noise PMI
    is notorious for (a 1-occurrence pair of 1-occurrence words has
    maximal PMI and zero value).

    Plan shape at 100 TB: bigrams come from ONE zip_with over two
    token-array slices (the interpreted-lambda trap repetition_features
    documents is avoided the same way); unigram and bigram counts are
    two hash aggregations with map-side combine; the pair->word joins
    are plain equi-joins on the word key (linear, AQE-planned); the
    corpus bigram total joins as a broadcast 1-row bound; top-k
    compiles to TakeOrdered, not a global sort.

    Output: (w1, w2, c_xy, c_x, c_y, n_big, score) — the integer
    evidence makes every score auditable downstream.
    """
    toks = F.filter(
        F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS), lambda t: t != ""
    )
    tok_df = df.select(toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    uni = (
        tok_df.select(F.explode(F.col("__toks")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("__toks"), F.lit(1), n - 1),
            F.slice(F.col("__toks"), F.lit(2), n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(empty)
    big = (
        tok_df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n_big = big.agg(F.sum("c_xy").alias("n_big"))
    scored = (
        big.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .join(F.broadcast(n_big))
        .withColumn(
            "score",
            F.col("c_xy").cast("double") * F.col("n_big") / F.col("c_x") / F.col("c_y"),
        )
    )
    return scored.select("w1", "w2", "c_xy", "c_x", "c_y", "n_big", "score").orderBy(
        F.col("score").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top)


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_postings: int = 1000,
) -> DataFrame:
    """Build an inverted index: per token, document frequency, total
    term frequency, and a ``doc:tf`` posting list sorted by doc id —
    the retrieval-side artifact (BM25 backends, decontamination lookup
    tables) of a text corpus.

    Plan shape at 100 TB: explode tokens map-only, then the token_topk
    two-level aggregate — (token, doc) partial first (map-side combine
    absorbs within-doc repeats), then per-token stats + postings in ONE
    hash aggregation. Postings are assembled as a sorted-struct array
    and truncated to ``max_postings`` BEFORE stringification: stopword
    tokens appear in every document, and an unbounded collect_list on
    them is the per-group memory hazard — the cap bounds per-token
    state to ``max_postings`` entries deterministically (lowest doc
    ids win; ``df_docs``/``total_tf`` still count everything, so the
    truncation is visible, not silent).

    The posting list is emitted as a STRING (``"7:2,9:1"``): arrays of
    structs render differently across engines, strings hash
    identically everywhere.

    Output: (token, df_docs, total_tf, n_postings, postings).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS)).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("token", "id").agg(F.count(F.lit(1)).alias("tf"))
    sorted_postings = F.slice(
        F.array_sort(F.collect_list(F.struct("id", "tf"))), 1, max_postings
    )
    return per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df_docs"),
        F.sum("tf").alias("total_tf"),
        F.least(F.count(F.lit(1)), F.lit(max_postings).cast("long")).alias("n_postings"),
        F.array_join(
            F.transform(
                sorted_postings, lambda s: F.concat_ws(":", s["id"], s["tf"])
            ),
            ",",
        ).alias("postings"),
    )


def ngram_lm_counts(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 2,
    top: int = 200,
) -> DataFrame:
    """Corpus trigram table with the Kneser-Ney continuation evidence a
    count-based LM (or a contamination/memorization probe) needs: per
    trigram (w1,w2,w3), its count, the prefix-bigram count, and the two
    type-diversity counts KN smoothing is built from —
    ``n_right`` = distinct continuations of (w1,w2) (N1+(xy·)) and
    ``n_left`` = distinct left contexts of (w2,w3) (N1+(·yz)).

    Every number is an exact integer; ranking/tie-breaks are
    (count desc, words asc) — no float anywhere, so the table is a
    stable cross-engine artifact.

    Plan shape at 100 TB: trigrams come from ONE zip_with over three
    token-array slices (no interpreted per-gram lambda re-evaluation);
    the trigram count is one hash aggregation, and EVERY derived
    quantity (prefix counts, both diversity counts) aggregates the
    already-aggregated trigram frame — the raw corpus is scanned once,
    shuffled once on the trigram key, and the remaining joins operate
    on |distinct trigrams|-sized inputs on bigram keys. Top-k is
    TakeOrdered.

    Output: (w1, w2, w3, c_xyz, c_xy, n_right, n_left).
    """
    toks = F.filter(
        F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS), lambda t: t != ""
    )
    tok_df = df.select(toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    empty = F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    tris = F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(F.col("__toks"), F.lit(1), n - 2),
                F.slice(F.col("__toks"), F.lit(2), n - 2),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            F.slice(F.col("__toks"), F.lit(3), n - 2),
            lambda p, c: F.struct(
                p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
            ),
        ),
    ).otherwise(empty)
    tri = (
        tok_df.select(F.explode(tris).alias("t"))
        .select("t.w1", "t.w2", "t.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_xyz"))
    )
    # Derived quantities as WINDOWS over the aggregated trigram frame,
    # not as separate groupBy+join branches: a branched plan re-scans
    # the corpus once per branch unless exchange reuse happens to fire
    # (observed: it doesn't for the distinct-only branch) — windows
    # guarantee ONE corpus scan by construction, and they run over
    # |distinct trigrams| rows, not input rows.
    w_pre = Window.partitionBy("w1", "w2")
    w_suf = Window.partitionBy("w2", "w3")
    return (
        tri.withColumn("c_xy", F.sum("c_xyz").over(w_pre))
        .withColumn("n_right", F.count(F.lit(1)).over(w_pre))
        .withColumn("n_left", F.count(F.lit(1)).over(w_suf))
        .filter(F.col("c_xyz") >= min_count)
        .select("w1", "w2", "w3", "c_xyz", "c_xy", "n_right", "n_left")
        .orderBy(
            F.col("c_xyz").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
            F.col("w3").asc(),
        )
        .limit(top)
    )


def compression_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the curation signal
    (used by RefinedWeb-style pipelines) that catches what token
    statistics miss: highly repetitive or templated text compresses far
    below prose, and near-random noise barely compresses at all; both
    tails are removal candidates.

    This is a DESIGNED Python-unavoidable path (no JVM-side zlib
    expression exists), so it runs as Arrow-batched ``mapInPandas`` —
    one Python worker pass, zero shuffles, columnar transfer — never a
    row-at-a-time UDF. Ratio is emitted as integer PERMILLE
    (``compressed*1000 // raw``) so downstream gates compare longs, in
    keeping with the engine's integer-contract discipline; raw/compressed
    byte counts ride along as audit evidence. No cross-engine oracle
    exists (DuckDB has no zlib) — the registry entry is rows-only, with
    signal-validity evidence recorded by tools/oracle_check.py
    (repetition-flagged docs must compress below unflagged ones).

    Output: (id_col, n_bytes, n_compressed, ratio_permille).
    """
    import zlib

    out_schema = f"{id_col} long, n_bytes long, n_compressed long, ratio_permille long"

    def batches(it):
        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            nb = raw.map(len)
            nc = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": nb.astype("int64"),
                    "n_compressed": nc.astype("int64"),
                    "ratio_permille": (
                        (nc.astype("int64") * 1000) // nb.clip(lower=1).astype("int64")
                    ).astype("int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def _bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic greedy BPE encode of one word: repeatedly merge the
    adjacent symbol pair with the LOWEST merge rank until none applies
    (Sennrich et al. 2016 — public algorithm; ties cannot occur because
    ranks are distinct by construction)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    preview_tokens: int = 16,
) -> DataFrame:
    """Apply a fixed BPE merge table to every document — the
    tokenizer-APPLY stage, which unlike training must run over the FULL
    corpus. Greedy merge loops cannot be expressed in native Column
    algebra, so this is the designed Arrow path: ``mapInPandas`` with
    the (small) merge table captured in the closure and a per-batch
    word-level memo — Zipf again: a batch of documents contains few
    distinct words relative to tokens, so each distinct word is encoded
    once per batch, not once per occurrence. Map-only: no shuffle, the
    stage pipelines with the scan at any scale.

    Output per doc: ``n_words``, ``n_bpe_tokens`` and a
    ``preview_tokens``-token space-joined prefix for auditability.
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = "doc_id long, n_words long, n_bpe_tokens long, preview string"

    canonical = F.regexp_replace(
        portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS, " "
    )

    def run(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def encode(text) -> tuple[int, int, str]:
            if text is None:
                return (0, 0, "")
            words = [w for w in text.split(" ") if w]
            n_tok = 0
            preview: list[str] = []
            for w in words:
                toks = memo.get(w)
                if toks is None:
                    toks = _bpe_encode_word(w, ranks)
                    memo[w] = toks
                n_tok += len(toks)
                if len(preview) < preview_tokens:
                    preview.extend(toks[: preview_tokens - len(preview)])
            return (len(words), n_tok, " ".join(preview))

        for pdf in batches:
            enc = [encode(t) for t in pdf["__canon"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"],
                    "n_words": [e[0] for e in enc],
                    "n_bpe_tokens": [e[1] for e in enc],
                    "preview": [e[2] for e in enc],
                }
            )

    return df.select(
        F.col(id_col).alias("__id"), canonical.alias("__canon")
    ).mapInPandas(run, out_schema)


def _anchored_span_arrays(
    df: DataFrame, *, text_col: str, id_col: str, span: int
) -> DataFrame:
    """(id, sp) rows where ``sp`` is the array of every ``span``-char
    slice starting at a word boundary (position 1 or any position
    following a single space, 0x20). Shared geometry of the span family
    so detector and decider can never disagree on what a span is.

    r15 optimization (guide §1.2 step 2 — per-task work): anchors were
    previously found by a ``sequence(1, n-span+1)`` transform that ran
    ``t.substr(i-1, 1) == " "`` per POSITION — one UTF8String allocation
    per character of corpus text — then a second transform sliced the
    spans. The anchors-after-spaces are now extracted in one native
    regex scan: ``(?s)(?= (.{span}))`` matches zero-width at every space
    followed by ``span`` chars and captures the slice (``(?s)`` because
    raw text may contain newlines and the slice must cross them exactly
    like ``substr`` did); position 1 is prepended as a literal
    ``substr``. Equality with the positional form is pinned by test on
    fixture text plus adversarial rows (leading/double spaces,
    len < span, len == span, newlines, NULL). Measured at the 200k-doc
    dedup tier (interleaved A/B, 3 rounds): span_coverage 21.7 -> 12.6 s
    (it consumes the anchor pass three times), repeated_spans
    14.3 -> 13.4 s (aggregation-bound);
    the regex scan also dodges a projection-shape hazard where the
    WHEN-guarded positions transform re-evaluates under a bound column
    (the winnow_fingerprints lesson-1 family).
    """
    t = F.col(text_col)
    n = F.length(t)
    after_space = F.regexp_extract_all(t, F.lit(f"(?s)(?= (.{{{span}}}))"), 1)
    spans = F.when(
        n >= span, F.concat(F.array(t.substr(F.lit(1), F.lit(span))), after_space)
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col).alias("id"), spans.alias("sp"))


def _anchored_spans(
    df: DataFrame, *, text_col: str, id_col: str, span: int
) -> DataFrame:
    """(id, s) rows — the exploded string form of
    :func:`_anchored_span_arrays` (used where the span TEXT is needed,
    e.g. the exemplar-recovery pass over a handful of documents)."""
    return _anchored_span_arrays(
        df, text_col=text_col, id_col=id_col, span=span
    ).select("id", F.explode("sp").alias("s"))


def _anchored_span_hash_counts(
    df: DataFrame, *, text_col: str, id_col: str, span: int
) -> DataFrame:
    """(id, h, c) rows: per document, each DISTINCT anchored-span hash
    with its within-doc occurrence count ``c`` — exactly the multiset
    an explode of the span hashes + ``groupBy(h, id).count()`` produces, but
    computed INSIDE the span array (sort + run-length boundaries), so
    the per-(h, id) pre-aggregation needs NO exchange (r16, guide §2.3
    "aggregate before you shuffle" taken to its limit: the aggregate
    happens in the row that already holds the whole group). The old
    two-level ``groupBy(h, id)`` -> ``groupBy(h)`` pipeline shipped
    every distinct (h, id) pair through TWO shuffles — the first one's
    map-side combine collapsed only within-doc repeats (rare), so both
    exchanges carried ~every span occurrence. Consumers now shuffle
    once, straight to the per-``h`` aggregate.

    Run-length construction: ``__hs`` is the sorted hash array;
    ``starts`` holds the 1-based positions that begin a run of equal
    values; zipping ``starts`` with its own tail (sentinel n+1) yields
    (hash, run-length) pairs. Empty span arrays are filtered before
    ``sequence(1, n)`` (Spark's sequence DESCENDS when n < 1 — the
    winnow_fingerprints lesson-1 guard family), matching the explode
    form, which emits nothing for them.
    """
    arr = _anchored_span_arrays(df, text_col=text_col, id_col=id_col, span=span)
    base = arr.select(
        "id",
        F.array_sort(F.transform("sp", lambda s: F.xxhash64(s))).alias("__hs"),
    ).filter(F.size("__hs") >= 1)
    hs = F.col("__hs")
    n = F.size(hs)
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1) | (F.element_at(hs, i) != F.element_at(hs, i - 1)),
    )
    bounded = base.select("id", hs.alias("__hs2"), starts.alias("__st"))
    hs2 = F.col("__hs2")
    st = F.col("__st")
    nexts = F.concat(
        F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
        F.array(F.size(hs2) + 1),
    )
    pairs = F.zip_with(
        st,
        nexts,
        lambda s, nx: F.struct(
            F.element_at(hs2, s).alias("h"), (nx - s).cast("long").alias("c")
        ),
    )
    return bounded.select("id", F.explode(pairs).alias("__p")).select(
        "id", F.col("__p.h").alias("h"), F.col("__p.c").alias("c")
    )


def repeated_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 64,
    min_docs: int = 2,
    top: int = 100,
) -> DataFrame:
    """Cross-document repeated character spans — the practical
    approximation of suffix-array exact-substring dedup (Lee et al.
    2022 motivates removing long verbatim repeats that line- and
    paragraph-level dedup miss: license blocks, templated disclaimers,
    injected boilerplate that crosses line boundaries).

    Anchoring is CONTENT-DEFINED, not fixed-stride: candidate spans
    start at word boundaries (position 1 and every position after a
    space). Fixed-stride anchors only match repeats at equal offsets
    modulo the stride; word boundaries travel WITH the content, so the
    same repeated region anchors identically in every document
    regardless of where it sits. (The heavier production alternative —
    winnowing over a rolling hash — needs an engine-shared hash and is
    documented here rather than gated: the space-anchor rule is exact,
    oracle-able, and catches any >= ``span``-char repeat containing a
    word boundary.)

    Per doc the span set is DISTINCT (a doc repeating its own footer
    counts once), so ``n_docs`` is true document frequency;
    ``n_total`` additionally counts within-doc repeats. Output: the
    ``top`` spans by (n_docs desc, span asc — deterministic), each with
    both counts.

    Plan (VERDICT r6 #4): the EXCHANGE carries ``xxhash64(span)`` — 8
    bytes — never the span text. A raw-string shuffle here is ~10x
    corpus bytes (one 64-byte key per ~6-byte word), the difference
    between feasible and not at 100 TB. Counting runs entirely on the
    hash, with ``min(id)`` carried through the aggregate as an 8-byte
    EXEMPLAR pointer; the output's span strings are then recovered by
    re-anchoring ONLY the exemplar documents of the few hashes that
    survive the ``min_docs`` filter (repeated spans are rare by
    construction — both the id set and the hash set broadcast), so the
    recovery pass explodes |survivor docs|, not the corpus, and no
    full-width span string ever enters an exchange. Distinct spans
    colliding in xxhash64 would merge counts; at 2^64 that needs ~10^9
    distinct spans for a 1e-20 pair chance — documented, not defended
    (collisions aside, every string sharing a hash IS the span, so the
    exemplar recovery is exact).
    """
    # r16: the per-(h, id) counts come straight out of the span array
    # (run-length over the sorted hashes) instead of a groupBy(h, id)
    # exchange — one shuffle to the per-h aggregate instead of two
    # occurrence-sized ones (see _anchored_span_hash_counts).
    per_doc = _anchored_span_hash_counts(
        df, text_col=text_col, id_col=id_col, span=span
    )
    counts = (
        per_doc.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").cast("long").alias("n_total"),
            F.min("id").alias("ex_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
        # the survivor manifest is consumed THREE times (exemplar-id
        # set, final join, ordering); unpersisted, each consumer
        # re-runs the whole corpus anchor pass (measured 3x wall at the
        # 200k-doc tier). It is |survivors| rows of four longs — the
        # thing a production run materializes.
        #
        # CACHE LIFETIME (ADVICE r7): the operator cannot unpersist
        # before the returned lazy DataFrame is consumed, and an eager
        # materialize here would break the registry's no-jobs-at-build
        # contract, so the blocks live until the session ends or the
        # caller clears them. Each invocation caches only the tiny
        # survivor manifest (never corpus data), so accumulation across
        # repeated calls in a long-lived session is |survivors|-bounded
        # per call; callers running many invocations should
        # spark.catalog.clearCache() between them (bench.py does).
        .persist()
    )
    ex_docs = df.join(
        F.broadcast(counts.select(F.col("ex_id").alias(id_col)).distinct()),
        id_col,
    )
    strings = (
        # survivors only by construction after the final inner join on
        # h; non-surviving spans of exemplar docs are a few wasted
        # min() rows, cheaper than another broadcast filter
        _anchored_spans(ex_docs, text_col=text_col, id_col=id_col, span=span)
        .select(F.xxhash64("s").alias("h"), "s")
        .groupBy("h")
        .agg(F.min("s").alias("s"))
    )
    return (
        counts.join(strings, "h")
        .orderBy(F.col("n_docs").desc(), F.col("s").asc())
        .limit(top)
        .select(F.col("s").alias("span"), "n_docs", "n_total")
    )


def span_coverage(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 64,
    min_docs: int = 2,
    flag_pct: int = 30,
) -> DataFrame:
    """Per-document repeated-span coverage — the DECISION stage paired
    with ``repeated_spans``' detection: how many of a doc's anchored
    spans are corpus-repeated (appear in >= ``min_docs`` docs), and an
    integer-rule drop flag ``100 * n_repeated >= flag_pct * n_anchors``
    (zero-anchor docs never flag). A doc dominated by verbatim
    cross-document material is template chrome or syndicated content —
    the doc-level cut that span DETECTION alone cannot make.

    Plan (VERDICT r6 #4): HASHES end to end — one anchored-span explode
    projected to ``xxhash64(span)`` feeds the document-frequency
    aggregate, the per-doc counts, AND the repeated-set join back; the
    span text never enters any exchange (the detector's 10x-shuffle
    note applies here identically, and this operator's output doesn't
    even need the strings). The repeated-hash set is few by
    construction (each needs multiple docs), so it broadcasts. Shares
    ``_anchored_spans`` with the detector, so the two stages cannot
    disagree on anchoring.
    """
    # Input spread: this operator's per-row map work is heavy enough
    # that parallelizing it beats the one-time text shuffle on an
    # under-split input (A/B at sf0.1, warm medians — minhash gate
    # 1.45->1.24 s, span_coverage 3.6->2.0 s). The same A/B showed the
    # LIGHTER siblings (simhash bit-sums, setsim tokenize,
    # paragraph split, span anchoring in repeated_spans) LOSE to the
    # shuffle cost, so they deliberately do NOT spread. No-op on any
    # multi-partition input — see sources/catalog.spread_small_scan.
    df = spread_small_scan(df)
    # r16 restructure (guide §2.3/§2.4): the per-(h, id) counts come out
    # of the span array with no exchange (_anchored_span_hash_counts),
    # and ONE membership-marked aggregate replaces the two separate
    # per-id passes — n_anchors is the sum of ALL per-doc counts,
    # n_repeated the sum of the counts whose hash joined the broadcast
    # repeated set. Before: 4 shuffles (per-(h,id) pre-agg, per-h df,
    # per-id anchors, per-id repeated) and 3 corpus regex passes; after:
    # 2 shuffles (per-h df, per-id combined) and 2 regex passes, with
    # the per-id exchange carrying ~|docs| partially-aggregated rows.
    per_doc = _anchored_span_hash_counts(
        df, text_col=text_col, id_col=id_col, span=span
    )
    rep = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(1).alias("__rep"))
    )
    per_id = (
        per_doc.join(F.broadcast(rep), "h", "left")
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_anchors"),
            F.sum(F.when(F.col("__rep") == 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_repeated"),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    out = base.join(per_id, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_anchors", F.lit(0)).cast("long").alias("n_anchors"),
        F.coalesce("n_repeated", F.lit(0)).cast("long").alias("n_repeated"),
    )
    flagged = (F.col("n_anchors") > 0) & (
        F.col("n_repeated") * 100 >= F.col("n_anchors") * flag_pct
    )
    return out.withColumn("span_flagged", flagged)


def sentence_split(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation: ``(id, sent_idx, sentence, n_tokens)`` —
    the boundary-aware unit the chunking/packing stages want (token
    windows cut mid-sentence; RAG/pretraining chunkers prefer whole
    sentences).

    Boundary rule, deliberately simple and PORTABLE: a sentence ends at
    ``[.!?]`` followed by a single space (the abbreviation-blind
    heuristic standard for corpus statistics — a model-based splitter
    drops into the same row contract). Implementation is one
    ``regexp_replace`` marking boundaries with an \\x01 sentinel (plain
    capture-group replace — no lookbehind, so Java and RE2 agree) +
    split/trim/filter; token counts use the portable
    whitespace-collapse chain. All codegen; the only shuffle is the
    per-doc window numbering surviving sentences.
    """
    marked = F.regexp_replace(F.col(text_col), r"([.!?]) ", "$1\x01")
    exploded = df.select(
        F.col(id_col), F.posexplode(F.split(marked, "\x01")).alias("__i", "__raw")
    )
    out = exploded.select(
        id_col, "__i", F.trim(F.col("__raw")).alias("sentence")
    ).filter(F.col("sentence") != "")
    w = Window.partitionBy(id_col).orderBy("__i")
    ws_norm = F.translate(F.col("sentence"), "\t\n\r\f\x0b", "     ")
    return out.select(
        F.col(id_col),
        (F.row_number().over(w) - 1).cast("long").alias("sent_idx"),
        "sentence",
        F.size(F.filter(F.split(ws_norm, " "), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens"),
    )


def sentence_chunks(
    sentences: DataFrame,
    *,
    max_tokens: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy sentence-preserving chunking over :func:`sentence_split`
    output: sentences pack into chunks of at most ``max_tokens`` tokens
    WITHOUT splitting any sentence (a single oversize sentence becomes
    its own chunk — the standard rule). Output:
    ``(id, chunk_id, n_sentences, n_tokens, chunk_text)``.

    The greedy running-total-with-reset is data-dependent, so no window
    expresses it — but a per-document ``F.aggregate`` FOLD over the
    collected sentence array does (struct accumulator carrying
    (chunk ids so far, current chunk, current count)), keeping the
    whole stage JVM-side: one groupBy collect per doc (documents are
    the natural memory unit, same contract as session_paths), the fold,
    an arrays_zip explode, and the chunk re-aggregation.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens >= 1 required")
    per_doc = sentences.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("sent_idx", "n_tokens", "sentence"))
        ).alias("ss")
    )
    init = F.struct(
        F.array().cast("array<bigint>").alias("ids"),
        F.lit(0).cast("long").alias("cid"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def merge(acc, s):
        new_chunk = (acc["cnt"] > 0) & (
            acc["cnt"] + s["n_tokens"] > F.lit(int(max_tokens))
        )
        cid = F.when(new_chunk, acc["cid"] + 1).otherwise(acc["cid"])
        cnt = F.when(new_chunk, s["n_tokens"]).otherwise(acc["cnt"] + s["n_tokens"])
        return F.struct(
            F.concat(acc["ids"], F.array(cid)).alias("ids"),
            cid.alias("cid"),
            cnt.alias("cnt"),
        )

    with_ids = per_doc.select(
        id_col,
        F.explode(
            F.arrays_zip(F.col("ss"), F.aggregate("ss", init, merge).getField("ids"))
        ).alias("z"),
    ).select(
        id_col,
        F.col("z.ss.sent_idx").alias("sent_idx"),
        F.col("z.ss.n_tokens").alias("n_tokens"),
        F.col("z.ss.sentence").alias("sentence"),
        F.col("z.ids").alias("chunk_id"),
    )
    return (
        with_ids.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def bm25_term_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(document, query-term) BM25 components for one query — the
    ranked-retrieval primitive (Robertson/Spärck Jones probabilistic
    model, the BM25 of Lucene/Elasticsearch):

        idf(t)   = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
        score(t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Emitted UNsummed — one row per (doc, matching term) with the exact
    integer sufficient statistics (tf, dl, df_t, n_docs) plus the
    per-term float score, so there is NO cross-row float summation
    anywhere (the determinism discipline; rankers sum in fixed-point —
    see :func:`bm25_topk`).

    Plan shape at 100 TB: ONE corpus pass computes the per-doc
    reduction (dl + per-query-term tf) entirely map-side — there is no
    corpus-keyed shuffle at all; df/N/avgdl reduce to |terms|-row and
    1-row frames that BROADCAST back, and the reduced frame (|docs|
    compact rows) is lazily checkpointed so its three consumers don't
    re-tokenize (the setsim_join materialization discipline — the
    round-9 review caught this operator tokenizing the corpus three
    times). The per-row cost is |terms| array scans, which is the
    right trade for the interactive query sizes bm25_topk broadcasts;
    a thousands-of-terms batch would flip to the explode + (doc, term)
    aggregation shape instead.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")
    toks = tokens(portable_lower(F.col(text_col)))
    term_arr = F.array(*[F.lit(t) for t in terms])
    # One corpus pass: the tokenize runs once and only the PER-DOC
    # REDUCTION survives — (id, dl, per-term tf array). Token arrays
    # never materialize beyond the projection; the checkpointed frame
    # is |docs| compact rows feeding all three consumers (totals, tf,
    # df) — the setsim_join materialization discipline (a re-derivation
    # would tokenize the corpus once per consumer).
    reduced = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.transform(
            term_arr,
            lambda q: F.size(F.filter(toks, lambda t: t == q)),
        ).alias("__tfs"),
    ).localCheckpoint(eager=False)
    totals = reduced.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tf = (
        reduced.select(
            id_col,
            "dl",
            F.explode(F.arrays_zip(term_arr.alias("term"), F.col("__tfs").alias("tf"))).alias("z"),
        )
        .select(id_col, "dl", F.col("z.term").alias("term"), F.col("z.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n = F.col("n_docs").cast("double")
    dfd = F.col("df_t").cast("double")
    idf = F.log(F.lit(1.0) + (n - dfd + 0.5) / (dfd + 0.5))
    avgdl = F.col("sum_dl").cast("double") / n
    tfd = F.col("tf").cast("double")
    denom = tfd + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(totals))
        .select(
            id_col,
            "term",
            "tf",
            "dl",
            "df_t",
            "n_docs",
            (idf * tfd * (k1 + 1.0) / denom).alias("score_term"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    scale_bits: int = 20,
) -> DataFrame:
    """Top-k BM25 retrieval for a batch of queries: (query_id, rank,
    doc_id, score_scaled, score). Per-(doc, term) scores are floored to
    ``2**scale_bits`` fixed-point BEFORE the per-(query, doc) sum, so
    both the total and the (score_scaled desc, doc_id asc) ranking are
    exact-integer — bit-stable under any partitioning (the
    embedding_centroids discipline applied to ranking; a raw float sum
    would make ranks combine-order-dependent at ties).

    The query batch rides a BROADCAST (query_id, term) frame — queries
    are human-scale; the corpus never shuffles more than its
    query-term-matching (doc, term) rows plus the final per-query
    top-k window (row_number over |queries| partitions, each pruned to
    k by the window's rank filter).
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    if k < 1:
        raise ValueError("k >= 1 required")
    all_terms = sorted({t for _, ts in queries for t in ts})
    if not all_terms:
        raise ValueError("queries contain no terms")
    per_term = bm25_term_scores(
        docs, all_terms, id_col=id_col, text_col=text_col, k1=k1, b=b
    ).select(
        id_col,
        "term",
        F.floor(F.col("score_term") * F.lit(float(1 << scale_bits)))
        .cast("long")
        .alias("sq"),
    )
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in set(ts)],
        "query_id long, term string",
    )
    summed = (
        per_term.join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("sq").alias("score_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col(id_col)
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            id_col,
            "score_scaled",
            (
                F.col("score_scaled").cast("double")
                / F.lit(float(1 << scale_bits))
            ).alias("score"),
        )
    )


def unicode_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode canonicalization: newline unification + control-character
    strip (JVM-side) followed by NFC normalization (Arrow-batched
    Python) — the standard first pass of a web-scale text pipeline,
    where the same visible string arrives in decomposed (NFD) and
    composed (NFC) byte forms and would defeat every exact-hash dedup
    and token statistic downstream. (CommonCrawl-derived corpora mix
    both forms; Unicode UAX #15 defines NFC as the canonical
    composition.)

    Contract (mirrored verbatim by the DuckDB oracle, which applies the
    same regex chain then ``nfc_normalize``):

    1. ``\\r\\n`` / lone ``\\r`` -> ``\\n`` (newline unification).
    2. Strip C0 controls except ``\\t``/``\\n``, plus DEL
       (``[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]``) — both steps are
       native ``regexp_replace`` inside whole-stage codegen.
    3. NFC-normalize. No JVM-side Spark SQL expression exists for
       Unicode normalization, so this is a DESIGNED Python-unavoidable
       path (the ``compression_signals`` precedent): ONE Arrow-batched
       ``mapInPandas`` pass over (id, stripped-text), zero shuffles,
       never a row-at-a-time UDF. Python's ``unicodedata`` and DuckDB's
       utf8proc both implement UAX #15 canonical composition, so the
       outputs are byte-identical (both pinned by the oracle gate and
       the adversarial fixtures in tests).

    ``changed`` is an integer flag (1 when cleaning altered the string)
    so the removal volume is auditable as ``sum(changed)`` without
    comparing strings downstream; char counts ride along as evidence.
    NULL text stays NULL (NULL text_clean/char counts, changed = 0) —
    the oracle's regexp/normalize chain propagates NULL the same way,
    and rewriting missing documents into present-but-empty ones would
    corrupt downstream null accounting.

    Plan shape at 100 TB: map-only end to end — no exchange at any
    stage; scales linearly with input splits. Only the STRIPPED text
    crosses the Arrow boundary: the raw length and the
    raw-vs-stripped inequality are JVM codegen expressions, so the
    Python pass carries one string column, not two (halves the Arrow
    transfer on the hot path).

    Output: (id_col, text_clean, n_raw_chars, n_clean_chars, changed).
    """
    import unicodedata

    stripped_expr = F.regexp_replace(
        F.regexp_replace(F.col(text_col), "\r\n?", "\n"),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]",
        "",
    )
    # the stripped expression appears twice in one projection — Catalyst
    # subexpression elimination evaluates it once; the JVM-side changed
    # flag is a full string comparison (a length check would miss the
    # same-length lone-\r -> \n rewrite)
    stripped = df.select(
        F.col(id_col).alias("__uid"),
        F.length(F.col(text_col)).cast("long").alias("__raw_len"),
        stripped_expr.alias("__stripped"),
        F.when(F.col(text_col) != stripped_expr, 1)
        .otherwise(0)
        .cast("int")
        .alias("__jvm_changed"),
    )

    # the id field's type follows the INPUT schema (string doc ids are
    # as legal as bigint ones) — hardcoding `long` here miscast or
    # failed non-long ids at runtime (ADVICE r10 #2)
    id_ddl = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_ddl}, text_clean string, n_raw_chars long, "
        "n_clean_chars long, changed int"
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            notnull = pdf["__stripped"].notna()
            clean = pdf["__stripped"].map(
                lambda s: unicodedata.normalize("NFC", s), na_action="ignore"
            )
            py_changed = clean.ne(pdf["__stripped"]) & notnull
            yield pd.DataFrame(
                {
                    id_col: pdf["__uid"],
                    "text_clean": clean,
                    "n_raw_chars": pdf["__raw_len"].astype("Int64"),
                    "n_clean_chars": clean.map(len, na_action="ignore").astype(
                        "Int64"
                    ),
                    "changed": (
                        (pdf["__jvm_changed"].fillna(0).astype("bool") | py_changed)
                        & notnull
                    ).astype("int32"),
                }
            )

    return stripped.mapInPandas(batches, out_schema)


def rare_token_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_df: int = 3,
    max_rare_pct: int = 20,
) -> DataFrame:
    """Corpus-relative rare-token rate — the CCNet-style quality signal
    the per-document Gopher rules (``quality_features``) cannot see: a
    document whose tokens are mostly corpus-rare is disproportionately
    OCR noise, mojibake, or machine-generated junk, while one made of
    corpus-common tokens is ordinary prose. A token is RARE when its
    document frequency (distinct docs containing it) is below
    ``min_df``; the per-document rate counts token INSTANCES, so a
    single rare hapax in a long document barely moves it.

    All decisions are exact integers: the flag is the cross-multiplied
    ``n_rare * 100 >= n_tokens * max_rare_pct`` (no float decides
    membership — the ``remove_boilerplate_lines`` discipline), and the
    only double in the output is ONE final division per row. A
    token-less document satisfies the inequality vacuously (0 >= 0) and
    is flagged — empty documents are removal candidates in every
    curation recipe, so the degenerate case errs on the flagging side.

    Plan shape at 100 TB (the ``tfidf_top_terms`` exchange budget):
    1. (id, term) instance counts — one token-keyed aggregation with
       map-side combine (the billion-copy stopword collapses to one row
       per doc before the exchange).
    2. document frequency — a second aggregation over the FIRST one's
       already-(term,doc)-distinct output; no distinct-shuffle, and the
       exchange carries (term, long) pairs only.
    3. instance counts join document frequencies on the term key
       (AQE-managed equi-join; both sides aggregated, linear output)
       and re-aggregate per doc — per-doc state is one (long, long).
    Rare tokens are the LONG TAIL — the one set this family must never
    broadcast (it is the vocabulary minus its head, i.e. almost the
    vocabulary); the equi-join shape is the scale-honest choice.

    Output: (id_col, n_tokens, n_rare, rare_ratio, flagged).
    """
    if min_df < 1 or not (0 < max_rare_pct <= 100):
        raise ValueError("min_df >= 1 and 0 < max_rare_pct <= 100 required")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(portable_lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    per_doc = (
        tf.join(dfreq, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("df_docs") < F.lit(min_df), F.col("tf")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_rare"),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_rare", F.lit(0)).cast("long").alias("n_rare"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.coalesce("n_rare", F.lit(0)).cast("double")
                / F.coalesce("n_tokens", F.lit(1)).cast("double"),
            ).alias("rare_ratio"),
            F.when(
                F.coalesce("n_rare", F.lit(0)) * 100
                >= F.coalesce("n_tokens", F.lit(0)) * F.lit(max_rare_pct),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("flagged"),
        )
    )


def lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    add_k: int = 1,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-document cross-entropy under an add-k bigram LM trained on
    the corpus itself — the CCNet-style fluency axis: OCR noise,
    shuffled text and machine junk score far-below-prose average token
    log-probability even when their token statistics look normal.

        p(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)

    with c(w1) the bigram-left marginal and V the bigram-right
    vocabulary size, so the model is self-consistent from ONE bigram
    count table. Scores follow the bm25 fixed-point discipline: the
    per-bigram log-probability becomes ``floor(ln(p) · 2^scale_bits)``
    once per DISTINCT bigram, and per-document totals are INTEGER sums
    of those fixed-point terms — no cross-row float summation anywhere,
    so totals are exact and engine-independent given identical ``ln``
    doubles (the bm25 gate pins that parity at both scales; a last-ulp
    ``ln`` divergence would need to land within ~2^-30 of a fixed-point
    boundary to flip a floor). The only floats in the output are the
    per-row final divisions.

    Plan shape at 100 TB (ngram_lm's exchange budget):
    1. tokenize + per-doc bigram counts — one (id, w1, w2) aggregation
       with map-side combine; the aggregated frame is lazily
       checkpointed (setsim_join discipline) because it feeds BOTH the
       model build and the scoring join.
    2. model: global bigram counts aggregate the per-doc frame (already
       (bigram, doc)-distinct — no distinct shuffle); the left marginal
       and vocabulary size reduce the MODEL frame, never the corpus.
    3. scoring: one bigram-keyed equi-join of per-doc counts to
       per-bigram fixed-point scores, then a per-doc integer re-sum.

    Output: (id_col, n_bigrams, sum_logprob_scaled, avg_logprob) —
    ``avg_logprob`` is in nats (divide by ln 2 for bits; perplexity is
    ``exp(-avg_logprob)``, left to the caller to keep ``exp`` out of
    the gate).
    """
    if add_k < 1:
        raise ValueError("add_k must be >= 1 (integer smoothing keeps counts exact)")
    if not (8 <= scale_bits <= 40):
        raise ValueError("scale_bits must be in 8..40")
    toks = tokens(portable_lower(F.col(text_col)))
    t = df.select(F.col(id_col).alias("id"), toks.alias("ts"))
    n1 = F.greatest(F.size("ts") - 1, F.lit(0))
    pairs = t.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, n1).alias("w1"),
                F.slice("ts", 2, n1).alias("w2"),
            )
        ).alias("p"),
    ).select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    docbg = pairs.groupBy("id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c_doc")
    )
    # the frame feeds both the model build and the scoring join —
    # without the checkpoint the corpus tokenizes twice
    docbg = docbg.localCheckpoint(eager=False)
    big = docbg.groupBy("w1", "w2").agg(F.sum("c_doc").cast("long").alias("c_big"))
    uni = big.groupBy("w1").agg(F.sum("c_big").cast("long").alias("c_uni"))
    vocab = big.agg(F.countDistinct("w2").cast("long").alias("v_size"))
    term = (
        big.join(uni, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("c_big") + F.lit(add_k)).cast("double")
                    / (F.col("c_uni") + F.lit(add_k) * F.col("v_size")).cast("double")
                )
                * F.lit(float(1 << scale_bits))
            )
            .cast("long")
            .alias("lp_scaled"),
        )
    )
    scored = (
        docbg.join(term, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.sum("c_doc").cast("long").alias("n_bigrams"),
            F.sum(F.col("c_doc") * F.col("lp_scaled")).cast("long").alias(
                "sum_logprob_scaled"
            ),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(scored, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("sum_logprob_scaled", F.lit(0)).cast("long").alias(
            "sum_logprob_scaled"
        ),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            F.col("sum_logprob_scaled").cast("double")
            / F.lit(float(1 << scale_bits))
            / F.col("n_bigrams").cast("double"),
        ).alias("avg_logprob"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every character ``k``-gram of the
    normalized text, slide a window of ``w`` consecutive gram hashes,
    and select each window's minimum (rightmost occurrence on ties).
    The guarantee that makes winnowing THE local fingerprinting scheme:
    any shared substring of length >= ``w + k - 1`` between two
    documents produces at least one IDENTICAL selected fingerprint in
    both — so fingerprint equi-joins find partial overlap (plagiarism,
    quotation, shared boilerplate) that whole-document hashing and
    fixed-stride sampling both miss, with output density ~2/(w+1)
    instead of one hash per position.

    Engine-portable by construction: gram hashes are md5 (identical in
    any engine — the sampling family's md5 discipline; an engine-native
    ``hash()`` would not reproduce cross-engine), the window minimum is
    a left-to-right fold that replaces on ``<=`` (hence RIGHTMOST
    minimum — the paper's tie rule, mirrored by the oracle's
    ``list_reduce`` over the same window slice), and positions are
    exact integers. Since r15 the fold carries the md5 as its 16-byte
    BINARY form (byte-wise comparison is order-identical to
    lexicographic comparison of the lowercase hex, so the selection is
    unchanged — pinned by test); the OUTPUT contract stays the
    lowercase-hex string, converted for the selected picks only.
    Normalization (lowercase + whitespace collapse) mirrors the
    exact-dedup content-hash chain.

    Plan shape at 100 TB: fingerprint SELECTION is entirely map-side
    higher-order expressions — no exchange until the caller joins or
    aggregates the exploded (id, fingerprint, pos) rows, and those
    rows carry an md5-hex + two longs, never text. Selected-set size
    is bounded by ~2·n_grams/(w+1) per document.

    The sliding minimum is built as ``w - 1`` SHIFTED ``zip_with``
    folds (running min of windows of growing length), NOT a
    slice-per-window expression: higher-order lambdas re-evaluate
    their argument arrays, so the naive per-window ``aggregate(slice(
    grams, j, w))`` recomputes the whole md5 gram array per WINDOW —
    O(n^2) hashing that measured minutes-per-500-docs where the
    shifted form takes seconds (the semantic_decontaminate
    projection-collapse lesson, one level deeper: inside a single
    expression tree even CSE won't save you — restructure the
    algebra so nothing quadratic can be expressed).

    Two further measured lessons in the same family (round 11, sf0.1,
    10k docs — 78 s down to 13 s, now within 1.3x of a window-function
    formulation WITHOUT its shuffle; a windowed ``min(struct(h,-pos))``
    over exploded gram rows is faster locally but exchanges ~50 bytes
    per CHARACTER of corpus text, indefensible at 100 TB where this
    form is map-only):
    1. the empty-doc guard must be a FILTER on a projected frame, not
       a ``when(...)`` wrapper around the gram array — Spark's
       subexpression elimination refuses to hoist expressions that sit
       under a conditional branch (they may legally never execute), so
       the guarded gram array was re-evaluated once per shifted slice:
       4x the md5 work.
    2. bind the gram array to a NAMED column in a prior select and
       reference the column in the folds — even though Catalyst
       collapses the projections, the named reference deduplicates the
       subtree reliably (measured 17.3 s -> 13.4 s vs repeating the
       expression tree).

    Output: (id_col, fp_hash, pos) — pos is the 1-based gram position,
    one row per DISTINCT selected (hash, pos) pair, the winnowing
    fingerprint set.
    """
    rows = _winnow_fingerprints_binary(df, text_col, id_col, k=k, w=w)
    return rows.select(
        id_col,
        # back to the public lowercase-hex contract, selected picks only
        F.lower(F.hex(F.col("fp_bin"))).alias("fp_hash"),
        "pos",
    )


def _winnow_fingerprints_binary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """:func:`winnow_fingerprints` with the fingerprint left in its
    16-byte BINARY md5 form — (id_col, fp_bin, pos).

    r16 (guide §2.3, narrower shuffle keys): the winnow CONSUMERS
    (winnow_overlap / winnow_spans / winnow_dedup and the capstones
    built on them) never output a fingerprint — they distinct, count,
    cap and self-join on it. Those exchanges carried the 32-char
    lowercase-hex STRING (32 bytes payload + UTF8String overhead) when
    the 16-byte binary the r15 fold already produces is equality- and
    order-identical (byte order == hex lexicographic order, pinned by
    test since r15). Consumers now ride the binary end to end and only
    the public ``winnow_fingerprints`` contract converts to hex —
    halving every fingerprint exchange's key bytes. Output equality is
    untouched by construction: hex(b1) == hex(b2) iff b1 == b2, so
    distinct/groupBy/join on the binary select exactly the rows the
    hex forms did.
    """
    if k < 2 or w < 1:
        raise ValueError("k >= 2 and w >= 1 required")
    norm = F.regexp_replace(
        portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS, " "
    )
    # filter, not when-guard (lesson 1 above); also keeps sequence(1, n)
    # from producing a DESCENDING sequence when n < 1 (Spark semantics)
    base = (
        df.select(F.col(id_col).alias("__wid"), norm.alias("__wt"))
        .withColumn("__wng", F.length("__wt") - F.lit(k - 1))
        .filter(F.col("__wng") >= 1)
    )
    # r15: the gram hash rides the folds as 16-byte BINARY
    # (unhex(md5(..))), not the 32-char hex string. Byte-wise binary
    # comparison is order-identical to lexicographic comparison of the
    # lowercase hex (each byte maps monotonically to its two hex chars:
    # 0x00 -> "00" ... 0xff -> "ff", and "0".."9" < "a".."f" in ASCII),
    # so the rightmost-minimum selection picks the same grams; the
    # output converts the few SELECTED fingerprints back to lowercase
    # hex. Halves the bytes the w-1 zip_with folds copy and compare —
    # measured 13.5 -> 10.4 s on the fingerprint stage of the 10k-doc
    # winnow_overlap corpus (exceptAll 0/0).
    grams_expr = F.transform(
        F.sequence(F.lit(1), F.col("__wng")),
        lambda i: F.struct(
            F.unhex(F.md5(F.col("__wt").substr(i, F.lit(k)))).alias("h"),
            i.cast("long").alias("p"),
        ),
    )
    bound = base.select("__wid", "__wng", grams_expr.alias("__wgrams"))
    grams = F.col("__wgrams")
    n_grams = F.col("__wng")

    # running rightmost-min of windows of growing length: after step s,
    # m[j] holds the fold of grams[j .. j+s]; the left-to-right replace-
    # on-<= rule is exactly the paper's rightmost-minimum tie-break.
    # zip_with pads the shorter (shifted) side with NULLs — keep `a`.
    def pair(a, g):
        return F.when(g.isNotNull() & (g["h"] <= a["h"]), g).otherwise(a)

    m = grams
    for shift in range(1, w):
        shifted = F.slice(
            grams, shift + 1, F.greatest(n_grams - shift, F.lit(0))
        )
        m = F.zip_with(m, shifted, pair)
    n_windows = n_grams - F.lit(w - 1)
    picks = F.array_distinct(
        F.slice(m, 1, F.greatest(n_windows, F.lit(0)))
    )
    rows = bound.select("__wid", F.explode(picks).alias("fp"))
    return rows.select(
        F.col("__wid").alias(id_col),
        F.col("fp.h").alias("fp_bin"),
        F.col("fp.p").alias("pos"),
    )


def winnow_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 50,
) -> DataFrame:
    """Document-pair overlap via shared winnowing fingerprints — what
    MOSS actually reports: pairs ranked by how many selected
    fingerprints they share. Because the fingerprints are md5 (not an
    engine-local hash), this is the registry's one FULLY
    oracle-verifiable near-duplicate PAIR operator — the MinHash/SimHash
    families are rows-only by construction; this one's exact pair set
    and counts reproduce bit-for-bit in any engine.

    Pipeline (each stage bounded):
    1. fingerprints per doc (:func:`winnow_fingerprints`), collapsed to
       DISTINCT (doc, hash) — position dropped; overlap counts hashes.
    2. boilerplate cap: fingerprints present in more than
       ``max_fp_docs`` documents are shared chrome (headers, license
       blocks) — they would both swamp the pair semantics and create
       the classic self-join hot key, so they are dropped by an
       aggregated-frame filter (the LSH ``max_bucket_size`` discipline;
       the cap is part of the operator's SEMANTICS and the oracle
       applies the same rule).
    3. pair generation: fingerprint-keyed self-join with ``id_a <
       id_b`` — per-hash fan-out bounded by C(max_fp_docs, 2); the
       exchange carries (md5-hex, id) pairs, never text.
    4. per-pair shared-fingerprint counts, thresholded at
       ``min_shared``; each side's total fingerprint count rides along
       so consumers can compute containment/overlap ratios exactly
       (``overlap_pm_a`` = shared per-mille of side a's fingerprints —
       integer arithmetic, the engine's exactness discipline).

    Output: (id_a, id_b, n_shared, n_fp_a, n_fp_b, overlap_pm_a).
    """
    if min_shared < 1 or max_fp_docs < 2:
        raise ValueError("min_shared >= 1 and max_fp_docs >= 2 required")
    # r16: every internal exchange rides the 16-byte BINARY fingerprint
    # (see _winnow_fingerprints_binary) — the output of this operator
    # carries no fingerprint column, so only exchange bytes change,
    # never a result.
    fps = (
        _winnow_fingerprints_binary(df, text_col, id_col, k=k, w=w)
        .select(F.col(id_col).alias("id"), "fp_bin")
        .distinct()
    )
    # fps feeds the frequency build AND the cap join; kept feeds
    # totals and both self-join sides — without the checkpoints the
    # md5 fingerprinting pass re-runs once per consumer (the
    # setsim_join materialization discipline)
    fps = fps.localCheckpoint(eager=False)
    freq = fps.groupBy("fp_bin").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = fps.join(
        freq.filter(F.col("n_docs") <= max_fp_docs).select("fp_bin"),
        "fp_bin",
    )
    kept = kept.localCheckpoint(eager=False)
    totals = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col("id").alias("id_a"), "fp_bin")
    b = kept.select(F.col("id").alias("id_b"), "fp_bin")
    pairs = (
        a.join(b, "fp_bin")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(totals.select(F.col("id").alias("id_a"), F.col("n_fp").alias("n_fp_a")), "id_a")
        .join(totals.select(F.col("id").alias("id_b"), F.col("n_fp").alias("n_fp_b")), "id_b")
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            "n_shared",
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
            F.expr("(n_shared * 1000) div n_fp_a").cast("long").alias("overlap_pm_a"),
        )
    )


def winnow_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 50,
    min_containment_pm: int = 500,
    max_iter: int = 25,
) -> DataFrame:
    """Winnowing-based near-dup DEDUP: :func:`winnow_overlap` pairs ->
    containment gate -> connected-components clusters -> min-id keeper
    per cluster (VERDICT r10 ask #4). This closes the gap the pair
    operator leaves open: winnowing detects PARTIAL overlap
    (quotation, shared boilerplate) that whole-document hashing and
    MinHash both miss, and this composition turns those pairs into the
    one artifact a curation pipeline actually consumes — (id,
    cluster_id, is_keeper) with exactly one keeper per duplicate
    cluster. Because the fingerprints are md5 and every decision is
    exact integer arithmetic, the FULL composition (fingerprints ->
    pairs -> transitive closure -> keepers) reproduces bit-for-bit in
    any engine — the registry's first fully oracle-verifiable
    end-to-end near-dup DEDUP.

    The containment gate is what makes transitive closure sane:
    raw ``min_shared``-fingerprint pairs chain a small-vocabulary
    corpus into one giant component (measured at sf0.01: a 667-member
    cluster from 3-fingerprint noise edges), while requiring
    ``n_shared * 1000 >= min_containment_pm * least(n_fp_a, n_fp_b)``
    (the SMALLER side's shared per-mille, default >= 500 = half of the
    contained document's fingerprints also in the other) keeps only
    genuine near-dup/containment edges (same run: max component 8,
    98.6% of planted near-dup pairs co-clustered). The gate tests the
    smaller side ON PURPOSE (round-11 review #4): a 50-fingerprint
    excerpt fully contained in a 1000-fingerprint article must cluster
    with it regardless of which document got the lower id — gating on
    side a alone made survival depend on arbitrary id assignment.
    Integer cross-multiplication — no float ratio, the engine's
    exactness discipline.

    Plan shape at 100 TB: the pair build is winnow_overlap's (bounded
    fan-out, md5+long exchanges); the gated pair set is
    localCheckpointed ONCE before label propagation, because
    connected-components re-scans its edge frame every round — without
    the checkpoint the whole fingerprint pipeline re-runs per
    O(diameter) iteration. Cluster closure carries (long, long) rows
    only. Singletons (docs with no strong pair) keep themselves.

    Output: (id_col, cluster_id, is_keeper) — one row per input doc.
    """
    if not (0 < min_containment_pm <= 1000):
        raise ValueError("min_containment_pm must be in (0, 1000]")
    from . import graph as gr

    pairs = winnow_overlap(
        df,
        text_col,
        id_col,
        k=k,
        w=w,
        min_shared=min_shared,
        max_fp_docs=max_fp_docs,
    )
    strong = (
        pairs.filter(
            F.col("n_shared") * 1000
            >= F.lit(min_containment_pm)
            * F.least(F.col("n_fp_a"), F.col("n_fp_b"))
        )
        .select(f"{id_col}_a", f"{id_col}_b")
        .localCheckpoint(eager=False)
    )
    out = gr.dedup_clusters(
        strong,
        df.select(id_col),
        pair_a=f"{id_col}_a",
        pair_b=f"{id_col}_b",
        id_col=id_col,
        max_iter=max_iter,
    )
    return out.select(
        F.col("id").alias(id_col), "cluster_id", "is_keeper"
    )


def winnow_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 50,
) -> DataFrame:
    """MOSS-style matched-REGION localization: for every qualifying
    overlap pair, the maximal character spans each shared fingerprint
    run covers on each side — what MOSS renders as highlighted match
    regions. :func:`winnow_overlap` answers "WHICH documents share
    content and how much"; this answers "WHERE" — the artifact a
    span-level cleaner needs to excise a quoted block or shared
    boilerplate without dropping the whole document (the span-dedup
    family's precision, driven by winnowing's partial-overlap recall).

    Pipeline:
    1. fingerprints WITH positions (:func:`winnow_fingerprints`); the
       distinct (doc, hash) projection feeds the boilerplate cap and
       pair qualification exactly as in winnow_overlap (same cap, same
       ``min_shared`` rule — a pair qualifies here iff it qualifies
       there, pinned by test).
    2. each shared (pair, hash) joins back to the position rows on BOTH
       sides — one interval ``[pos, pos + k)`` (half-open chars) per
       fingerprint instance, tagged ``side`` 'a'/'b'.
    3. per (pair, side): gaps-and-islands merge of touching-or-
       overlapping intervals (``temporal.merge_intervals`` — ONE
       shuffle on the pair+side key; integer positions, so engines can
       never disagree on a merge).

    Output: (id_a, id_b, side, span_start, span_end, n_fp) — span
    bounds are INCLUSIVE 1-based character positions of the normalized
    text; ``n_fp`` counts the fingerprint instances merged into the
    span. Fully oracle-verifiable: md5 fingerprints + integer
    arithmetic end-to-end.

    Plan shape at 100 TB: the qualified (pair, hash) frame is bounded
    by winnow_overlap's C(max_fp_docs, 2) per-hash fan-out; the
    position joins key on (doc, hash) — md5-hex + longs, never text;
    the island windows sort bounded per-pair groups (a pair shares at
    most min(n_fp_a, n_fp_b) fingerprints). Shared frames are lazily
    localCheckpointed (the winnow_overlap discipline) because
    fingerprints feed the cap build AND both position joins.
    """
    if min_shared < 1 or max_fp_docs < 2:
        raise ValueError("min_shared >= 1 and max_fp_docs >= 2 required")
    from .temporal import merge_intervals

    # r16: internal exchanges ride the 16-byte BINARY fingerprint (see
    # _winnow_fingerprints_binary); the output carries no fingerprint.
    fps = _winnow_fingerprints_binary(df, text_col, id_col, k=k, w=w).select(
        F.col(id_col).alias("id"), "fp_bin", "pos"
    )
    fps = fps.localCheckpoint(eager=False)
    fpsd = fps.select("id", "fp_bin").distinct().localCheckpoint(eager=False)
    freq = fpsd.groupBy("fp_bin").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = fpsd.join(
        freq.filter(F.col("n_docs") <= max_fp_docs).select("fp_bin"),
        "fp_bin",
    )
    a = kept.select(F.col("id").alias("id_a"), "fp_bin")
    b = kept.select(F.col("id").alias("id_b"), "fp_bin")
    shared = a.join(b, "fp_bin").filter(F.col("id_a") < F.col("id_b"))
    # feeds the qualification count AND the qualified-pair join
    shared = shared.localCheckpoint(eager=False)
    qualifying = (
        shared.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    qual = shared.join(qualifying, ["id_a", "id_b"])
    fa = fps.select(F.col("id").alias("id_a"), "fp_bin", "pos")
    fb = fps.select(F.col("id").alias("id_b"), "fp_bin", "pos")
    inst = (
        qual.join(fa, ["id_a", "fp_bin"])
        .select("id_a", "id_b", F.lit("a").alias("side"), "pos")
        .unionByName(
            qual.join(fb, ["id_b", "fp_bin"]).select(
                "id_a", "id_b", F.lit("b").alias("side"), "pos"
            )
        )
        .select(
            "id_a",
            "id_b",
            "side",
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(k)).alias("e"),
        )
    )
    merged = merge_intervals(
        inst, keys=["id_a", "id_b", "side"], start_col="s", end_col="e",
        count_alias="n_fp",
    )
    return merged.select(
        F.col("id_a").alias(f"{id_col}_a"),
        F.col("id_b").alias(f"{id_col}_b"),
        "side",
        F.col("interval_start").cast("long").alias("span_start"),
        (F.col("interval_end") - 1).cast("long").alias("span_end"),
        F.col("n_fp").cast("long").alias("n_fp"),
    )


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_col: str = "span_start",
    end_col: str = "span_end",
) -> DataFrame:
    """Span-level EXCISION: remove the given inclusive character ranges
    from each document's NORMALIZED text — the payoff of span
    localization (:func:`winnow_spans`, ``repeated_spans``): a shared
    quotation or boilerplate block is cut out while the document
    survives, instead of the whole-doc drop coarse dedup forces.

    ``spans`` holds (id, start, end) rows with INCLUSIVE 1-based bounds
    into the winnow normalization of the text (lowercase + whitespace
    collapse — span producers and this consumer must agree on the
    coordinate system, so the excision normalizes with the same chain).
    Overlapping or touching spans are merged first (the
    ``merge_intervals`` gaps-and-islands pass — exact integers, so
    engines cannot disagree); documents with no spans pass through
    normalized but uncut (left join — row conservation).

    Plan shape at 100 TB: merge shuffles (id, two longs) rows; the
    merged spans aggregate to ONE array per doc (collect_list +
    array_sort — bounded by spans-per-doc, not corpus size); the cut
    itself is a map-side fold over that array building the kept
    segments (let-bound text, lambda-var arithmetic only — the round-11
    HOF discipline). Text crosses exactly one exchange: the docs-side
    join on id.

    Output: (id_col, text_clean, n_spans, n_removed_chars) —
    ``text_clean`` is the normalized text with spans cut and the cut
    edges joined directly (no replacement marker); counts are exact
    integers for auditability.
    """
    from .temporal import merge_intervals

    # the named helper, not a copy of its expression: span producers and
    # this consumer agree on the coordinate system STRUCTURALLY (review
    # r11b #2 — a drift between two spelled-out copies would silently
    # shift every span)
    base = docs.select(
        F.col(id_col).alias("__xid"),
        normalize_for_rep(F.col(text_col)).alias("__xt"),
    )
    iv = spans.select(
        F.col(id_col).alias("__xid"),
        F.col(start_col).cast("long").alias("__s"),
        # half-open for the merge (touching spans coalesce), back to
        # inclusive arithmetic in the cut below
        (F.col(end_col).cast("long") + 1).alias("__e"),
    )
    merged = merge_intervals(
        iv, keys=["__xid"], start_col="__s", end_col="__e", count_alias="__n"
    )
    per_doc = merged.groupBy("__xid").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("interval_start").alias("s"),
                    F.col("interval_end").alias("e"),
                )
            )
        ).alias("__spans")
    )
    joined = base.join(per_doc, "__xid", "left").withColumn(
        # half-open end-of-text bound, computed ONCE per row (not inside
        # the aggregate lambda — the HOF re-eval hazard): clamps caller
        # spans that extend past the document so n_removed_chars counts
        # what the cut actually deletes (ADVICE r11)
        "__xend", F.length(F.col("__xt")) + F.lit(1).cast("long")
    )

    def cut(t: Column, sp: Column) -> Column:
        # kept segments: before the first span, between spans, after the
        # last — n_spans + 1 pieces, each a substr with integer bounds.
        # piece i (0-based): [prev_end, next_start) in half-open coords
        # where prev_end = sp[i-1].e (or 1) and next_start = sp[i].s
        # (or len+1). Everything references lambda vars / bound attrs.
        # Both positions clamp to >= 1 (review r12 #2 follow-up): a
        # caller span reaching below position 1 would otherwise hand
        # substr a NEGATIVE position, which Spark reads END-RELATIVE —
        # resurrecting tail characters into the cleaned text instead of
        # degrading to an empty piece.
        n = F.size(sp)

        def pos1(c: Column) -> Column:
            return F.greatest(c, F.lit(1).cast("long"))

        pieces = F.transform(
            F.sequence(F.lit(0), n),
            lambda i: t.substr(
                pos1(
                    F.when(i == 0, F.lit(1).cast("long")).otherwise(
                        F.element_at(sp, i)["e"]
                    )
                ),
                pos1(
                    F.when(i == n, F.length(t).cast("long") + 1)
                    .otherwise(F.element_at(sp, i + 1)["s"])
                )
                - pos1(
                    F.when(i == 0, F.lit(1).cast("long")).otherwise(
                        F.element_at(sp, i)["e"]
                    )
                ),
            ),
        )
        return F.concat_ws("", pieces)

    from ..functions.expr import let

    cleaned = F.when(F.col("__spans").isNull(), F.col("__xt")).otherwise(
        let(
            F.col("__xt"),
            lambda t: let(F.col("__spans"), lambda sp: cut(t, sp)),
        )
    )
    removed = F.coalesce(
        F.aggregate(
            F.col("__spans"),
            F.lit(0).cast("long"),
            # clamp both bounds into [1, len+1] so out-of-range spans
            # contribute their ACTUAL deletion, not their nominal width
            # (the substr arithmetic already degrades safely; the count
            # must match it): upper via least(x, len+1), LOWER via
            # greatest(x, 1) — a span starting below 1 deletes only
            # from position 1 (review r12 #2 caught the one-sided first
            # cut). greatest(0, ...) guards spans entirely out of range.
            lambda acc, x: acc
            + F.greatest(
                F.lit(0).cast("long"),
                F.least(x["e"], F.col("__xend"))
                - F.greatest(
                    F.least(x["s"], F.col("__xend")), F.lit(1).cast("long")
                ),
            ),
        ),
        F.lit(0).cast("long"),
    )
    return joined.select(
        F.col("__xid").alias(id_col),
        cleaned.alias("text_clean"),
        # when/isNull, not coalesce(size(...), 0): legacy (non-ANSI)
        # sessions return -1 for size(NULL), which coalesce passes
        # through (review r11b #1)
        F.when(F.col("__spans").isNull(), F.lit(0))
        .otherwise(F.size("__spans"))
        .cast("long")
        .alias("n_spans"),
        removed.alias("n_removed_chars"),
    )
