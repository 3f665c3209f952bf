"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of this module):

- Exact dedup is a single hash aggregation on a 256-bit content hash —
  shuffle keys are 32 bytes, not document bodies.
- MinHash+LSH is the shuffle-frugal near-dup path: documents never pair
  all-vs-all; only rows sharing an LSH band bucket join. At 100 TB the
  band join is a shuffle on (band_id, band_hash) — short keys with
  tunable bucket sizes (more bands/rows per band trade recall vs cost).
- All signature math is built-in expressions over arrays (xxhash64,
  transform/aggregate) — JVM-side, no Python.
- Wide expressions are SQL text. An expression of tens of terms (the
  per-bit aggregates and sign folds of SimHash, combo keys, the
  intact-block mask, literal lookup tables, MinHash seeds and band
  keys) is built as one ``F.expr``/``selectExpr`` string, not as a tree
  of Column calls: every Column node costs Python->JVM round trips at
  build time, and the SimHash headline query built node by node made
  ~16,000 of them (2.6 s of building for a 0.64 s action). The strings
  parse to the same expressions, so outputs are unchanged
  (``tests/test_build_layer.py`` compares them with the Column-built
  forms).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import let as _let
from ..functions.portable import PORTABLE_WS_PLUS, portable_lower
from ..sources.catalog import spread_small_scan


def normalize_text(text: Column) -> Column:
    """Lowercase + whitespace-collapse canonical form shared by the dedup family."""
    return F.regexp_replace(portable_lower(F.trim(text)), PORTABLE_WS_PLUS, " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping by content hash.

    Returns one row per distinct content: keeper id (min id), duplicate
    count. Group key is sha2(normalized text) so the shuffle moves 32-byte
    keys instead of document bodies.
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (n-grams) of normalized text.

    NULL/empty/whitespace-only input yields ZERO shingles (not one ''
    shingle — the unfiltered form made two empty documents Jaccard-1.0
    "near-dups" and let an empty doc count as benchmark-contaminated;
    caught by tests/test_portable_text.py). Docs with 1..k-1 tokens
    keep one partial shingle so short docs stay comparable. The token
    array is let-bound (``_let``) so the per-index lambda slices a
    bound value instead of re-tokenizing per shingle."""
    toks_expr = F.filter(F.split(normalize_text(text), " "), lambda t: t != "")

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.when(
            n > 0, F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
        )

    return _let(toks_expr, body)


def _rotl64(v: Column, s: int) -> Column:
    """Rotate the low 63 bits of ``v`` left by ``s`` (keeps the sign bit
    clear so every intermediate stays a valid non-negative long under ANSI
    mode — Spark 4 default — where plain ``*``/``+`` on longs can raise
    on overflow)."""
    mask = F.lit((1 << 63) - 1)
    return F.shiftleft(v, s).bitwiseAND(mask).bitwiseOR(
        F.shiftrightunsigned(v, 64 - s)
    )


def word_shingle_hashes(text: Column, k: int = 3) -> Column:
    """64-bit hashes of the k-word shingles of ``text`` — without ever
    materializing shingle strings.

    The naive pipeline (``word_shingles`` -> explode -> hash) spends its
    time building one new string per shingle (``array_join(slice(...))``
    inside an interpreted lambda): each input token is copied into ``k``
    shingle strings, all of which exist only to be hashed. Here each
    token is hashed ONCE (``xxhash64``), and a shingle's hash is a
    rotate-XOR fold of its ``k`` consecutive token hashes via ``zip_with``
    over shifted slices — pure long arithmetic, no string allocation.
    At 200k docs this is ~7x faster than the string path and the plan
    shape is identical: everything is computed map-side; nothing extra
    shuffles.

    The rotate-XOR fold is linear over GF(2), i.e. a weak mixer on its
    own — downstream consumers ALWAYS re-hash the combined value
    (``xxhash64(shingle_hash, seed)`` in ``minhash_signatures_df``), so
    the family used for min-hashing is strong; the fold only needs to
    keep distinct shingles distinct (64-bit random collisions, ~2^-64
    per pair). Distinct rotations per position make the fold
    order-sensitive ("a b c" != "c b a").

    Shorter-than-k texts degrade the same way ``word_shingles`` does:
    missing positions contribute a zero constant instead of a token hash
    (``zip_with`` pads the shorter slice with NULL; ``coalesce`` maps it
    to 0), so a 1-token doc still yields exactly one deterministic
    shingle hash. Duplicate shingles are NOT removed — min-aggregation
    is multiset-invariant, so ``array_distinct``'s per-row hash-set pass
    would be pure overhead here (callers needing set semantics use
    ``word_shingles``).
    """
    toks = F.split(portable_lower(F.trim(text)), PORTABLE_WS_PLUS)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    n_sh = F.greatest(F.size(th) - (k - 1), F.lit(1))
    slices = [F.slice(th, i + 1, n_sh) for i in range(k)]
    acc = slices[0]
    for nxt in slices[1:]:
        acc = F.zip_with(
            acc,
            nxt,
            lambda a, b: _rotl64(a, 29).bitwiseXOR(F.coalesce(b, F.lit(0).cast("long"))),
        )
    return acc


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures via explode + hash-aggregate — the scale path.

    Shingles are exploded to (id, shingle_hash) rows; each seed's hash is
    a plain codegen'd ``xxhash64`` column; ``groupBy(id).min(...)`` is a
    single hash aggregation with map-side partial combine. This keeps the
    whole signature computation inside whole-stage codegen (the
    all-in-one-expression form is ~50x slower: interpreted HOF lambdas,
    shingling re-evaluated per seed). Output: (id, h0..h{n-1}).

    Shingle strings are never materialized: tokens are hashed once and
    k-word-gram hashes derived arithmetically (``word_shingle_hashes`` —
    ~7x faster at 200k docs, measured). The per-seed family is then
    ``xxhash64(shingle_hash, seed)`` — two-long input, fixed width,
    instead of re-hashing a variable-length string per seed.
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
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingle_hashes(F.col(text_col), shingle_k)).alias("sh"),
    )
    return exploded.groupBy("id").agg(
        *[F.expr(f"min(xxhash64(sh, {s})) AS h{s}") for s in range(num_hashes)]
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}, band, bucket) — the banded MinHash bucket
    assignment shared by ``minhash_lsh_candidates`` (candidate self-join)
    and ``minhash_bucket_stats`` (skew telemetry). One row per
    (doc, band); ``bucket`` is the xxhash64 of the band's signature
    slice.

    The signature stays as FLAT long columns, not an array: the
    candidate join evaluates per-pair signature agreement on every
    collision, and 16 primitive column equality-sums are whole-stage
    codegen while array ``zip_with``/``filter`` lambdas are interpreted
    (measured 2x on the whole join stage at 200k docs).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "otherwise trailing signature values are silently ignored "
            "(and bands > num_hashes would make every doc collide)"
        )
    sigs = minhash_signatures_df(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
    )
    rows_per_band = num_hashes // bands
    h_cols = [f"h{i}" for i in range(num_hashes)]
    band_struct = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64("
        + ", ".join(h_cols[b * rows_per_band : (b + 1) * rows_per_band])
        + "))"
        for b in range(bands)
    )
    return sigs.selectExpr("id", *h_cols, f"explode(array({band_struct})) AS bb").selectExpr(
        "id", *h_cols, "bb.band AS band", "bb.bucket AS bucket"
    )


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> dict:
    """Skew telemetry for the LSH bucket distribution (VERDICT r2 ask #8).

    Returns ``{"buckets": total distinct (band, bucket) groups,
    "max_bucket": largest group's doc count, "capped_buckets": groups
    over max_bucket_size}``. A boilerplate-heavy corpus shows up as
    ``max_bucket`` exploding — the C(n,2) quadratic hazard the
    ``max_bucket_size`` cap in ``minhash_lsh_candidates`` defuses — so
    the bench tier records these alongside wall time to make bucket-skew
    regressions visible, not inferred. One aggregation job over the
    banded frame; never materializes pairs.
    """
    counts = (
        minhash_banded(
            df,
            text_col,
            id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row = counts.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("n").alias("max_bucket"),
        F.sum((F.col("n") > max_bucket_size).cast("long")).alias("capped_buckets"),
    ).first()
    return {
        "buckets": row["buckets"],
        "max_bucket": row["max_bucket"] or 0,
        "capped_buckets": row["capped_buckets"] or 0,
    }


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    signature -> split into ``bands`` bands of ``num_hashes/bands`` rows ->
    hash each band -> self-join documents sharing any (band, band_hash)
    bucket. Output: (id_a, id_b, est_jaccard) with id_a < id_b, deduped
    across bands, filtered by the estimated Jaccard from full signatures.

    The only shuffles are the signature aggregation, the exploded band
    bucket join (short keys) and the pair dedup — no quadratic blow-up.
    Skewed buckets (boilerplate docs) are bounded by AQE skew handling;
    ``max_bucket_size`` additionally drops whole buckets larger than the
    cap before the self-join — a bucket of n identical boilerplate docs
    would otherwise contribute C(n,2) pairs, the classic quadratic
    blow-up at web scale. Capped-away *identical* documents are still
    collapsed by the (linear) ``exact_dedup`` pass, which is why dropping
    giant buckets is safe in the standard exact-then-near dedup pipeline.
    Word shingles are far more selective than char shingles on
    small-vocabulary corpora — fewer bucket collisions, smaller
    candidate sets.
    """
    banded = minhash_banded(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    if max_bucket_size is not None:
        # Aggregate + semi-join, NOT a window over (band, bucket): a window
        # would hash the pathological giant bucket — the exact thing the
        # cap exists to defuse — into ONE un-splittable partition. The
        # aggregate partial-combines the giant bucket map-side (its
        # reducer sees one row per bucket), and the filtering join is an
        # ordinary AQE-managed equi-join.
        small_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(small_buckets, ["band", "bucket"], "left_semi")
    # Self-join below would otherwise recompute the whole signature
    # pipeline twice (no exchange reuse across the join sides). The
    # materialized set is tiny — id + signature per doc. LAZY
    # localCheckpoint (not persist): blocks are released by the
    # ContextCleaner once the result is consumed (persist() entries stay
    # pinned in the cache registry across repeated operator invocations),
    # and eager=False keeps query construction job-free — materialization
    # happens at the first action, not at build time (ADVICE r3).
    # Tradeoff, deliberate: localCheckpoint truncates lineage, so losing
    # an executor (decommission/preemption) after materialization fails
    # the job instead of recomputing. For clusters with aggressive
    # dynamic allocation, a reliable df.checkpoint() into the configured
    # checkpoint dir is the drop-in safer (slower) swap.
    banded = banded.localCheckpoint(eager=False)

    left = banded.alias("l")
    right = banded.alias("r")
    # est_jaccard is computed BEFORE the pair dedup and the threshold is
    # applied immediately: a pair colliding in b bands evaluates est b
    # times (b is small), but the dedup shuffle then carries only
    # (id_a, id_b, est) — ~24 bytes — instead of two full signatures,
    # and sub-threshold candidates never shuffle at all. At web scale
    # the candidate stream is the largest intermediate in the whole
    # pipeline; shrinking it ~10x beats saving duplicate 16-element
    # comparisons. The estimate itself is a codegen'd sum of primitive
    # column equalities (see ``minhash_banded`` on why not zip_with).
    matches = " + ".join(
        f"CAST(l.h{i} = r.h{i} AS INT)" for i in range(num_hashes)
    )
    return (
        left.join(
            right,
            F.expr("l.band = r.band AND l.bucket = r.bucket AND l.id < r.id"),
        )
        .selectExpr(
            "l.id AS id_a",
            "r.id AS id_b",
            f"round(({matches}) / {num_hashes}, 4) AS est_jaccard",
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["id_a", "id_b"])
    )


#: SimHash width. 63 (not 64) so the MSB-first fold below stays within a
#: signed long under ANSI mode (Spark 4 default) — no overflow, same
#: near-dup power.
SIMHASH_BITS = 63


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    out_col: str = "sh",
) -> DataFrame:
    """SimHash via explode + hash-aggregate — the scale path (same
    reasoning as ``minhash_signatures_df``: keep everything in codegen).

    (id, token) rows -> per-bit +1/-1 sums as 63 aggregate columns ->
    fold the sign bits into one long.

    Measured dead ends (don't re-attempt):
    - round 4: packing the 63 bit counters into 16 longs of 4x16-bit
      lanes (fewer aggregation buffers, shift/or update expressions)
      was timing-identical at 200k docs (1.84 s vs 1.82 s) — the
      per-row bit work dominates, not the aggregation state.
    - round 13: a carry-save (bit-sliced popcount) adder inside
      ``F.aggregate`` over the token-hash array — ~2 bitwise ops per
      counter level for all 63 bit positions at once, zero shuffles —
      measured 110 s vs 1.8 s at 10k docs: higher-order functions
      re-materialize the 21-field struct accumulator per token instead
      of fusing into codegen. HOFs are for small arrays, not hot
      reductions.

    Round 13: the per-bit term is the branch-free ``sum((th >> b) & 1)``
    against a shared token count (bit b set iff ``2*ones_b > n``) —
    bit-identical to the original ±1-sum form (``sum(±1) > 0`` ⇔
    ``2*ones > n``), measured ~1.15x faster (no WHEN branch per bit per
    token). The internal ``__n`` count exists only to decide the bits
    and is not part of the output contract.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("th"))
    bit_sums = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.expr(f"sum(shiftright(th, {b}) & 1) AS b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    value = " + ".join(
        f"CASE WHEN b{b} * 2 > __n THEN {1 << b}L ELSE 0L END"
        for b in range(SIMHASH_BITS)
    )
    return bit_sums.selectExpr("id", f"{value} AS `{out_col}`")


def _equal_splits(bits: int, n: int) -> list[tuple[int, int]]:
    """(offset, width) for ``n`` near-equal slices of a ``bits``-wide
    value — the shared geometry of the pigeonhole families
    (consumed via :func:`simhash_combo_tables`)."""
    base, extra = divmod(bits, n)
    out, off = [], 0
    for i in range(n):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_combo_tables(
    bits: int, max_hamming: int, combo_r: int, n_blocks: int | None = None
) -> tuple[list[tuple[int, int]], list[tuple[int, ...]], list[int]]:
    """The shared geometry of the combination blocking: (block splits,
    combo subsets, first-intact-combo lookup). ONE definition consumed
    by the Spark operator AND the generated DuckDB mirror of the
    portable family, so the two sides cannot drift on block widths,
    subset order, or the first-match rule."""
    if combo_r < 1:
        raise ValueError("combo_r >= 1 required")
    if n_blocks is None:
        n_blocks = max_hamming + combo_r
    if n_blocks < max_hamming + combo_r:
        raise ValueError(
            f"n_blocks={n_blocks} < max_hamming+combo_r="
            f"{max_hamming + combo_r}: the pigeonhole guarantee needs "
            "at least combo_r intact blocks for any qualifying pair"
        )
    if n_blocks > 16:
        # the first-match lookup is 2^n_blocks entries; 16 blocks = 64k
        # ints is the sensible ceiling (and >16 blocks of a <=63-bit
        # hash are under 4 bits wide — useless keys anyway)
        raise ValueError("n_blocks must be <= 16")
    from itertools import combinations

    splits = _equal_splits(bits, n_blocks)
    subsets = list(combinations(range(n_blocks), combo_r))
    first_combo = [-1] * (1 << n_blocks)
    for mask in range(1 << n_blocks):
        for t, subset in enumerate(subsets):
            if all(mask & (1 << b) for b in subset):
                first_combo[mask] = t
                break
    return splits, subsets, first_combo


def simhash_blocked_pairs_from_sigs(
    sigs: DataFrame,
    *,
    bits: int = SIMHASH_BITS,
    max_hamming: int = 8,
    combo_r: int = 2,
    n_blocks: int | None = None,
    max_block_size: int | None = None,
    include_signatures: bool = False,
) -> DataFrame:
    """Near-dup pairs from (id, sh) rows with EXACT candidate recall:
    Manku-style combination blocking over the 63-bit signature.

    Split the signature into ``n_blocks`` near-equal slices and key
    candidates on every ``combo_r``-subset of slices (all values
    concatenated). Pigeonhole: a pair within ``max_hamming`` differing
    bits leaves at least ``n_blocks - max_hamming`` slices untouched,
    so with ``n_blocks >= max_hamming + combo_r`` some keyed subset is
    fully intact — candidate recall is EXACT by construction: on a
    planted corpus this path returns the true h<=8 fraction, 0.99.

    Why combinations instead of the portable family's single-block
    keys: at ``max_hamming=8`` a single 63/9 = 7-bit slice has only 128
    distinct values — EVERY corpus beyond ~10k docs piles unrelated
    documents into each bucket and the self-join goes quadratic. Pairs
    of slices give ~2x-wider keys (12-14 bits) at C(n_blocks, combo_r)
    exploded rows per doc (45 for the 8/2 default) — the classic
    precision-vs-table-count dial (Manku et al. 2007's tradeoff,
    expressed as one exploded join instead of 45 sequential probes).

    Plan shape at 100 TB — ZERO pair-level shuffles: the explode
    carries (id, sh, table, key) longs — 45 rows/doc of ~32 bytes, far
    below the text the signature already replaced; ``max_block_size``
    drops pathological (table, key) groups whole (aggregate + broadcast
    ANTI join against the usually-empty hot-key list — round 13, was a
    semi-join against the full key census); the self-join on the fused
    (table, key) long carries BOTH signatures, so Hamming verification is a map-side
    filter — no join back to the signature frame. A qualifying pair is
    matched by C(intact, combo_r) tables (~30 of 45 at small Hamming),
    so naive dedup would shuffle the candidate set at ~30x multiplicity
    (measured 28 s vs 2 s at sf0.1 on the first cut of this operator);
    instead each survivor passes a FIRST-INTACT-COMBO filter — emitted
    only by the lexicographically first table whose blocks are all zero
    in ``sh_a XOR sh_b``, an O(1) lookup into a precomputed
    2^n_blocks-entry table indexed by the intact-block bitmask —
    leaving exactly one row per pair with no distinct anywhere.
    Capping note: under the first-match rule a capped group suppresses
    the pairs whose FIRST intact combo it is (they are not recovered
    via a later table) — deterministic, mirrorable semantics; the
    45-subset spread keeps genuine near-dups rare in hot buckets.

    Output: (id_a, id_b, hamming), id_a < id_b;
    ``include_signatures=True`` appends (sh_a, sh_b) for callers whose
    contract carries the signatures (the portable gate).
    """
    # first_combo[mask] = index of the first subset fully inside the
    # intact-block bitmask (bit b set <=> block b of sh_a^sh_b is
    # all-zero); -1 where no subset qualifies (only reachable past the
    # Hamming gate, which guarantees >= combo_r intact blocks)
    splits, subsets, first_combo = simhash_combo_tables(
        bits, max_hamming, combo_r, n_blocks
    )
    # Round 13: fold (table, key) into ONE long join key, t in the high
    # bits above the widest combo key. Spark's hash join specializes on
    # a single long key (LongHashedRelation: open-addressed long->rows
    # map) vs the generic UnsafeRow relation for multi-column keys —
    # measured 2.4x on the candidate probe (9.07M candidates at sf0.1:
    # 2.5-3.0 s two-column vs 1.0-1.4 s composite long). Every geometry
    # the n_blocks <= 16 guard admits fits: key width <= bits (63) only
    # when combo_r == n_blocks, and the shifted table index is checked
    # below.
    key_width = max(sum(splits[b][1] for b in s) for s in subsets)
    # ADVICE r13: a single-table geometry (combo_r == n_blocks) needs
    # ZERO index bits — (0).bit_length() == 0 — so a full-63-bit key is
    # legal there; multi-table geometries reserve exactly the bits the
    # largest index t = len(subsets)-1 occupies.
    if key_width + (len(subsets) - 1).bit_length() > 63:
        raise ValueError(
            f"combo keys ({key_width} bits) + table index do not fit a "
            "long — lower combo_r or n_blocks"
        )
    combos = []
    for t, subset in enumerate(subsets):
        key = None
        for b in subset:
            off, w = splits[b]
            piece = f"(shiftright(sh, {off}) & {(1 << w) - 1})"
            key = piece if key is None else f"(shiftleft({key}, {w}) | {piece})"
        combos.append(f"(shiftleft({t}L, {key_width}) | {key})")
    keyed = sigs.selectExpr("id", "sh", f"explode(array({', '.join(combos)})) AS k")
    # keyed feeds the cap count AND both sides of the self-join —
    # checkpoint BEFORE the cap so the explode runs once, not three
    # times (round 13: the cap previously recomputed signatures per
    # consumer; reordering cut its cost ~1.3 s -> ~0.15 s at sf0.1)
    keyed = keyed.localCheckpoint(eager=False)
    if max_block_size is not None:
        # drop over-cap (table, key) groups whole — phrased as an ANTI
        # join against the HOT keys (usually none) rather than a semi
        # join against every small key: the broadcast build is a handful
        # of longs instead of the whole key census
        hot = (
            keyed.groupBy("k")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block_size)
            .select("k")
        )
        keyed = keyed.join(F.broadcast(hot), ["k"], "left_anti")
    left, right = keyed.alias("l"), keyed.alias("r")
    x = "(l.sh ^ r.sh)"
    intact_mask = " + ".join(
        f"CASE WHEN (shiftright({x}, {off}) & {(1 << w) - 1}) = 0 THEN {1 << b} ELSE 0 END"
        for b, (off, w) in enumerate(splits)
    )
    lookup = f"array({', '.join(map(str, first_combo))})"
    out_cols = ["l.id AS id_a", "r.id AS id_b", f"bit_count({x}) AS hamming"]
    if include_signatures:
        out_cols += ["l.sh AS sh_a", "r.sh AS sh_b"]
    return (
        left.join(right, F.expr("l.k = r.k AND l.id < r.id"))
        .filter(f"bit_count({x}) <= {max_hamming}")
        .filter(
            f"shiftright(l.k, {key_width}) = "
            f"CAST(element_at({lookup}, CAST({intact_mask} + 1 AS INT)) AS BIGINT)"
        )
        .selectExpr(*out_cols)
    )


def simhash_neardups_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 8,
    combo_r: int = 2,
    n_blocks: int | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """xxhash64 SimHash near-dups via the exact combination blocking:
    :func:`simhash_df` signatures into
    :func:`simhash_blocked_pairs_from_sigs`."""
    return simhash_blocked_pairs_from_sigs(
        simhash_df(df, text_col, id_col),
        max_hamming=max_hamming,
        combo_r=combo_r,
        n_blocks=n_blocks,
        max_block_size=max_block_size,
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup: remove every repeated
    paragraph except its first occurrence and reassemble documents.

    The span-level companion to document-level dedup (cf. Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    repeated spans survive document dedup because the *containing*
    documents differ; boilerplate headers/footers are the classic case).
    Here the unit is a ``sep``-delimited paragraph, trimmed; empty
    segments are dropped as canonicalization. ``sep`` is a Java regex
    (it feeds ``split``) — escape metacharacters when splitting on
    literal punctuation. "First occurrence" is the
    instance with the smallest (doc_id, position) — a total order, so
    the keep-set is deterministic.

    Plan shape at 100 TB (r16 — guide §8 "decide with small rows, move
    big rows once", and here the big rows move ZERO times):
    1. posexplode paragraph HASHES — (id, pos, xxhash64(trim(para))),
       24 bytes/paragraph, map-only; the paragraph text never leaves
       its document row.
    2. first-instance per paragraph: ``groupBy(pkey).min(struct(
       doc_id, pos))`` — partial aggregation combines the boilerplate
       paragraph's billion copies map-side; a window over the same
       partition key would sort that giant group in ONE task (the skew
       trap the dedup family avoids throughout).
    3. keep-plan per doc: winners regrouped by doc into a sorted
       position array — (id, keep_pos, n_kept), longs only.
    4. reassembly IN the document row: the keep-plan left-joins back to
       the input on id and ``text_dedup`` is rebuilt by direct
       ``element_at`` position lookups into the row's own split array —
       no exchange ever carries a paragraph. (Pre-r16 the winner join
       and the reassembly ``collect_list`` both shuffled full paragraph
       text — the corpus crossed the network twice to decide what
       amounts to a per-doc bitmap. Measured at the 200k-doc tier:
       4.03 -> 2.69 s median, interleaved.)

    The paragraph key is ``xxhash64`` — 8 bytes on the winner-selection
    shuffle (vs 32 for a hex digest; measured 14% on the sf0.1 pass).
    The key never appears in the output, so the DuckDB oracle grouping
    on md5 digests still hash-matches: any collision-free hash yields
    identical survivors (a 64-bit collision merges two distinct
    paragraphs with probability ~2^-64 per pair — the same wager the
    whole MinHash family makes).

    Assumes ``id_col`` is unique per row (every form of this operator
    keyed reassembly on it; exact_dedup upstream guarantees it in the
    standard pipeline).

    Output: (doc_id, n_paras, n_kept, text_dedup).
    """
    segs = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), sep).alias("__segs"),
    )
    paras = (
        segs.select(
            "id", F.posexplode("__segs").alias("pos", "raw")
        )
        .select("id", "pos", F.xxhash64(F.trim(F.col("raw"))).alias("pkey"),
                (F.trim(F.col("raw")) != "").alias("__keep"))
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    winners = paras.groupBy("pkey").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("first")
    )
    keep_plan = (
        winners.select(F.col("first.id").alias("id"), F.col("first.pos").alias("pos"))
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("__kp"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    n_paras = F.size(
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
            # coalesce wrappers keep the pre-r16 non-nullable schema;
            # the isNull guard keeps NULL text at 0 regardless of the
            # session's size(NULL) convention (-1 legacy vs NULL ANSI)
            F.coalesce(
                F.when(F.col("__segs").isNull(), F.lit(0).cast("long")).otherwise(
                    n_paras
                ),
                F.lit(0).cast("long"),
            ).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(rebuilt, F.lit("")).alias("text_dedup"),
        )
    )


def ngram_jaccard(
    left: DataFrame,
    right: DataFrame,
    on,
    *,
    text_col: str = "text",
    k: int = 3,
    out_col: str = "jaccard",
) -> DataFrame:
    """Exact n-gram (word k-shingle) Jaccard similarity for paired rows.

    ``left``/``right`` are pre-paired (e.g. LSH candidates) — this is the
    exact-verification stage of the candidate→verify dedup pipeline, so
    the quadratic part never materializes.

    The similarity is emitted UNROUNDED: one int/int IEEE division is
    bit-identical in any engine, while a decimal re-round (``round(x, 4)``)
    is the cross-engine 1-ULP hazard the oracle gate documents on
    ``repetition_features``. Callers wanting display precision can round
    at the edge.
    """
    lsh = word_shingles(F.col(f"l.{text_col}"), k)
    rsh = word_shingles(F.col(f"r.{text_col}"), k)
    inter = F.size(F.array_intersect(lsh, rsh))
    union = F.size(F.array_union(lsh, rsh))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return left.alias("l").join(right.alias("r"), on).withColumn(out_col, jac)


def fuzzy_pairs_d1(
    df: DataFrame,
    *,
    text_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All DISTINCT string pairs within edit distance exactly 1, via
    deletion-neighborhood blocking (the FastSS / SymSpell family —
    public algorithms; the d=1 neighborhood is string + all single
    deletions).

    Pigeonhole guarantee: lev(s, t) <= 1 implies the neighborhoods
    {s} ∪ deletions(s) and {t} ∪ deletions(t) intersect — a
    substitution at i gives del_i(s) = del_i(t); an insert/delete makes
    one string a deletion variant of the other. The converse is loose
    only up to distance 2 (del_i(s) = del_j(t), i != j), so candidates
    are verified with a real ``levenshtein`` before emission — the
    same block-then-verify contract as the MinHash/SimHash family.

    Plan shape at 100 TB:
    1. ``distinct`` strings first — exact duplicates are exact-dedup's
       job, and collapsing them first removes the C(m,2) blow-up of a
       million-copy string meeting itself in every bucket.
    2. variants by ``explode(sequence(0, len))`` + codegen'd
       substring/concat (0 = identity) — map-only; the join key is
       ``xxhash64(variant)``, 8 bytes, never the variant text.
    3. self-equi-join on the variant hash; ``s_a < s_b`` halves the
       pairs; ``distinct`` collapses multi-bucket candidates BEFORE the
       verify so each pair pays one levenshtein.
    4. verify ``levenshtein = 1`` (distance 0 is impossible after the
       distinct).

    ``max_bucket_size`` is the boilerplate-bucket guard (aggregate +
    semi-join, same shape as minhash's cap): a variant shared by m
    strings yields C(m,2) candidates, and real corpora have degenerate
    near-families ("page 1", "page 2", ...). None (default) keeps exact
    recall for oracle parity; set it at scale and count capped buckets
    as telemetry.

    Output: (s_a, s_b, dist) with s_a < s_b, dist always 1.
    """
    s = F.col("s")
    names = df.select(F.col(text_col).alias("s")).filter(s.isNotNull()).distinct()
    i = F.col("i")
    variants = (
        names.select(s, F.explode(F.sequence(F.lit(0), F.length(s))).alias("i"))
        .select(
            "s",
            F.when(i == 0, s)
            .otherwise(
                F.concat(
                    F.substring(s, F.lit(1), i - 1),
                    F.substring(s, i + 1, F.length(s)),
                )
            )
            .alias("v"),
        )
        .select("s", F.xxhash64("v").alias("vkey"))
    )
    if max_bucket_size is not None:
        small = (
            variants.groupBy("vkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("vkey")
        )
        variants = variants.join(small, "vkey", "left_semi")
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(b, "vkey")
        .filter(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("s_a", "s_b").cast("long")).filter(
        F.col("dist") == 1
    )


def setsim_join(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    tau_num: int = 6,
    tau_den: int = 10,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """EXACT-recall set-similarity self-join: all document pairs whose
    word-bigram shingle SETS have Jaccard >= tau_num/tau_den — the
    prefix-filtering family (PPJoin / AllPairs, public algorithms), the
    deterministic companion to MinHash (which trades recall for speed;
    this trades a verify pass for a guarantee).

    Prefix lemma: order every shingle by a GLOBAL total order (here
    (corpus df ASC, hash ASC) — rarest first, ties broken by hash) and
    keep each set's first ``p = k - ceil(tau*k) + 1`` elements; two
    sets with Jaccard >= tau MUST share a prefix element. Candidates
    are therefore an equi-join on prefix shingle hashes — never an
    all-pairs scan — and the verify recomputes exact intersection /
    union sizes with the integer rule ``tau_den * inter >= tau_num *
    union`` (no float decides a pair).

    Plan shape at 100 TB:
    1. shingle-hash SETS per doc (xxhash64, 8 bytes — text never
       shuffles; the usual 2^-64 collision wager);
    2. corpus df per shingle: one hash aggregation, FILTERED to the
       repeated-shingle vocabulary (``dfc >= 2``) before the attach —
       a shingle with df 1 sorts identically whether its df comes from
       the frequency table or from ``coalesce``'s literal 1, and on
       natural corpora most shingles are unique, so the attach join's
       right side collapses to the small repeated vocabulary. With
       ``broadcast_vocab`` (default) that side is broadcast and the
       exploded occurrence table is NEVER shuffled for the attach
       (r16, guide §3.1/§2.4 — measured: the old inner join sorted and
       shuffled every occurrence through a sort-merge join, ~75% of
       this operator's construct wall at the 200k-doc tier). At corpus
       scales where the repeated vocabulary outgrows a broadcast
       relation (~8 GB / 512M rows), pass ``broadcast_vocab=False``:
       the join falls back to the planner's choice with the SAME
       df>=2-shrunken right side — still strictly less work than the
       unfiltered attach — and results are identical either way;
    3. the rarest-first order needs no global rank — sorting per-doc
       structs (df, hash) IS the global order, so the vocab frame
       never funnels through one task;
    4. prefix explode -> equi-join on hash, ``id_a < id_b``,
       distinct — work scales with prefix bucket density (rare
       shingles => tiny buckets), the PPJoin selling point;
    5. verify joins each candidate to the two full sorted hash arrays
       (compact long arrays) and applies the integer Jaccard rule.

    Output: (id_a, id_b, inter_size, union_size), exactly the pairs
    an exhaustive quadratic scan would emit.
    """
    if not (0 < tau_num <= tau_den):
        raise ValueError("need 0 < tau_num <= tau_den")
    toks = F.filter(
        F.split(portable_lower(F.trim(F.col(text_col))), PORTABLE_WS_PLUS), lambda t: t != ""
    )
    tok_df = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    grams = F.when(
        n >= 2,
        F.array_distinct(
            F.zip_with(
                F.slice(F.col("__toks"), F.lit(1), n - 1),
                F.slice(F.col("__toks"), F.lit(2), n - 1),
                lambda a, b: F.xxhash64(F.concat_ws(" ", a, b)),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    sets = tok_df.select("id", grams.alias("g")).filter(F.size("g") > 0)
    # ``sets`` feeds BOTH the df aggregate and the attach probe; without
    # materialization the tokenize -> shingle chain (the ordered build's
    # single heaviest stage: split + zip_with + xxhash per corpus token)
    # runs once per consumer. Checkpointing the compact (id, long-array)
    # form runs it ONCE (r16; measured at the 200k-doc tier: ordered
    # build 28-30 s -> 12.9 s combined with the broadcast attach below).
    # Same lazy-localCheckpoint pattern/tradeoffs as ``ordered``.
    sets = sets.localCheckpoint(eager=False)
    ex = sets.select("id", F.explode("g").alias("h"))
    # Repeated-shingle vocabulary only (df >= 2): df-1 shingles get
    # their order key from coalesce's literal 1 — identical structs,
    # identical array_sort, identical prefixes (plan-shape rationale in
    # the docstring; equality pinned by test and oracle).
    dfreq = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("dfc"))
        .filter(F.col("dfc") >= 2)
    )
    if broadcast_vocab:
        dfreq = F.broadcast(dfreq)
    ranked = ex.join(dfreq, "h", "left").withColumn(
        "dfc", F.coalesce(F.col("dfc"), F.lit(1).cast("long"))
    )
    ordered = ranked.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dfc", "h"))), lambda s: s["h"]
        ).alias("sorted_g")
    )
    # ``ordered`` is consumed THREE times (prefix explode + both sides
    # of the verify join); without materialization each consumer
    # re-runs the whole tokenize -> shingle -> df-join -> sort chain
    # (measured 3x wall on the 200k-doc tier: 34-40 s -> 11-12 s
    # isolated). Lazy localCheckpoint,
    # same pattern/tradeoffs as minhash_lsh_candidates (no build-time
    # job; blocks auto-released; lineage truncation documented there).
    ordered = ordered.localCheckpoint(eager=False)
    k = F.size("sorted_g")
    # p = k - ceil(tau*k) + 1, integer ceil
    p = k - F.floor((F.lit(tau_num) * k + F.lit(tau_den - 1)) / F.lit(tau_den)).cast(
        "int"
    ) + 1
    prefix = ordered.select(
        "id", "sorted_g", F.explode(F.slice("sorted_g", 1, p)).alias("h")
    )
    a = prefix.select(F.col("id").alias("id_a"), F.col("h"))
    b = prefix.select(F.col("id").alias("id_b"), F.col("h"))
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    full = ordered.select("id", "sorted_g")
    verified = (
        cand.join(full.select(F.col("id").alias("id_a"), F.col("sorted_g").alias("ga")), "id_a")
        .join(full.select(F.col("id").alias("id_b"), F.col("sorted_g").alias("gb")), "id_b")
        .withColumn("inter_size", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn(
            "union_size",
            (F.size("ga") + F.size("gb")).cast("long") - F.col("inter_size"),
        )
        .filter(
            F.lit(tau_den) * F.col("inter_size") >= F.lit(tau_num) * F.col("union_size")
        )
    )
    return verified.select("id_a", "id_b", "inter_size", "union_size")


def fuzzy_join_d1(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    text_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-TABLE edit-distance join (lev <= 1, exact matches
    included) via the same deletion-neighborhood blocking as
    ``fuzzy_pairs_d1`` — the candidate generator for record linkage:
    match a dirty/migrated table against a reference table without an
    all-pairs scan.

    Each side explodes to its d=1 neighborhood ({s} ∪ deletions(s)),
    hashed to 8-byte keys; candidates are the hash equi-join of the two
    variant sets, verified with a real ``levenshtein <= 1`` (distance 0
    — the exact match — survives, unlike the self-join form which
    dedups first). Work scales with variant-bucket density; the
    optional ``max_bucket_size`` cap is the same aggregate+semi-join
    guard (applied to the RIGHT/reference side, the one a degenerate
    corpus inflates).

    Output: (left_id, right_id, dist) — one row per matching pair;
    callers pick winners with their own scoring (see
    plans/registry.q_record_linkage).
    """

    def neighborhood(df: DataFrame, id_col: str, out_id: str) -> DataFrame:
        s = F.col("__s")
        i = F.col("i")
        base = df.select(
            F.col(id_col).alias(out_id), F.col(text_col).alias("__s")
        ).filter(s.isNotNull())
        return base.select(
            out_id,
            "__s",
            F.explode(F.sequence(F.lit(0), F.length(s))).alias("i"),
        ).select(
            out_id,
            "__s",
            F.xxhash64(
                F.when(i == 0, s).otherwise(
                    F.concat(
                        F.substring(s, F.lit(1), i - 1),
                        F.substring(s, i + 1, F.length(s)),
                    )
                )
            ).alias("vkey"),
        )

    lv = neighborhood(left, left_id, "__lid")
    rv = neighborhood(right, right_id, "__rid")
    if max_bucket_size is not None:
        small = (
            rv.groupBy("vkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("vkey")
        )
        rv = rv.join(small, "vkey", "left_semi")
    cand = (
        lv.select("__lid", F.col("__s").alias("__sl"), "vkey")
        .join(rv.select("__rid", F.col("__s").alias("__sr"), "vkey"), "vkey")
        .select("__lid", "__rid", "__sl", "__sr")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("__sl", "__sr").cast("long"))
        .filter(F.col("dist") <= 1)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            "dist",
        )
    )


def banded_hamming_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "sig",
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate pairs over any 64-bit perceptual signature column
    by band-equality blocking + exact popcount verify — the shared
    candidate/verify core behind the image (dHash) and audio (energy-
    envelope hash) near-dup operators.

    The 64-bit signature splits into ``bands`` equal blocks; two rows
    become a candidate pair iff they agree on at least one whole block
    (pigeonhole-guaranteed for Hamming distance < ``bands``; a
    measured-recall heuristic above that). Candidates are verified
    exactly with ``bit_count(a ^ b) <= max_hamming``.

    Scale shape: the self-join shuffles (band_no, block) keys — a few
    bytes per row, never the underlying media — and the verify is a
    popcount on two longs. NULL signatures (undecodable payloads) are
    excluded before blocking.
    """
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    h = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__hid"), F.col(hash_col).alias("__sig")
    )
    banded = h.select(
        "__hid",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.shiftrightunsigned(F.col("__sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__hid", "__sig", "bb.band_no", "bb.block")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.__hid") < F.col("b.__hid")),
        )
        .select(
            F.col("a.__hid").alias("id_a"),
            F.col("b.__hid").alias("id_b"),
            F.col("a.__sig").alias("__sa"),
            F.col("b.__sig").alias("__sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def windowed_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    epoch_col: str,
    window_seconds: int,
) -> DataFrame:
    """Time-windowed exact dedup: a document is a duplicate only while
    the SAME content was seen within ``window_seconds`` before it —
    afterwards the content is legitimately re-keepable. The curation
    semantics for recurring publications (weekly digests, annual
    notices, syndicated re-posts): plain ``exact_dedup`` would keep one
    copy forever; this keeps one copy per burst.

    Burst rule, stated precisely because two plausible semantics exist:
    a new burst starts when the GAP FROM THE PREVIOUS OCCURRENCE
    (kept or not) exceeds the window — classic sessionization per
    content hash, exactly SQL-expressible and what the oracle mirrors.
    The alternative ("since last KEPT occurrence") is an iterative
    greedy chain with no closed window form; under the gap rule a
    slow drip re-posting every window-minus-one seconds never re-keeps,
    which is the conservative (dedup-more) direction — documented, not
    hidden.

    Plan: ONE shuffle on the 32-byte content hash (the exact_dedup
    discipline — text never shuffles; the window runs inside each
    hash's partition on (epoch, id)-ordered rows). Output: every input
    row's (id, content_hash, epoch, burst_id, is_keeper) — keepers are
    each burst's first row; downstream joins back on the id to filter
    payloads. ``epoch_col`` must be integer seconds (the caller derives
    it; integer ordering keys are the cross-engine contract, see
    functions/portable.py family E).
    """
    from pyspark.sql import Window

    h = F.sha2(normalize_text(F.col(text_col)), 256)
    rows = df.select(
        F.col(id_col),
        h.alias("content_hash"),
        F.col(epoch_col).cast("long").alias("epoch"),
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.col("epoch").asc(), F.col(id_col).asc()
    )
    prev = F.lag("epoch").over(w)
    new_burst = (
        prev.isNull() | (F.col("epoch") - prev > F.lit(int(window_seconds)))
    ).cast("int")
    return (
        rows.withColumn("__nb", new_burst)
        .withColumn(
            "burst_id",
            F.sum("__nb")
            .over(
                Window.partitionBy("content_hash")
                .orderBy(F.col("epoch").asc(), F.col(id_col).asc())
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .cast("long"),
        )
        .withColumn("is_keeper", F.col("__nb") == 1)
        .drop("__nb")
    )


def _capped_candidate_pairs(
    keyed: DataFrame, key_cols: list[str], cap: int
) -> DataFrame:
    """Shared candidate-pair plumbing of the portable banded families
    (review r11c #4 — one copy, not two that drift): drop (key) groups
    larger than ``cap`` whole (aggregate + semi-join, never a window
    over the pathological group), self-join on the key with id_a <
    id_b, and DEDUPE the pair set before any signature join. ``keyed``
    is (id, *key_cols); output (id_a, id_b) distinct."""
    small = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= cap)
        .select(*key_cols)
    )
    kept = keyed.join(small, key_cols, "left_semi")
    cond = F.col("l.id") < F.col("r.id")
    for k in key_cols:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return (
        kept.alias("l")
        .join(kept.alias("r"), cond)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_portable_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The md5 MinHash signature build shared by
    :func:`minhash_portable_pairs` and the portable cross-run manifest
    (``operators/manifest.build_neardup_manifest_portable``) — one
    definition so the pair operator and the persisted artifact cannot
    drift on normalization, shingling, or the hash family (the same
    single-source discipline as ``_capped_candidate_pairs``).

    Semantics as documented on ``minhash_portable_pairs`` steps 1-2:
    normalized word shingles (DISTINCT per doc; docs under ``shingle_k``
    tokens drop out), per seed ``s``: lexicographic
    ``min(md5(s || ':' || shingle))``. Output (id, h0..h{n-1}) — flat
    lowercase-hex string columns, reproducible bit-for-bit by any
    engine with an md5. One explode + ONE hash aggregation computing
    all mins map-side.
    """

    def shingles_of(toks: Column) -> Column:
        n_sh = F.size(toks) - F.lit(shingle_k - 1)
        return F.array_distinct(
            F.when(
                n_sh >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_k)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )

    shingles = _let(
        F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""),
        shingles_of,
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("sh")
    )
    return exploded.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )


def portable_band_struct(num_hashes: int, bands: int) -> Column:
    """Array of (band, bucket) structs over the flat ``h0..h{n-1}``
    signature columns: bucket = md5 of the band's consecutive signature
    slice joined by '|' — the LSH key both the portable pair join and
    the persisted portable manifest store (single source, same
    no-drift rationale as :func:`minhash_portable_signatures`)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{i}")
                            for i in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_agree: int = 8,
    max_bucket_size: int = 50,
) -> DataFrame:
    """ENGINE-PORTABLE banded MinHash near-dup pairs — md5 hash family
    instead of ``xxhash64``, making this the registry's first fully
    oracle-verifiable MinHash: the exact candidate-pair set, signature
    agreement counts and band buckets reproduce bit-for-bit in any
    engine with an md5 (the winnowing-family discipline applied to
    MinHash). The xxhash64 family (:func:`minhash_lsh_candidates`)
    stays the throughput path — two longs hashed per (shingle, seed)
    versus a string md5 here — but portability is what a CROSS-ENGINE
    dedup manifest needs: signatures written by this operator can be
    probed by any other engine, and its correctness is gated by hash
    equality instead of recall statistics.

    Semantics (each step mirrored verbatim by the oracle):
    1. normalize (lowercase + whitespace collapse — the dedup family's
       canonical form) and word-shingle: ``shingle_k`` consecutive
       tokens joined by a single space, DISTINCT per doc. Docs with
       fewer than ``shingle_k`` tokens have no shingles and never pair.
    2. per seed ``s`` in 0..num_hashes-1: ``min(md5(s || ':' ||
       shingle))`` — lexicographic min over lowercase hex, a total
       order identical in every engine.
    3. bands of ``num_hashes // bands`` consecutive signature values;
       bucket = ``md5(band_slice joined by '|')``. Buckets larger than
       ``max_bucket_size`` docs are dropped whole (boilerplate cap,
       part of the SEMANTICS, the winnow_overlap discipline).
    4. candidate pairs from same-(band, bucket) collisions, deduped,
       with ``sig_agree`` = number of agreeing signature positions
       (an INTEGER; ``est_jaccard = sig_agree / num_hashes`` rides
       along as the conventional estimate) thresholded at
       ``min_agree`` — integer comparison, never a float.

    Plan shape at 100 TB: explode to (id, shingle) rows -> ONE hash
    aggregation with map-side combine for all ``num_hashes`` mins
    (signature values stay FLAT columns — the agreement sum on
    collisions is whole-stage codegen; see minhash_banded on why not
    arrays) -> band explode carries (id, band, 32-char bucket) -> cap
    via aggregate + semi-join (never a window over the giant bucket) ->
    short-key self-join. Text never enters a shuffle.

    Output: (id_a, id_b, sig_agree, est_jaccard), id_a < id_b.
    """
    if bands < 1:
        raise ValueError("bands >= 1 required")
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    if not (1 <= min_agree <= num_hashes):
        raise ValueError("min_agree must be in [1, num_hashes]")
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size >= 2 required")
    # tokens let-bound (_let): a computed array inside the transform
    # lambda would re-tokenize per shingle (the O(n^2) HOF hazard)
    sigs = minhash_portable_signatures(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    )
    # sigs feeds the band explode AND both agreement joins below —
    # one signature build, three consumers
    sigs = sigs.localCheckpoint(eager=False)
    # the band frame carries (id, band, 32-char bucket) ONLY: replicating
    # the full num_hashes x 32-byte signature once per band through the
    # cap exchange and both self-join sides would make the signatures the
    # dominant shuffle payload (~2 KB/doc/side vs ~40 B here; review r11
    # #6) — agreement counts come from joining the DEDUPED pair set back
    # to the compact sigs frame instead, so signatures cross the wire
    # once per SURVIVING candidate, not once per (band, collision)
    banded = sigs.select(
        "id",
        F.explode(portable_band_struct(num_hashes, bands)).alias("bb"),
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = _capped_candidate_pairs(banded, ["band", "bucket"], max_bucket_size)
    sa = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    agree = None
    for i in range(num_hashes):
        piece = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        agree = piece if agree is None else agree + piece
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", agree.cast("long").alias("sig_agree"))
        .filter(F.col("sig_agree") >= min_agree)
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            "sig_agree",
            (F.col("sig_agree") / F.lit(num_hashes)).alias("est_jaccard"),
        )
    )


SIMHASH_PORTABLE_BITS = 60




def simhash_portable_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The md5 60-bit SimHash signature build (id, sh) — steps 1-3 of
    :func:`simhash_portable_pairs`'s documented semantics, factored out
    so the pair operator and any persisted artifact share one
    definition. One (id, token) explode -> one tf aggregation -> ONE
    hash aggregation computing all 60 bit-sums map-side."""
    toks = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda t: t != "")
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("sh:"), F.col("tok"))), 1, 15), 16, 10
    ).cast("long")
    per_tok = tf.select("id", "tf", h.alias("h"))
    sums = per_tok.groupBy("id").agg(
        *[
            F.expr(f"sum(tf * ((shiftright(h, {j}) & 1) * 2 - 1)) AS s{j}")
            for j in range(SIMHASH_PORTABLE_BITS)
        ]
    )
    simhash = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_PORTABLE_BITS)
    )
    return sums.selectExpr("id", f"CAST({simhash} AS BIGINT) AS sh")


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 7,
    combo_r: int = 2,
    max_block_size: int = 100,
) -> DataFrame:
    """ENGINE-PORTABLE SimHash near-dup pairs with EXACT Hamming
    semantics — the SimHash analogue of :func:`minhash_portable_pairs`:
    md5-derived token hashes and integer bit arithmetic end-to-end, so
    the per-document simhash values, the candidate blocks, and the
    final pair set reproduce bit-for-bit in any engine. The xxhash64
    family (:func:`simhash_neardups_blocked`) stays the throughput
    path; this one is the hash-verifiable contract a cross-engine
    manifest stores.

    Semantics (mirrored verbatim by the generated oracle):
    1. tokens of the dedup family's normalized form, with TERM
       FREQUENCY weights (classic Charikar simhash).
    2. per token: a 60-bit hash from the first 15 hex chars of
       ``md5('sh:' || token)`` (60 bits keeps every intermediate inside
       a signed 64-bit long in both engines).
    3. per document and bit j: ``s_j = sum(tf * (bit_j ? +1 : -1))``;
       simhash bit j = 1 iff ``s_j > 0`` (ties -> 0 — exact integer
       sums, so engines cannot disagree).
    4. candidates from the COMBINATION blocking (round 12, unified with
       the throughput family): ``max_hamming + combo_r`` near-equal bit
       slices, keys on every ``combo_r``-subset — pigeonhole gives
       exact candidate recall at 12-14-bit keys instead of the round-11
       single-slice scheme's 7-bit keys, which go quadratic on any
       corpus beyond ~10k docs. (table, key) groups above
       ``max_block_size`` drop whole, and a pair is emitted ONLY at its
       first intact subset (integer lookup over the intact-block
       bitmask) — so under capping a pair survives iff its FIRST intact
       subset's bucket is under the cap: deterministic, engine-neutral
       semantics both sides implement from the same generated tables
       (``simhash_combo_tables``).
    5. verification: ``bit_count(xor(sh_a, sh_b)) <= max_hamming``.

    Plan shape at 100 TB: the keyed frame carries (id, sh, fused
    table+key) longs; the cap is aggregate + broadcast anti-join
    against the hot keys; the self-join carries both signatures so
    verification and first-match dedup are MAP-SIDE filters — zero
    pair-level exchanges (the r12 headline design); text never enters
    a shuffle.

    Output: (id_a, id_b, hamming, simhash_a, simhash_b), id_a < id_b.
    Documents with ZERO tokens (empty/whitespace-only/NULL text) have
    no simhash and never pair — deliberate, shared with the shingle
    families: an empty doc carries no similarity signal, all-empty
    "clusters" are degenerate, and byte-identical empties are already
    collapsed by exact_dedup's linear pass (the standard
    exact-then-near pipeline order).
    """
    if not (1 <= max_hamming < SIMHASH_PORTABLE_BITS):
        raise ValueError("max_hamming must be in [1, 60)")
    if max_block_size < 2:
        raise ValueError("max_block_size >= 2 required")
    sh = simhash_portable_signatures(df, text_col, id_col)
    out = simhash_blocked_pairs_from_sigs(
        sh,
        bits=SIMHASH_PORTABLE_BITS,
        max_hamming=max_hamming,
        combo_r=combo_r,
        max_block_size=max_block_size,
        include_signatures=True,
    )
    return out.select(
        F.col("id_a").alias(f"{id_col}_a"),
        F.col("id_b").alias(f"{id_col}_b"),
        F.col("hamming").cast("long").alias("hamming"),
        F.col("sh_a").alias("simhash_a"),
        F.col("sh_b").alias("simhash_b"),
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SoftDeDup-style duplicate DOWN-WEIGHTING: instead of dropping
    duplicates (``exact_dedup``'s keeper semantics), every copy stays
    in the corpus carrying a sampling weight of ``1 / n_copies``, so a
    content cluster contributes exactly one document's worth of
    expected training mass however many times it was crawled — the
    soft alternative pretraining pipelines use when hard removal would
    discard attestation/provenance diversity (cf. the SoftDeDup idea
    of reweighting over removal).

    Cross-engine contract: ``n_copies`` is an exact integer and the
    weight is ONE IEEE division of exact integers (1.0 / n) — correctly
    rounded, bit-identical everywhere, per the float discipline's
    unrounded-ratio rule. NULL text coalesces to the empty string
    BEFORE hashing (review r12c #1: a NULL hash key would fall out of
    a count join and the operator whose whole point is keeping every
    row would drop rows) — so NULL-text and empty-text documents share
    one "empty content" cluster, deliberately.

    Plan shape at 100 TB: ONE shuffle on the 32-byte content hash
    (never bodies) — the count is an unordered window over the hash
    partition, which both keeps every input row by construction and
    saves the groupBy+join-back exchange. Output: (id, content_hash,
    n_copies, weight), one row per INPUT document.
    """
    from pyspark.sql import Window

    h = F.sha2(
        F.coalesce(normalize_text(F.col(text_col)), F.lit("")), 256
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("content_hash"))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .withColumn("n_copies", n)
        .withColumn("weight", F.lit(1.0) / F.col("n_copies"))
    )
