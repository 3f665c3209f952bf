"""Sampling and sequence-packing operators for training-data pipelines.

- Stratified sampling / deterministic splits: the data-curation staples
  (per-language quotas, train/val/test). Both are hash-based, not
  ``rand()``-based, so results are reproducible across runs, executors,
  and retries — a property ``sample()`` does not give under task retry.
- Sequence packing: greedily pack documents into fixed token budgets
  (LLM pretraining batch shaping). Expressed as a running-sum window per
  shard — one shuffle, no driver loops; packs are local to a shard so
  the operation stays embarrassingly parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash_hex8(col: Column, seed: int, purpose: str) -> Column:
    """Deterministic uniform draw as an 8-hex-char string (md5 prefix).

    ``purpose`` salts the hash so different operators (sample vs split)
    draw INDEPENDENT uniforms even with the same seed and key — without
    it, composing sample(0.5) then split(0.8/0.1/0.1) on one key column
    puts every sampled row in the first split (fully correlated u's).

    md5 rather than xxhash64 (the round-1 choice): identical output in
    Spark, DuckDB and most engines, so the EXACT selection — not just
    its proportions — is reproducible and auditable outside Spark (and
    DuckDB-oracle-checkable). Comparing hex prefixes lexicographically
    against ``_hex_threshold`` replaces float division: 8 hex chars =
    32 uniform bits, plenty for sampling decisions.
    """
    return F.substring(
        F.md5(F.concat(F.lit(f"{purpose}:{seed}:"), col.cast("string"))), 1, 8
    )


def _hex_threshold(p: float) -> str:
    """Hex cutoff such that P(hex8 < cutoff) = p; inclusive at p >= 1
    ('z' sorts after all hex, so every row passes)."""
    p = min(max(float(p), 0.0), 1.0)
    if p >= 1.0:
        return "zzzzzzzz"
    return format(int(p * 0xFFFFFFFF), "08x")


def _md5_uniform(prefix: str, key: Column) -> Column:
    """Deterministic uniform in (0, 1] from md5(prefix || key): the
    engine's replacement for ``rand()`` — stable under task retry and
    reproducible by any engine (60 hex bits -> double). Shared by the
    Efraimidis-Spirakis sampler and the Gumbel-top-k resampler so a fix
    to the derivation (e.g. the open-interval +1 guard that keeps
    log(u) finite) lands exactly once (round-9 review)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**15))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    *,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum sampling with reproducible hash-based selection.

    ``fractions`` maps stratum value -> keep fraction (missing strata are
    dropped, like ``sampleBy``). Selection depends only on (key, seed):
    re-running, adding executors, or retrying tasks yields the same
    sample — unlike rand()-based sampling — and the md5 selection is
    bit-reproducible in any engine.
    """
    thr = None
    for value, p in fractions.items():
        branch = (F.col(strata_col) == value, F.lit(_hex_threshold(p)))
        thr = F.when(*branch) if thr is None else thr.when(*branch)
    thr = thr.otherwise(F.lit("")) if thr is not None else F.lit("")
    return df.filter(_hash_hex8(F.col(key_col), seed, "stratified_sample") < thr)


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float],
    *,
    key_col: str,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split by hash bucket
    (train/val/test). Weights are normalized; assignment is stable under
    reprocessing, which keeps eval contamination impossible across runs,
    and md5-based, so any engine recomputes the same assignment."""
    total = sum(weights.values())
    # NULL keys hash as '' (domain_mixture's discipline): a concat with
    # NULL would null the hash, every WHEN comparison would be NULL, and
    # all NULL-key rows would silently land in the LAST split — a
    # systematic bias toward the smallest split instead of one shared
    # uniform draw (ADVICE r11). With the coalesce, NULL-key rows share
    # md5('deterministic_split:seed:')'s draw — one verdict, unbiased.
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    u = _hash_hex8(key, seed, "deterministic_split")
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        branch = (u < F.lit(_hex_threshold(acc)), F.lit(name))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    last = F.lit(items[-1][0])
    assigned = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, assigned)


def domain_mixture(
    df: DataFrame,
    weights: dict[str, float],
    *,
    domain_col: str,
    key_col: str,
    default_weight: float = 0.0,
    salt: str = "mix",
    out_key_col: str = "mix_key",
) -> DataFrame:
    """Deterministic domain mixing for pretraining corpora: subsample each
    domain to its mixture weight and emit a stable global interleaving key.

    ``weights`` maps domain value -> keep probability (the per-domain
    sampling rate that realizes a target mixture); unlisted domains get
    ``default_weight``. Selection compares the first 8 hex chars of
    ``md5(salt:domain:key)`` against the weight's hex threshold — md5 is
    available with identical output in Spark, DuckDB, and most engines,
    so the EXACT sample is reproducible outside Spark (the property that
    makes a mixture auditable). ``mix_key`` = md5 over a different salt:
    ordering by it is a uniform, deterministic shuffle of the kept rows —
    consumers ``ORDER BY mix_key`` (or range-partition on it) to read a
    stable training order that interleaves domains proportionally, with
    no global sort inside this operator.
    """
    # NULL domains/keys hash as '' so rows are sampled at their weight
    # rather than silently dropped (concat with NULL would null the hash
    # and the filter would discard the row). All NULL-key rows share one
    # hash and therefore one keep/drop decision and one mix_key — callers
    # wanting per-row behavior must supply a non-null key.
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    domain_str = F.coalesce(F.col(domain_col).cast("string"), F.lit(""))
    sel_hex = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), domain_str, F.lit(":"), key_str)), 1, 8
    )
    thr = None
    for value, p in weights.items():
        branch = (domain_str == value, F.lit(_hex_threshold(p)))
        thr = F.when(*branch) if thr is None else thr.when(*branch)
    thr = (
        thr.otherwise(F.lit(_hex_threshold(default_weight)))
        if thr is not None
        else F.lit(_hex_threshold(default_weight))
    )
    kept = df.filter(sel_hex < thr)
    order_key = F.md5(F.concat(F.lit(f"{salt}#order:"), key_str))
    return kept.withColumn(out_key_col, order_key)


def weighted_sample_wor_exact(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str,
    n: int,
    strata: list[str] | None = None,
    seed: int = 42,
    weight_cap: int = 64,
) -> DataFrame:
    """Weighted sampling without replacement with a LOG-FREE integer
    score, exact in every engine (VERDICT r5 #6: no oracle-compared
    column may depend on a transcendental).

    For an INTEGER weight w, the Efraimidis-Spirakis key u^(1/w) is
    distributed as the maximum of w iid uniforms (P(max(u_1..u_w) <= x)
    = x^w). So instead of ln(u)/w doubles — whose last-ulp rounding is
    engine-specific — draw w pinned 60-bit integer uniforms per row
    (md5(purpose:seed:key:j) for j in 1..w) and score by their MAX: a
    BIGINT every engine reproduces bit-identically, ranked with a
    deterministic key tie-break. Selection probabilities are exactly
    the E-S weighted-without-replacement scheme over the capped integer
    weights.

    The price of exactness is w hashes per row, so weights are capped
    at ``weight_cap`` (and floored at 1): the caller provides weights
    already in a small integer range (ratings, priority tiers, dedup
    cluster sizes, bucketed quality scores), or accepts the cap as part
    of the contract. The draws stay MAP-ONLY — a ``transform`` over
    ``sequence(1, w)`` reduced by ``array_max``, no explode and no
    extra shuffle; the only shuffle is the per-stratum top-n window
    (global form compiles to TakeOrdered).
    """
    w_int = F.greatest(
        F.lit(1).cast("long"),
        F.least(F.col(weight_col).cast("long"), F.lit(int(weight_cap))),
    )
    prefix = f"wsx:{seed}:"
    draws = F.transform(
        F.sequence(F.lit(1).cast("long"), w_int),
        lambda j: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix),
                        F.col(key_col).cast("string"),
                        F.lit(":"),
                        j.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    out = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__score", F.array_max(draws))
    )
    if strata:
        w = Window.partitionBy(*strata).orderBy(
            F.col("__score").desc(), F.col(key_col)
        )
        return (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .drop("__score", "__rk")
        )
    return out.orderBy(F.col("__score").desc(), F.col(key_col)).limit(n).drop(
        "__score"
    )


def _pack_schema_str(df: DataFrame, out_pack_col: str) -> str:
    """Output schema for the Arrow packing folds: the input columns
    (backtick-quoted — reserved words and special characters survive)
    plus the string pack id. Shared by the strict next-fit and FFD
    paths (review r13b #4: two hand-rolled copies had already diverged
    on the quoting)."""
    return (
        ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        + f", `{out_pack_col}` string"
    )


def _shard_prefix_col(col: Column, dtype) -> Column:
    """Pack-id prefix rule as ONE Column expression shared by every
    packing path: integral fractional numerics (float/double/decimal)
    spell as integers (ADVICE r13: no '3.0-0' ids), everything else
    keeps Spark's string cast — so distinct shard values always map to
    distinct prefixes and non-numeric shard expressions (e.g. a region
    string) keep working (review r14a #4: casting the GROUPING key to
    long nulled string shards into one giant serial group).

    Review r14b #1-#3: the rule is computed Spark-side for the
    applyInPandas paths TOO (a __shard_str column read by the Python
    workers), because a Python-side str() disagrees with Spark's cast
    spelling exactly where it matters — np.float32 is not a Python
    float, Decimal('1.0') str()s with its scale, and non-integral
    doubles render '15000000.5' vs Spark's '1.50000005E7'. One
    expression, one spelling, every mode."""
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    if isinstance(dtype, (DoubleType, FloatType, DecimalType)):
        # |v| < 2^62: integral values outside long range would overflow
        # the cast to NULL under non-ANSI mode and collide distinct
        # shards on an empty prefix (review r14c #3); out-of-range
        # integral values fall through to the plain string cast, which
        # keeps prefixes distinct (just not integral-spelled).
        bound = F.lit(float(1 << 62))
        return F.when(
            (col == F.floor(col)) & (col < bound) & (col > -bound),
            F.floor(col).cast("long").cast("string"),
        ).otherwise(col.cast("string"))
    return col.cast("string")


def pack_sequences_ffd(
    df: DataFrame,
    *,
    token_col: str,
    max_tokens: int,
    key_col: str,
    n_shards: int = 32,
    out_pack_col: str = "pack_id",
    shard_expr: Column | None = None,
) -> DataFrame:
    """FIRST-FIT-DECREASING sequence packing — true bin packing with
    MULTIPLE open bins per shard, vs :func:`pack_sequences`'s single
    open bin (next-fit). Docs sort by (capped tokens DESC, key ASC) and
    each goes into the FIRST bin it fits; none fits -> open a new bin.
    FFD's classic guarantee (<= 11/9 OPT + 2/3 bins) is what the
    next-fit family cannot give: next-fit abandons a bin the moment one
    doc overflows it, so mixed-length corpora fragment (measured on the
    documents fixture: FFD packs the same tokens into fewer bins than
    both next-fit variants — pinned in tests, bin-count comparison in
    the gate's evidence).

    The per-shard fold keeps a VARIABLE set of open-bin loads — a
    data-dependent list state no window or fixed-width fold expresses —
    so this is the documented Arrow `applyInPandas` path (the
    pack_sequences strict=True discipline: shard hash bounds per-shard
    state, the per-shard loop is the Arrow batch, one shuffle total).
    A per-element `F.aggregate` fold was measured and rejected for the
    carry-save reason (simhash_df docstring): HOFs re-materialize the
    list accumulator per element.

    Every decision is integer (capped token sums vs budget, first-fit
    index), so the DuckDB mirror — a recursive CTE advancing each shard
    one doc per step, carrying the bin-load list — reproduces the
    assignment bit-for-bit. Oversized docs are capped at the budget
    (the family's shared rule: they pack alone rather than poison a
    bin).

    Output: input columns + ``out_pack_col`` = "<shard>-<bin index>".
    """
    if max_tokens < 1:
        raise ValueError("max_tokens >= 1 required")
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    # ADVICE r13 + reviews r14a #4 / r14b #1-#3: the pack-id PREFIX is
    # the shared _shard_prefix_col spelling for every mode; the
    # GROUPING key stays the raw expression so string or non-integral
    # shards group correctly.
    sharded = df.withColumn("__shard", shard_expr)
    sharded = sharded.withColumn(
        "__shard_str",
        _shard_prefix_col(F.col("__shard"), sharded.schema["__shard"].dataType),
    )

    import pandas as pd

    schema_str = _pack_schema_str(df, out_pack_col)

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.assign(
            __cap=pdf[token_col].clip(upper=max_tokens)
        ).sort_values(
            ["__cap", key_col], ascending=[False, True]
        ).reset_index(drop=True)
        shard_id = pdf["__shard_str"].iloc[0]
        loads: list[int] = []
        packs = []
        for t in pdf["__cap"]:
            t = int(t)
            for i, load in enumerate(loads):
                if load + t <= max_tokens:
                    loads[i] = load + t
                    packs.append(f"{shard_id}-{i}")
                    break
            else:
                loads.append(t)
                packs.append(f"{shard_id}-{len(loads) - 1}")
        pdf[out_pack_col] = packs
        return pdf.drop(columns=["__shard", "__shard_str", "__cap"])

    return sharded.groupBy("__shard").applyInPandas(pack_group, schema_str)


def pack_sequences(
    df: DataFrame,
    *,
    token_col: str,
    max_tokens: int,
    key_col: str,
    n_shards: int = 32,
    out_pack_col: str = "pack_id",
    shard_expr: Column | None = None,
    strict: bool = False,
    order_by_length: bool = False,
) -> DataFrame:
    """Greedy next-fit sequence packing into ``max_tokens`` budgets.

    Shard by key hash, order deterministically within shard, assign packs
    by the next-fit discipline. Pack ids are globally unique:
    (shard, local pack index). ``n_shards`` bounds per-shard state so the
    operation stays embarrassingly parallel at any scale.

    ``order_by_length=True`` orders each shard by descending (capped)
    token count before packing — the first-fit-decreasing idea adapted to
    next-fit: grouping like-sized documents reduces fragmentation on
    heterogeneous corpora (measured: 12 -> 8 packs on an alternating
    90/30 corpus at budget 200), at the price of breaking key-order
    locality inside packs. The win applies to ``strict=True``; the
    window approximation's pack COUNT is order-insensitive by
    construction (a continuous running sum never resets at a boundary),
    sorting there only changes pack composition. Same shuffle shape
    either way.

    - ``strict=False`` (default): window approximation — pack index =
      floor(exclusive running sum / budget). One shuffle, pure codegen,
      SQL-mirrorable; a pack may EXCEED the budget by up to one document
      (bounded by < 2x budget for docs <= budget).
    - ``strict=True``: exact next-fit via per-shard ``applyInPandas``
      (sequential greedy with reset). Guarantee: a pack's token sum never
      exceeds the budget, except a single oversized doc alone in its own
      pack. Same shuffle shape; the per-shard loop is the Arrow batch.
    """
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    # ADVICE r13 + reviews r14a #4 / r14b #1-#3: the pack-id PREFIX is
    # the shared _shard_prefix_col spelling for every mode; the
    # GROUPING key stays the raw expression so string or non-integral
    # shards group correctly.
    sharded = df.withColumn("__shard", shard_expr)
    sharded = sharded.withColumn(
        "__shard_str",
        _shard_prefix_col(F.col("__shard"), sharded.schema["__shard"].dataType),
    )

    if strict:
        import pandas as pd

        schema_str = _pack_schema_str(df, out_pack_col)

        def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
            if order_by_length:
                pdf = pdf.assign(
                    __cap=pdf[token_col].clip(upper=max_tokens)
                ).sort_values(
                    ["__cap", key_col], ascending=[False, True]
                ).drop(columns="__cap").reset_index(drop=True)
            else:
                pdf = pdf.sort_values(key_col).reset_index(drop=True)
            shard_id = pdf["__shard_str"].iloc[0]
            packs, pack_idx, acc = [], 0, 0
            for t in pdf[token_col]:
                t = min(int(t), max_tokens)
                if acc + t > max_tokens and acc > 0:
                    pack_idx, acc = pack_idx + 1, 0
                acc += t
                packs.append(f"{shard_id}-{pack_idx}")
            pdf[out_pack_col] = packs
            return pdf.drop(columns=["__shard", "__shard_str"])

        return sharded.groupBy("__shard").applyInPandas(pack_group, schema_str)

    capped = F.least(F.col(token_col), F.lit(max_tokens))
    order = (
        [capped.desc(), F.col(key_col)] if order_by_length else [F.col(key_col)]
    )
    w = Window.partitionBy("__shard").orderBy(*order)
    running_before = F.coalesce(
        F.sum(capped).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0.0),
    )
    local_pack = F.floor(running_before / F.lit(max_tokens))
    return sharded.withColumn(
        out_pack_col,
        F.concat_ws("-", F.col("__shard_str"), local_pack.cast("string")),
    ).drop("__shard", "__shard_str")


def epoch_upsample(
    df: DataFrame,
    *,
    domain_col: str,
    id_col: str,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Replicate/downsample rows per domain by a FRACTIONAL epoch
    factor — the data-mixing step LLM pretraining actually runs ("2.3
    epochs of wiki, 0.5 of web"): factor f means every row appears
    ``floor(f)`` times, plus one more copy with probability ``frac(f)``.

    The fractional coin is the md5 draw ``_hash_hex8(id, seed)``
    compared against a hex threshold (see the module header: exact,
    engine-portable, retry-stable — ``sample()``'s rand() is none of
    these), so the EXACT replica multiset is reproducible anywhere,
    and E[copies] = f per row with zero variance in the integer part.

    Plan shape at 100 TB: the factor table is a handful of rows —
    broadcast join; replication is ``explode(sequence(0, n-1))``
    JVM-side (guarded: sequence(0,-1) DESCENDS in Spark — the
    chunk_documents trap — so the 0-copy case maps to an explicit
    empty array, which explode drops). No shuffle at all: scan ->
    broadcast join -> explode, fully pipelined. ``copy_idx`` names
    each replica so a downstream global shuffle can interleave them.

    Output: input columns + ``copy_idx`` (long, 0-based).
    """
    rows = [
        (str(d), int(f), _hex_threshold(f - int(f))) for d, f in epochs.items()
    ]
    if any(f < 0 for _, f in epochs.items()) or default_epochs < 0:
        raise ValueError("epoch factors must be >= 0")
    spark = df.sparkSession
    factors = spark.createDataFrame(
        rows, f"{domain_col} string, __whole int, __thresh string"
    )
    d_whole = F.lit(int(default_epochs))
    d_thresh = F.lit(_hex_threshold(default_epochs - int(default_epochs)))
    u = _hash_hex8(F.col(id_col), seed, "epoch_upsample")
    n_copies = (
        F.coalesce(F.col("__whole"), d_whole)
        + F.when(u < F.coalesce(F.col("__thresh"), d_thresh), 1).otherwise(0)
    ).alias("__n")
    joined = df.join(F.broadcast(factors), domain_col, "left").select(
        *[F.col(c) for c in df.columns], n_copies
    )
    idxs = F.when(
        F.col("__n") > 0, F.sequence(F.lit(0), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    exploded = joined.select(
        *[F.col(c) for c in df.columns], F.explode(idxs).alias("__i")
    )
    return exploded.select(
        *[F.col(c) for c in df.columns], F.col("__i").cast("long").alias("copy_idx")
    )


def _hashed_bigram_buckets(
    df: DataFrame, *, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) pair per word bigram: the hashed n-gram featurizer
    shared by the DSIR family. Tokenization is the engine-wide portable
    rule (text.tokens); the bucket is ``pmod(xxhash64(bigram), B)`` —
    the fixed-size feature space that makes the model size independent
    of vocabulary (the point of hashed features at 100 TB: the weight
    table is B rows whatever the corpus holds). Map-only; docs with
    < 2 tokens contribute no rows (callers left-join them back)."""
    from ..functions.portable import portable_lower
    from .text import tokens

    toks = tokens(portable_lower(F.col(text_col)))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n - 1),
            F.slice(toks, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.explode(bigrams).alias("__gram")
    ).select(
        id_col,
        F.pmod(F.xxhash64(F.col("__gram")), F.lit(n_buckets)).alias("bucket"),
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    scale_bits: int = 20,
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed-bigram
    unigram models on the TARGET distribution (the data you want more
    of) and on the RAW pool, then score every raw document by its
    log-likelihood ratio  score(x) = Σ_grams [ ln p̂_target(b) −
    ln p̂_raw(b) ]  with Laplace-smoothed bucket probabilities
    p̂(b) = (count_b + 1) / (N + B). High scores mark documents that
    look like the target; resampling ∝ exp(score) (see
    :func:`dsir_resample`) is the paper's selection step.

    Determinism contract (lint family G): a per-doc SUM of raw doubles
    is combine-order-dependent, so each bucket weight is floored to a
    long at ``2**scale_bits`` fixed-point first — integer summation is
    exact and associative, so ``score_scaled`` is bit-stable under any
    partitioning/retry, and the derived double divides once in fixed
    order (the embedding_centroids discipline). Quantization bias is
    ≤ 2^-scale_bits per gram, deterministic.

    Plan shape at 100 TB: the raw pool featurizes ONCE (map-only
    explode, lazily checkpointed — its (id, bucket) rows feed both the
    raw-model counts and the per-doc scoring join), the target once;
    the two count aggregations shuffle at most B (~8k) integer rows
    per mapper after partial combine, and the model totals derive from
    those aggregates rather than re-scanning. The weight table (B
    rows) BROADCASTS to the scoring join, so the only corpus-sized
    shuffle is the final groupBy(id). The model never lives on the
    driver; no collect anywhere.

    Output: one row per raw document — (id_col, n_grams long,
    score_scaled long, score double); docs with < 2 tokens score 0.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets >= 2 required")
    if not (1 <= scale_bits <= 30):
        raise ValueError("scale_bits in [1, 30] required")
    for reserved in ("bucket", "__gram", "n_grams", "score_scaled", "score"):
        if reserved in raw.columns:
            raise ValueError(
                f"raw frame already has a column named {reserved!r} "
                "(reserved internal/output name)"
            )
    # rg feeds BOTH the raw bucket counts and the per-doc scoring join —
    # lazily checkpointed so the corpus tokenize+bigram pass runs once
    # (round-9 review: the unreferenced form re-featurized the pool per
    # consumer). tg has a single consumer. The model totals nt/nr are
    # DERIVED from the tiny bucket aggregates (sum of ct / cr — 1-row
    # aggs over <= B rows), never a second corpus scan.
    rg = _hashed_bigram_buckets(
        raw, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    ).localCheckpoint(eager=False)
    tg = _hashed_bigram_buckets(
        target, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    ct = tg.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")).localCheckpoint(
        eager=False
    )
    cr = rg.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr")).localCheckpoint(
        eager=False
    )
    nt = ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    nr = cr.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"))
    b = float(n_buckets)
    weights = (
        ct.join(cr, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
        )
        .join(F.broadcast(nt))
        .join(F.broadcast(nr))
        .select(
            "bucket",
            F.floor(
                (
                    F.log((F.col("ct") + 1).cast("double") / (F.col("nt").cast("double") + b))
                    - F.log((F.col("cr") + 1).cast("double") / (F.col("nr").cast("double") + b))
                )
                * F.lit(float(1 << scale_bits))
            ).cast("long").alias("w_scaled"),
        )
    )
    per_doc = (
        rg.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w_scaled").alias("score_scaled"),
        )
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("score_scaled"), F.lit(0)).cast("long").alias("score_scaled"),
            (
                F.coalesce(F.col("score_scaled"), F.lit(0)).cast("double")
                / F.lit(float(1 << scale_bits))
            ).alias("score"),
        )
    )


def dsir_resample(
    scores: DataFrame,
    *,
    n: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    seed: int = 42,
) -> DataFrame:
    """Importance resampling without replacement ∝ exp(score) via the
    Gumbel-top-k trick: key = score + Gumbel(u) = score − ln(−ln u)
    with the engine's md5-derived uniform (stable under retry, never
    ``rand()``); the n largest keys are exactly a without-replacement
    draw with probabilities ∝ exp(score) — the log-domain equivalent
    of Efraimidis–Spirakis on weight exp(score), with no overflowing
    ``exp`` anywhere. Cross-engine caveat: ``ln`` is not specified to
    be correctly rounded (JVM ``Math.log`` and a libm ``ln`` may differ
    in the last ulp), so the selection is exact modulo keys that tie
    the rank-n boundary to within 1 ulp. Compiles to TakeOrdered:
    per-partition heap + driver merge of n rows, no global sort."""
    u = _md5_uniform(f"dsir:{seed}:", F.col(id_col))
    key = F.col(score_col).cast("double") - F.log(-F.log(u))
    return (
        scores.withColumn("__gk", key)
        .orderBy(F.col("__gk").desc(), F.col(id_col))
        .limit(n)
        .drop("__gk")
    )


def temperature_allocation(
    df: DataFrame,
    domain_col: str = "source",
    *,
    alpha_halves: int = 1,
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture allocation: how many documents each
    domain/language contributes to a fixed training budget when the raw
    counts are resampled with probability proportional to ``n^alpha``
    — the multilingual-LM staple (alpha < 1 upweights low-resource
    domains; alpha = 1 is proportional; the classic setting is
    alpha = 0.5). ``domain_mixture`` APPLIES given per-domain rates;
    this operator COMPUTES the rates from the corpus itself.

    ``alpha`` is restricted to half-integers (``alpha_halves`` in
    1..4 -> alpha in {0.5, 1, 1.5, 2}) so every weight is a composition
    of IEEE-exact operations (sqrt and multiply are correctly rounded)
    — the weights, and therefore the allocation, are bit-identical in
    any IEEE-754 engine. The weight total is a FIXED-ORDER fold over
    the domain list sorted by name (``F.aggregate`` over a sorted
    array; the oracle's ``list_reduce`` over ``list(... ORDER BY)``)
    because float addition does not commute across engine-dependent
    aggregation orders. Integer targets come from largest-remainder
    (Hamilton) apportionment: floor allocations are exact, the
    leftover (an exact integer) goes to the largest fractional
    remainders with the domain name as the total-order tie-break —
    the allocation sums to ``budget`` EXACTLY by construction.

    Plan shape at 100 TB: ONE domain-keyed count aggregation over the
    corpus (map-side combine; exchange carries (domain, long) rows);
    everything after operates on |domains| rows — the sorted fold, the
    remainder window and the broadcast joins are all bounded by the
    domain-vocabulary size (tens to thousands), so the single-partition
    window over remainders is bounded-by-construction, not a
    one-reducer sort of data rows.

    Output: (domain, n_docs, target_n, keep_per_million) — the last is
    the integer application rate (``target_n * 1_000_000 / n_docs``,
    exact integer division) a sampler like ``domain_mixture`` consumes.
    """
    if not (1 <= alpha_halves <= 4):
        raise ValueError("alpha_halves must be in 1..4 (alpha in {0.5,1,1.5,2})")
    if budget < 0:
        raise ValueError("budget must be >= 0")
    counts = (
        df.groupBy(F.coalesce(F.col(domain_col), F.lit("")).alias("domain"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    n = F.col("n_docs").cast("double")
    root = F.sqrt(n)
    weight = {
        1: root,
        2: n,
        3: n * root,
        4: n * n,
    }[alpha_halves]
    weighted = counts.select("domain", "n_docs", weight.alias("w"))
    total = weighted.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("w_total")
    )
    shared = weighted.join(F.broadcast(total)).select(
        "domain",
        "n_docs",
        (F.lit(float(budget)) * F.col("w") / F.col("w_total")).alias("share"),
    )
    based = shared.select(
        "domain",
        "n_docs",
        F.floor("share").cast("long").alias("base"),
        (F.col("share") - F.floor("share")).alias("rem"),
    )
    leftover = based.agg(
        (F.lit(budget) - F.coalesce(F.sum("base"), F.lit(0))).alias("leftover")
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("domain").asc())
    ranked = based.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(leftover))
        .select(
            "domain",
            "n_docs",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("target_n"),
        )
        .withColumn(
            "keep_per_million",
            # exact INTEGER division (div), never a double round-trip —
            # target_n * 1e6 fits a long for any budget below ~9.2e12
            F.when(
                F.col("n_docs") > 0,
                F.expr("(target_n * 1000000L) div n_docs"),
            ).cast("long"),
        )
    )


def leakage_safe_split(
    assignments: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Train/eval split at the duplicate-CLUSTER level: every document
    inherits its cluster's assignment, so a near-duplicate pair can
    NEVER straddle the split — the leakage guard row-level splitting
    (``deterministic_split``) cannot give. Splitting rows independently
    leaks eval content into training whenever near-dups exist: the
    model trains on one copy and is scored on the other (the
    contamination measured by Lee et al. 2022's dedup work and the
    reason benchmark decontamination exists). The fix is structural:
    draw ONE uniform per cluster (md5 of the cluster id — the sampling
    family's portable-hash discipline, ``purpose``-salted) and fan the
    verdict out to members.

    ``assignments`` is the (id, cluster_id) artifact the dedup plane
    already produces (``graph.dedup_clusters``, ``text.winnow_dedup``);
    singleton clusters split like ordinary rows. A NULL cluster id is
    kept, not dropped (null-safe fan-out join — row conservation, the
    semantic_decontaminate discipline): all NULL-cluster rows share ONE
    verdict — ``deterministic_split`` hashes a NULL key as the empty
    string, so the whole NULL cluster gets one unbiased uniform draw
    (ADVICE r11 closed the always-last-split bias). A caller who really
    means "unclustered docs split independently" must
    ``coalesce(cluster_id, id)`` upstream — exactly what
    ``dedup_clusters`` already emits.

    Plan shape at 100 TB: one distinct on the cluster key (map-side
    combine; |clusters| <= |docs|), the md5 verdict is a projection on
    that compact frame, and the fan-out join keys on cluster_id —
    already the frame's partitioning if the caller's cluster build just
    shuffled on it, so AQE plans at most one exchange of (long, short
    string) rows. No text, no vectors, nothing quadratic.

    Output: ``assignments`` columns + ``out_col``.
    """
    clusters = assignments.select(cluster_col).distinct()
    assigned = deterministic_split(
        clusters, weights, key_col=cluster_col, seed=seed, out_col=out_col
    ).select(F.col(cluster_col).alias("__lss_c"), out_col)
    joined = assignments.join(
        assigned, F.col(cluster_col).eqNullSafe(F.col("__lss_c"))
    )
    return joined.select(*assignments.columns, out_col)
