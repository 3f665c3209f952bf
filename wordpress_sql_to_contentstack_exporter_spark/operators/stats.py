"""Distribution/outlier statistics operators with integer-exact
cross-engine contracts.

Both operators here follow the registry's ULP-proof float discipline
(plans/registry.py module docstring) to its logical end: not only the
aggregates but the DECISIONS (anomaly flags, bin ids) are pure integer
arithmetic, so two engines — or two runs of the same engine with
different partition orders — can never disagree on a flag by a last-bit
float difference. That property is what makes these usable as
idempotent pipeline gates at 100 TB: re-running the job cannot flip a
previously published decision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rolling_anomaly(
    df: DataFrame,
    *,
    keys: list[str],
    order_by: list[str],
    value_col: str,
    window_rows: int = 100,
    min_points: int = 30,
    n_sigma: int = 3,
    scale: int = 1024,
) -> DataFrame:
    """Rolling z-score outlier flag with an INTEGER-ONLY decision rule.

    Per key, over the trailing ``window_rows`` rows (ordered by
    ``order_by``), flag rows where ``|x - mean| > n_sigma * std``
    (population std of the window INCLUDING the current row). The naive
    float form — windowed avg/stddev then a float compare — is both
    cross-engine ULP-fragile and run-to-run order-dependent. Instead the
    value is scaled to an exact long — ``floor(x * scale)`` with a
    power-of-two ``scale``: the multiply is exact (power-of-two scaling
    only shifts the exponent) and ``floor`` is an unambiguous function
    of the double's bits, so NO rounding mode exists anywhere for two
    engines to disagree on. (The previous ``round(x*1000)`` form was
    falsified by a driver-environment divergence in round 6: round-half
    semantics on doubles are build-dependent — VERDICT r6 #1b.) The
    rule is then cross-multiplied into integers::

        |x - s/n| > k * sqrt((n*sq - s^2)) / n
        <=>  (n*x - s)^2  >  k^2 * (n*sq - s^2)

    where ``s``/``sq``/``n`` are the window's exact sum, sum of squares
    and count. Every quantity is a long; no float exists anywhere in the
    decision. Overflow budget: |x| <= ~3e6 (scaled) at window 100 keeps
    ``(n*x - s)^2`` under 2^63; widen ``scale`` down or window up with
    that bound in mind.

    Output: input columns + ``w_n``, ``w_sum``, ``w_sumsq`` (the integer
    evidence — auditable, mergeable) and ``is_anomaly`` (false until
    ``min_points`` rows are in the window: a 3-row "window" flags noise).

    Plan shape: ONE shuffle on the keys; every window expression shares
    a single (keys, order) sort. Map-only afterwards.

    Per-row cost (r15 optimization): Spark's SlidingWindowFunctionFrame
    cannot retract rows from an aggregate buffer, so a trailing
    ``ROWS BETWEEN W-1 PRECEDING AND CURRENT ROW`` aggregate re-sums all
    W buffered rows for EVERY output row — O(W) per row, ~300 buffer
    updates/row here (3 aggregates x window 100). The sums are instead
    computed from running (unbounded-preceding) prefix aggregates, which
    Spark maintains incrementally, minus their ``lag(.., W)`` value —
    O(1) per row, bit-identical integer results (see
    ``_trailing_window_sums`` for the NULL-window equivalence argument).
    Measured at the 10M-row rolling tier: plain 66.2 -> 33.2 s.
    Overflow note: prefix sums grow with partition length, not window
    length, so the square-sum prefix accumulates as
    decimal(38,0) (no realistic partition can overflow it) and only the
    window-bounded frame difference casts back to long — the WINDOW
    budget (``(n*x - s)^2 < 2^63``) is unchanged from the sliding form.
    The plain long value-prefix needs |x_scaled| * rows_per_partition
    < 2^63 (~3e12 rows/partition at |x| <= 3e6 — beyond any physical
    partition; ANSI fails loudly, never silently wraps).
    """
    if window_rows < 1 or min_points < 2 or n_sigma < 1 or scale < 1:
        raise ValueError("window_rows>=1, min_points>=2, n_sigma>=1, scale>=1")
    if scale & (scale - 1):
        raise ValueError("scale must be a power of two (exact multiply+floor)")
    v = F.floor(F.col(value_col) * scale).cast("long")
    wo = Window.partitionBy(*keys).orderBy(*order_by)
    out = _trailing_window_sums(df.withColumn("__v", v), wo, window_rows)
    dev = out["w_n"] * out["__v"] - out["w_sum"]
    var_n2 = out["w_n"] * out["w_sumsq"] - out["w_sum"] * out["w_sum"]
    flag = (out["w_n"] >= min_points) & (dev * dev > (n_sigma * n_sigma) * var_n2)
    return out.withColumn("is_anomaly", flag).drop("__v")


def _trailing_window_sums(
    d: DataFrame, wo, window_rows: int
) -> DataFrame:
    """Append ``w_n``/``w_sum``/``w_sumsq`` — count(*), sum(__v) and
    sum(__v*__v) over the trailing ``window_rows`` rows of window spec
    ``wo`` — in O(1) per row via prefix sums, bit-identical to the
    direct sliding-frame aggregates.

    Equivalence, including NULL ``__v`` rows: a windowed ``sum`` skips
    NULLs and is itself NULL iff the frame holds no non-NULL value. The
    running non-NULL count ``__cv`` minus its lag gives the frame's
    non-NULL count exactly; when it is 0 the sums are forced to NULL,
    otherwise the difference of the (coalesced) running sums equals the
    frame sum — a running sum is NULL only before the partition's first
    non-NULL value, where the frame count is 0 anyway. ``w_n`` counts
    ALL frame rows: min(row_number, W) for a trailing frame.

    TIE-ORDER ASSUMPTION (ADVICE r15 #2): the prefix aggregates and the
    ``lag(.., W)`` references are evaluated in two Window passes over
    the SAME spec ``wo``; with duplicate order keys their equivalence
    to the one-pass sliding frame relies on both passes walking the
    partition in the same tie order. Spark guarantees this here because
    same-spec Window operators chain over ONE sort (no re-shuffle, no
    re-sort between them) — and even under a tie-permuted sort the
    RESULT would match the sliding frame evaluated in that same order
    (both forms are functions of the walk order alone). Every caller
    in this module nevertheless passes a unique tiebreak column
    (event_id) so the walk order itself is total; callers with genuine
    duplicate order keys get SOME consistent tie order, exactly like
    the sliding frame they replace (pinned by
    test_trailing_sums_with_duplicate_order_keys).
    """
    W = int(window_rows)
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zero = F.lit(0).cast("long")
    # The SQUARE-sum prefix is the overflow-critical one (x^2 amplifies
    # the per-row magnitude ~scale^2): it accumulates as decimal(38,0),
    # which holds any realistic partition (10^38 >> 2^63), and only the
    # frame DIFFERENCE — bounded by the window budget the sliding form
    # always had — casts back to long (ANSI: a genuinely over-long
    # window sum fails loudly, exactly as the old sliding long sum
    # did). The plain value prefix stays long: |x_scaled| * rows per
    # partition < 2^63 allows ~3e12 rows/partition at the documented
    # |x| <= 3e6 budget — beyond any physical partition. (r15 review
    # fix: the first cut kept the square prefix in long, which turned
    # the old window-local budget into a partition-length budget and
    # would abort the plain form on ~1e6-row partitions at budget-edge
    # values.)
    dec = "decimal(38,0)"
    d = (
        d.withColumn("__rn", F.count(F.lit(1)).over(wc))
        .withColumn("__cv", F.count("__v").over(wc))
        .withColumn("__cs", F.sum("__v").over(wc))
        .withColumn(
            "__cq", F.sum((F.col("__v") * F.col("__v")).cast(dec)).over(wc)
        )
    )

    def frame_sum(cum: str, n_in_frame, zero_lit) -> Column:
        run = F.coalesce(F.col(cum), zero_lit) - F.coalesce(
            F.lag(cum, W).over(wo), zero_lit
        )
        return F.when(n_in_frame == 0, F.lit(None).cast("long")).otherwise(
            run.cast("long")
        )

    wcv = F.col("__cv") - F.coalesce(F.lag("__cv", W).over(wo), zero)
    return (
        d.withColumn("__wcv", wcv)
        .withColumn("w_n", F.least(F.col("__rn"), F.lit(W).cast("long")))
        .withColumn("w_sum", frame_sum("__cs", F.col("__wcv"), zero))
        .withColumn(
            "w_sumsq", frame_sum("__cq", F.col("__wcv"), F.lit(0).cast(dec))
        )
        .drop("__rn", "__cv", "__cs", "__cq", "__wcv")
    )


def equi_width_histogram(
    df: DataFrame,
    *,
    value_col: str,
    n_bins: int = 20,
    scale: int = 100,
) -> DataFrame:
    """Equal-width histogram with integer bin arithmetic.

    Bin bounds come from the column's exact scaled-long min/max (one
    tiny aggregate, broadcast back — no driver round-trip), and the bin
    id is pure integer math::

        bin = (v - mn) * n_bins // (mx - mn + 1)

    which lands every value in [0, n_bins-1] with the max value in the
    last bin — no float division, no engine-specific rounding at bin
    edges (the classic histogram disagreement is a value exactly ON an
    edge landing left in one engine and right in another).

    Output: ``bin``, ``lo``/``hi`` (the bin's inclusive scaled-long
    bounds, so the histogram is self-describing), ``n``. Empty bins are
    absent (join a spine if a dense histogram is needed — gapfill's
    trick). Plan: one scan, one tiny min/max aggregate joined as a
    broadcast literal row, one groupBy(bin).
    """
    if n_bins < 1 or scale < 1:
        raise ValueError("n_bins>=1, scale>=1")
    v = F.round(F.col(value_col) * scale).cast("long")
    vals = df.select(v.alias("__v")).filter(F.col("__v").isNotNull())
    bounds = vals.agg(
        F.min("__v").alias("__mn"), F.max("__v").alias("__mx")
    )
    span = F.col("__mx") - F.col("__mn") + 1
    binned = vals.crossJoin(F.broadcast(bounds)).select(
        F.floor(((F.col("__v") - F.col("__mn")) * n_bins) / span)
        .cast("long")
        .alias("bin"),
        "__mn",
        "__mx",
    )
    span_b = F.col("__mx") - F.col("__mn") + 1
    # exact inverse of the binning rule: bin b holds v-mn in
    # [ceil(b*span/k), floor(((b+1)*span - 1)/k)] — integer ceil via
    # floor((a + k - 1)/k); floor of a correctly-rounded long/long
    # division is exact here (operands < 2^53, quotient never within an
    # ulp of a wrong integer)
    lo = F.col("__mn") + F.floor(
        (F.col("bin") * span_b + F.lit(n_bins - 1)) / n_bins
    )
    hi = F.col("__mn") + F.floor(((F.col("bin") + 1) * span_b - 1) / n_bins)
    return (
        binned.groupBy("bin", "__mn", "__mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bin", lo.alias("lo"), hi.alias("hi"), "n")
        .orderBy("bin")
    )


def fd_profile(
    specs: list[tuple[str, DataFrame, str, str]],
) -> DataFrame:
    """Functional-dependency audit: for each (name, df, lhs, rhs) spec,
    does ``lhs -> rhs`` hold? Emits per spec the number of distinct lhs
    values, how many of them map to MORE than one rhs (violations), and
    the worst fan-out — the data-profiling sibling of fk_integrity /
    row_checksum / table_diff in the migration-validation family (a
    dependency the source schema implied but the data breaks is
    exactly what a migration must find BEFORE keying a target table on
    lhs).

    Plan shape: per spec, one two-level hash aggregation —
    (lhs, rhs) partial first (map-side combine collapses duplicate
    pairs), then per-lhs distinct-rhs counts, then a 3-number summary;
    specs union into one result frame. Everything is exact integer
    counts; no window, no join, no distinct-count sketch (use
    approx_count_distinct instead when 2% error is acceptable at
    100 TB — this operator is the exact gate).

    Output: (relation, n_lhs, n_violating_lhs, max_rhs_per_lhs).
    """
    outs = []
    for name, df, lhs, rhs in specs:
        per_lhs = (
            df.select(F.col(lhs).alias("l"), F.col(rhs).alias("r"))
            .groupBy("l", "r")
            .agg(F.lit(1).alias("_one"))
            .groupBy("l")
            .agg(F.count(F.lit(1)).alias("n_rhs"))
        )
        outs.append(
            per_lhs.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_lhs"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_lhs"),
                F.max("n_rhs").alias("max_rhs_per_lhs"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def rolling_anomaly_chunked(
    df: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    tiebreak: list[str],
    value_col: str,
    window_rows: int = 100,
    min_points: int = 30,
    n_sigma: int = 3,
    scale: int = 1024,
    chunk_seconds: int = 7 * 86400,
) -> DataFrame:
    """``rolling_anomaly`` for LOW-CARDINALITY keys: the plain form's
    single (keys)-partitioned window runs |keys| tasks no matter how
    many cores exist — 5 event types means 5 tasks against 100 TB. This
    variant restores parallelism by time-chunking each key and carrying
    the previous chunk's last ``window_rows - 1`` rows into the next
    chunk as read-only history:

        chunk = floor(epoch(ts) / chunk_seconds)
        carry = last W-1 rows of (key, chunk), re-tagged chunk+1
        window over (keys, chunk) on [carry ∪ own], emit own rows only

    Two windows, both partitioned by (keys, chunk) — parallelism is
    |keys| × |chunks|, and every task touches one chunk plus a W-1
    fringe. Results are IDENTICAL to the exact form whenever each
    (key, chunk) holds >= window_rows - 1 rows (size chunks so expected
    rows-per-chunk >> W; the equivalence is pinned by test). When a
    chunk is sparser than the window, rows early in the NEXT chunk see
    a shortened history — the same bounded-staleness semantics as a
    stream start, and the ``min_points`` gate keeps a short window from
    fabricating flags (a missing-history window can only have fewer
    points, never wrong sums). History never chains across more than
    one boundary by design: carry rows are sourced from real rows only,
    so a 2-chunk-old row is visible exactly when it is within the last
    W-1 real rows of the previous chunk after that chunk received ITS
    carry — it is not, which is the documented approximation.

    Output: same contract as ``rolling_anomaly``.
    """
    if chunk_seconds < 1:
        raise ValueError("chunk_seconds >= 1 required")
    us = F.lit(int(chunk_seconds) * 1_000_000).cast("long")
    chunk = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / us).cast("long")
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    order_desc = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak]
    base = df.withColumn("__chunk", chunk)
    w_tail = Window.partitionBy(*keys, "__chunk").orderBy(*order_desc)
    carry = (
        base.withColumn("__rnd", F.row_number().over(w_tail))
        .filter(F.col("__rnd") <= window_rows - 1)
        .drop("__rnd")
        .withColumn("__chunk", F.col("__chunk") + 1)
        .withColumn("__own", F.lit(0))
    )
    own = base.withColumn("__own", F.lit(1))
    unioned = own.unionByName(carry)
    if scale & (scale - 1):
        raise ValueError("scale must be a power of two (exact multiply+floor)")
    v = F.floor(F.col(value_col) * scale).cast("long")
    # O(1)-per-row prefix-sum trailing sums (see rolling_anomaly /
    # _trailing_window_sums): the (keys, chunk) partitions are bounded
    # by construction, so the prefix-sum overflow budget is
    # rows-per-chunk-sized here, not partition-length-sized.
    wo = Window.partitionBy(*keys, "__chunk").orderBy(*order)
    out = _trailing_window_sums(unioned.withColumn("__v", v), wo, window_rows).filter(
        F.col("__own") == 1
    )
    dev = out["w_n"] * out["__v"] - out["w_sum"]
    var_n2 = out["w_n"] * out["w_sumsq"] - out["w_sum"] * out["w_sum"]
    flag = (out["w_n"] >= min_points) & (dev * dev > (n_sigma * n_sigma) * var_n2)
    return out.withColumn("is_anomaly", flag).drop("__v", "__chunk", "__own")


def choose_rolling_variant(
    n_rows: int,
    n_keys: int,
    cores: int,
    *,
    window_rows: int = 100,
    min_rows_per_key: int = 500_000,
    chunk_target_rows: int = 250_000,
) -> tuple[str, int | None]:
    """Pure decision rule for ``rolling_anomaly_auto``: plain vs chunked
    and, when chunked, how many time-chunks per key.

    The plain form's parallelism is |keys| tasks regardless of cluster
    size; the chunked form restores |keys| x |chunks| tasks but pays a
    second window pass plus the carry-union shuffle. Measured crossover
    (bench.py rolling tier, 5 keys, local[32]): at 1M rows (200k
    rows/key) plain wins (9.7 s vs 10.9 s); at 10M rows (2M
    rows/key) chunked wins — so the dispatch threshold
    ``min_rows_per_key`` sits between the two measured points at 500k.

    Rules, in order:
    - |keys| >= cores: plain (already saturates the cluster).
    - rows/key < ``min_rows_per_key``: plain (chunked overhead does not
      amortize on short per-key series).
    - else chunked, with enough chunks to give the scheduler ~4 waves
      (4 x cores / keys) but never chunks smaller than
      ``chunk_target_rows`` (each chunk must dwarf the W-1 carry
      fringe).

    Returns ("plain", None) or ("chunked", n_chunks_per_key).
    """
    n_keys = max(int(n_keys), 1)
    if n_keys >= cores:
        return ("plain", None)
    rows_per_key = n_rows / n_keys
    if rows_per_key < min_rows_per_key:
        return ("plain", None)
    floor_rows = max(chunk_target_rows, 10 * window_rows)
    max_chunks = int(rows_per_key // floor_rows)
    want = 4 * max(1, -(-cores // n_keys))  # ceil div, 4 scheduler waves
    n_chunks = min(want, max_chunks)
    if n_chunks < 2:
        return ("plain", None)
    return ("chunked", n_chunks)


def rolling_anomaly_auto(
    df: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    tiebreak: list[str],
    value_col: str,
    window_rows: int = 100,
    min_points: int = 30,
    n_sigma: int = 3,
    scale: int = 1024,
    cores: int | None = None,
    stats: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """Dispatching front door for the rolling z-score family (VERDICT r5
    #4): measures the input's shape and picks ``rolling_anomaly`` (key-
    partitioned single window) or ``rolling_anomaly_chunked`` ((key,
    time-chunk) partitioning with a W-1 carry) via
    ``choose_rolling_variant``.

    ``stats`` is (n_rows, n_keys, min_ts_us, max_ts_us); when None it is
    computed with ONE aggregate over the input (count + approx distinct
    + min/max epoch-micros — a single scan that is negligible next to
    the windowing job it sizes; callers that already know their key
    cardinality, e.g. from catalog statistics, pass it and skip the
    scan). The chunk length is the observed time span divided by the
    chosen chunk count, so the decision adapts to the data's real
    density rather than assuming a calendar unit.
    """
    if stats is None:
        us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # struct-wrap: approx_count_distinct's SECOND positional arg
            # is rsd, so passing multiple key columns positionally would
            # bind a Column where a float belongs and crash (round-6
            # code-review finding)
            F.approx_count_distinct(
                F.struct(*[F.col(k) for k in keys])
            ).alias("k"),
            F.min(us).alias("lo"),
            F.max(us).alias("hi"),
        ).first()
        stats = (row["n"], row["k"], row["lo"], row["hi"])
    n_rows, n_keys, lo_us, hi_us = stats
    if cores is None:
        cores = df.sparkSession.sparkContext.defaultParallelism
    variant, n_chunks = choose_rolling_variant(
        n_rows, n_keys, cores, window_rows=window_rows
    )
    if variant == "plain" or lo_us is None or hi_us is None or hi_us <= lo_us:
        return rolling_anomaly(
            df,
            keys=keys,
            order_by=[ts_col, *tiebreak],
            value_col=value_col,
            window_rows=window_rows,
            min_points=min_points,
            n_sigma=n_sigma,
            scale=scale,
        )
    span_s = (hi_us - lo_us) / 1_000_000
    chunk_seconds = max(1, int(span_s // n_chunks) + 1)
    return rolling_anomaly_chunked(
        df,
        keys=keys,
        ts_col=ts_col,
        tiebreak=tiebreak,
        value_col=value_col,
        window_rows=window_rows,
        min_points=min_points,
        n_sigma=n_sigma,
        scale=scale,
        chunk_seconds=chunk_seconds,
    )


def mad_outliers(
    df: DataFrame,
    *,
    keys: list[str],
    value_col: str,
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Median/MAD robust outlier flags — the breakdown-resistant
    companion to ``rolling_anomaly``'s z-score: mean/std move with the
    outliers they are supposed to find (one 1000x spike inflates std
    enough to hide nine 100x spikes), while the median and the median
    absolute deviation have a 50% breakdown point (classic robust
    statistics: Hampel's rule |x - med| > k * MAD).

    Integer-exact throughout, same discipline as the whole module:
    values scale to longs, both medians are the DISCRETE lower-rank
    element (rank floor((n-1)/2) — an actual data value, no
    interpolation float), and the decision ``dev > k * mad`` is a long
    comparison. Two aggregates + two joins on the keys; per-key value
    lists materialize on one executor each (the percentiles memory
    shape — fine for type/tenant-cardinality keys, not for user-level
    keys; the rolling family covers those).

    Output: input rows + ``vm`` (scaled), ``med``, ``mad``,
    ``is_outlier``.
    """
    vm = F.round(F.col(value_col).cast("double") * scale).cast("long")
    d = df.filter(F.col(value_col).isNotNull()).withColumn("__vm", vm)

    def lower_median(col: str) -> Column:
        arr = F.sort_array(F.collect_list(col))
        idx = (F.floor((F.count(F.lit(1)) - 1) / 2) + 1).cast("int")
        return F.element_at(arr, idx)

    med_tbl = d.groupBy(*keys).agg(lower_median("__vm").alias("med"))
    with_dev = d.join(med_tbl, keys).withColumn(
        "__dev", F.abs(F.col("__vm") - F.col("med"))
    )
    mad_tbl = with_dev.groupBy(*keys).agg(lower_median("__dev").alias("mad"))
    out = with_dev.join(mad_tbl, keys)
    return (
        out.withColumn(
            "is_outlier", F.col("__dev") > F.lit(int(k)) * F.col("mad")
        )
        .withColumnRenamed("__vm", "vm")
        .drop("__dev")
    )


def threshold_sweep(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Classifier operating-curve sweep: confusion counts (tp/fp/fn/tn)
    at every threshold of a quantized score — the one-pass primitive
    behind ROC/PR curves and threshold selection for quality-filter
    models over a full corpus.

    Scale design (the naive version sorts ALL rows through one global
    window): scores are quantized into ``n_buckets`` integer buckets by
    exact arithmetic — ``sv = floor(score * 1024)`` (power-of-two
    scale, exact in any engine), bucket width from the global [lo, hi]
    via the same overflow-safe ``span // B + 1`` rule global_rank uses
    — then ONE map-combinable aggregation produces per-bucket
    positive/negative counts, and the cumulative confusion counts run
    over at most ``n_buckets`` ROWS (a trivial single-partition window
    over 256 aggregated rows, the global_rank offsets pattern). The
    full-resolution sort never happens; the data-bearing stages are one
    partial agg.

    Output, one row per non-empty bucket, descending-threshold
    semantics ("predict positive iff score >= bucket's lower edge"):
    ``bucket`` (0..B-1), ``threshold_scaled`` (the bucket's inclusive
    lower edge on the x1024 long scale), ``tp``/``fp``/``fn``/``tn``.
    Rows with NULL score or label are dropped (documented, mirrored by
    the oracle).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets >= 2 required")
    d = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.floor(F.col(score_col).cast("double") * 1024).cast("long").alias("__sv"),
            F.col(label_col).cast("boolean").alias("__y"),
        )
    )
    bounds = d.agg(F.min("__sv").alias("__lo"), F.max("__sv").alias("__hi"))
    b = (
        d.join(F.broadcast(bounds))
        .withColumn(
            "__width", F.expr(f"((__hi - __lo) div {int(n_buckets)}) + 1L")
        )
        .withColumn("bucket", F.expr("(__sv - __lo) div __width"))
    )
    per_bucket = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("long").alias("__pos"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1)).cast("long").alias("__neg"),
        F.first("__lo").alias("__lo"),
        F.first("__width").alias("__width"),
    )
    # cumulative-from-the-top over <= n_buckets aggregated rows: the
    # single-partition window is over B rows, never the data.
    w_desc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_bucket.withColumn("tp", F.sum("__pos").over(w_desc).cast("long"))
        .withColumn("fp", F.sum("__neg").over(w_desc).cast("long"))
        .withColumn("fn", (F.sum("__pos").over(totals) - F.col("tp")).cast("long"))
        .withColumn("tn", (F.sum("__neg").over(totals) - F.col("fp")).cast("long"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("__lo") + F.col("bucket") * F.col("__width"))
            .cast("long")
            .alias("threshold_scaled"),
            "tp",
            "fp",
            "fn",
            "tn",
        )
    )


def sliding_hll_distinct(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    window_buckets: int,
    keys: list[str] | None = None,
    lg_config_k: int = 12,
    estimate_alias: str = "est_distinct",
) -> DataFrame:
    """Sliding-window distinct counting via mergeable HLL partials —
    the compute-once / merge-W-times sketch shape that makes
    windowed cardinality feasible at 100 TB.

    The exact formulation — per window of ``window_buckets`` x
    ``bucket_seconds``, sliding by one bucket, ``COUNT(DISTINCT
    value)`` — re-scans every event W times (a W-fold self-join or an
    O(W x n) window), and distinct counts cannot be partial-aggregated
    as plain counts because overlapping windows share members. The
    sketch identity ``distinct(A ∪ B) = estimate(union(sketch A,
    sketch B))`` restores map-side combinability:

    1. ONE pass buckets events and builds a per-(keys, bucket) HLL
       sketch (``hll_sketch_agg`` — Apache DataSketches, built into
       Spark 3.5+). This is the only stage that touches event rows;
       partial sketches combine map-side, so the exchange carries
       ~KB-sized sketch blobs per (keys, bucket), never events.
    2. Each bucket's sketch explodes to the ``window_buckets`` window
       ids it contributes to (``sequence`` — JVM-side), and
       ``hll_union_agg`` merges per (keys, window). Work after stage 1
       is |keys| x |buckets| x W sketch merges, INDEPENDENT of event
       count — at any corpus size the sliding pass costs the same as
       it does at sf0.1.

    Windows are labeled by their LAST bucket and only complete windows
    (those with ``window_buckets`` buckets of history inside the data's
    span) are emitted, so every estimate covers a full span. Output:
    keys + ``window_end_epoch`` (exclusive end, epoch seconds) +
    ``estimate_alias`` (long). Estimates are engine-specific (rows-only
    vs an exact SQL oracle; the error bound — ~1.6% rsd at the default
    lg_config_k=12 — is the quantitative evidence).
    """
    if window_buckets < 1:
        raise ValueError("window_buckets >= 1 required")
    keys = list(keys or [])
    us = F.lit(int(bucket_seconds) * 1_000_000).cast("long")
    # FLOOR division, not cast-truncation: pre-1970 timestamps have
    # negative epochs, and truncation would merge buckets -1 and 0 —
    # diverging from the exact oracle's // floor (round-8 review
    # finding). floor() of the double quotient is exact for
    # |epoch_us| < 2^53 (~year 2112).
    bucket = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / us
    ).cast("long")
    per_bucket = (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("__b", bucket)
        .groupBy(*keys, "__b")
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("__sk"))
    )
    # bucket b contributes to windows ending at b .. b+W-1
    exploded = per_bucket.withColumn(
        "__w",
        F.explode(
            F.sequence(
                F.col("__b"), F.col("__b") + F.lit(window_buckets - 1)
            )
        ),
    )
    merged = exploded.groupBy(*keys, "__w").agg(
        F.hll_union_agg("__sk").alias("__sk")
    )
    # complete windows only: the window ending at w spans buckets
    # [w-W+1, w]; require its first contributing bucket to be exactly
    # w-W+1 >= global min bucket — i.e. the window's full span lies
    # inside the data. Using the window's own first bucket would also
    # admit sparse-but-complete spans; the global-min guard is the
    # conservative contract (documented: leading partial windows are
    # not emitted).
    bounds = per_bucket.agg(
        F.min("__b").alias("__mn"), F.max("__b").alias("__mx")
    )
    out = (
        merged.join(F.broadcast(bounds))
        .filter(
            (F.col("__w") - F.lit(window_buckets - 1) >= F.col("__mn"))
            & (F.col("__w") <= F.col("__mx"))
        )
        .select(
            *keys,
            ((F.col("__w") + 1) * F.lit(int(bucket_seconds)).cast("long")).alias(
                "window_end_epoch"
            ),
            F.hll_sketch_estimate("__sk").cast("long").alias(estimate_alias),
        )
    )
    return out


def grouped_quantiles_scalable(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: tuple[tuple[int, int, str], ...] = (
        (1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"), (9, 10, "p90"),
    ),
) -> DataFrame:
    """EXACT grouped quantiles at unbounded group size — the scale path
    the ``percentiles`` gate's docstring deferred to approximate
    sketches (round 14): rank-select via a window sort instead of
    ``sort_array(collect_list(...))``.

    Same contract as the collect_list form: discrete LOWER-RANK
    definition — the value at 0-indexed rank ``(num * (n-1)) div den``
    of the group's NON-NULL values sorted ascending — an actual element
    of the data, so the result is bit-exact cross-engine with zero
    interpolation arithmetic. Ranks are integer ``div`` end to end.
    NULL values are dropped BEFORE ranking and ``n`` counts the
    non-null values only (review r14a #2: collect_list silently drops
    nulls while row_number ranks them, and DuckDB ``list()`` keeps
    them — three different answers unless the contract excludes NULLs
    explicitly; groups that are all-NULL vanish from the output).

    Why this scales where collect_list cannot: the window sort is a
    per-partition SPILLABLE sort after ONE hash exchange on the group
    keys — no executor ever holds a whole group as an in-memory array,
    so a billion-row group costs disk, not OOM. The group count rides
    the SAME exchange (an unordered count window over the same
    partitioning — Catalyst plans both Window operators over one
    Exchange). The rank filter then keeps <= |quantiles| rows per group
    and a final |groups|-row aggregation assembles the columns.

    One caveat mirrored from the sibling: per-group parallelism is
    sort-bounded by the partition holding the group (the skew story of
    every per-group total order); the quantile_buckets docstring's
    range-partition + cumulative-offset decomposition applies if one
    group dominates the corpus.
    """
    if not keys:
        raise ValueError("at least one grouping key required")
    # ADVICE r14 #2: an empty tuple would leave the rank filter None
    # (opaque ``filter(None)`` error) and den<1 div-by-zeroes inside
    # the SQL expr at run time — validate at build time like the keys.
    _validate_quantile_spec(quantiles)
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    wn = Window.partitionBy(*keys)
    ranked = (
        df.select(*keys, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("__rk", F.row_number().over(w) - 1)
        .withColumn("__n", F.count(F.lit(1)).over(wn))
    )
    return _quantile_rank_select(ranked, keys, value_col, quantiles)


def _validate_quantile_spec(
    quantiles: tuple[tuple[int, int, str], ...],
) -> None:
    if not quantiles:
        raise ValueError("at least one (num, den, name) quantile required")
    if any(den < 1 for _num, den, _name in quantiles):
        raise ValueError(f"quantile denominators must be >= 1: {quantiles}")


def _quantile_rank_select(
    ranked: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: tuple[tuple[int, int, str], ...],
) -> DataFrame:
    """Shared rank-target selection (round-15 review fix: this block
    was duplicated verbatim across the scalable and skewed variants —
    a change to the rank formula had to be made twice or the two plans
    would silently diverge on the shared oracle). ``ranked`` must carry
    ``__rk`` (0-indexed rank of the non-null value within its group,
    ascending) and ``__n`` (the group's non-null count); how those two
    columns were computed IS the variants' entire difference."""
    targets = {
        name: F.expr(f"((__n - 1) * {num}) div {den}")
        for num, den, name in quantiles
    }
    keep = None
    for t in targets.values():
        cond = F.col("__rk") == t
        keep = cond if keep is None else (keep | cond)
    picked = ranked.filter(keep)
    aggs = [F.max("__n").cast("long").alias("n")] + [
        F.max(F.when(F.col("__rk") == t, F.col(value_col))).alias(name)
        for name, t in targets.items()
    ]
    return picked.groupBy(*keys).agg(*aggs)


def grouped_quantiles_skewed(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: tuple[tuple[int, int, str], ...] = (
        (1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"), (9, 10, "p90"),
    ),
    n_buckets: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """EXACT grouped quantiles when ONE group dominates the corpus —
    the skew decomposition ``grouped_quantiles_scalable``'s docstring
    deferred (VERDICT r14 #2). Same contract, third physical plan:
    discrete lower-rank selection over NON-NULL values, bit-exact
    against the shared ``SQL_PERCENTILES`` oracle.

    The sibling's one caveat is that its per-group window sort is
    bounded by the partition holding the group: at 100 TB with a
    handful of event types, one group IS the corpus and one reducer
    sorts it (spillable, so it completes — but serially). This variant
    shards that sort with the device ``relational.global_rank`` already
    ships, applied per group:

    1. per-group value-range bucketing: one |groups|-row aggregate
       computes each group's scaled [min, max] and non-null count n
       (broadcast back); ``bucket = (vm - lo) div width`` with
       ``width = span div B + 1`` — pure arithmetic, deterministic (no
       sampling), overflow-safe (global_rank's round-6 width form), and
       MONOTONE in the raw value (round(v*scale) is non-decreasing in
       v), so global per-group order == (bucket, value-within-bucket)
       order even though ranking uses the raw value, not the scaled
       key.
    2. local rank: a window PARTITIONED by (keys, bucket) ordered by
       the raw value — the dominant group's sort runs B-way parallel.
    3. bucket offsets: per-(group, bucket) counts (|groups| x B rows),
       running-summed per group over buckets (a window over the tiny
       count relation), broadcast-joined back. Global 0-indexed rank
       within the group = offset + local_rank - 1; the quantile rows
       are filtered and assembled exactly as the sibling does.

    Scope bounds, stated: the offsets relation is |groups| x B rows —
    broadcast-trivial in the dominant-group regime this variant exists
    for (few huge groups); with millions of small groups use the
    sibling, whose single exchange is strictly cheaper than the three
    here (bounds agg + bucketed window + offset join). And value-range
    bucketing shards by VALUE spread, not frequency: a group whose
    values are all equal still lands in one bucket (the quantiles of a
    constant group cost nothing anyway). ``scale`` follows global_rank:
    round(v * scale) keys are exact below 2^53/scale; ties in the raw
    value share a bucket by construction, and quantile selection is
    tie-permutation-invariant (the sorted multiset is unique), so
    arbitrary row_number tie order cannot change the selected value.

    Round-15 review fixes: NULL GROUP KEYS are a real group (null-safe
    bounds/offsets joins — a plain equi-join silently dropped them
    while the sibling, ``PARTITION BY``, and every SQL oracle keep
    them), and NaN/Infinity VALUES clamp into the extreme buckets
    instead of raising ANSI CAST_OVERFLOW (``scaled_bucket_key``);
    ranking still uses the raw value, so results stay identical to the
    sibling's.
    """
    from .relational import (
        bucket_by_value_range,
        nullsafe_broadcast_join,
        scaled_bucket_key,
    )

    if not keys:
        raise ValueError("at least one grouping key required")
    _validate_quantile_spec(quantiles)
    if n_buckets < 2:
        raise ValueError("n_buckets >= 2 required")
    d = (
        df.select(*keys, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("__vm", scaled_bucket_key(value_col, scale))
    )
    b = bucket_by_value_range(
        d, keys, n_buckets, extra_aggs={"__n": F.count(F.lit(1))}
    )
    w_local = Window.partitionBy(*keys, "__bkt").orderBy(F.col(value_col).asc())
    ranked = b.withColumn("__lr", F.row_number().over(w_local))
    counts = ranked.groupBy(*keys, "__bkt").agg(F.count(F.lit(1)).alias("__c"))
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__c").over(w_off), F.lit(0)).cast("long")
    ).select(*keys, "__bkt", "__off")
    r = nullsafe_broadcast_join(
        ranked, offsets, [*keys, "__bkt"]
    ).withColumn("__rk", F.col("__off") + F.col("__lr") - 1)
    return _quantile_rank_select(r, keys, value_col, quantiles)
