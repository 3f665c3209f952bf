"""Relational operators beyond bare DataFrame method calls (SURVEY.md §2.c-d).

Plain projections/filters/joins/sorts need no wrapper — the engine's public
surface for those IS the DataFrame API, and Catalyst owns pushdown/pruning/
join selection. This module holds the composite shapes the reference
implements by hand (in SQL strings + JS dict probes) that deserve named,
scale-aware implementations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def eav_pivot(
    eav: DataFrame,
    entity_key: str,
    keys: list[str],
    *,
    key_col: str = "meta_key",
    value_col: str = "meta_value",
    require_all: bool = True,
    agg: str = "first",
) -> DataFrame:
    """Pivot an EAV (entity/attribute/value) table into fixed columns.

    Reproduces the reference's triple INNER self-join on ``wp_usermeta``
    (authors.js:22-24) — meta_key in {first_name,last_name,description}
    pivoted to columns. ``require_all=True`` preserves the observable
    inner-join semantics: an entity missing ANY key is dropped
    (README.md:77 — "author count ... different"; SURVEY.md §2 row 17).

    Scale: a single hash aggregation (one shuffle on ``entity_key``) with
    an explicit pivot value list — no second pass to discover keys, and no
    N-way self-join (the naive translation would shuffle the fact table N
    times). Map-side partial aggregation applies; skewed entities are
    handled by AQE.

    ``require_all`` tracks KEY PRESENCE, not value non-nullness: the
    reference's inner joins match on meta_key alone, so an entity with a
    present key whose meta_value is NULL is kept (with a NULL column) —
    conflating the two would drop entities MySQL returns.
    """
    filtered = eav.filter(F.col(key_col).isin(keys))
    agg_exprs = []
    for i, k in enumerate(keys):
        match = F.col(key_col) == k
        if agg == "first":
            value_agg = F.first(F.when(match, F.col(value_col)), ignorenulls=True)
        else:
            value_agg = getattr(F, agg)(F.when(match, F.col(value_col)))
        agg_exprs.append(value_agg.alias(k))
        agg_exprs.append(F.max(match).alias(f"__has_{i}"))
    pivoted = filtered.groupBy(entity_key).agg(*agg_exprs)
    if require_all:
        cond = None
        for i in range(len(keys)):
            c = F.col(f"__has_{i}")
            cond = c if cond is None else cond & c
        pivoted = pivoted.filter(cond)
    return pivoted.drop(*[f"__has_{i}" for i in range(len(keys))])


def decorrelated_group_concat(
    outer: DataFrame,
    inner: DataFrame,
    outer_key: str,
    inner_key: str,
    value: Column,
    *,
    alias: str = "group_concat",
) -> DataFrame:
    """Per-outer-row aggregate of an inner relation — the decorrelated form
    of the reference's correlated ``group_concat`` scalar subquery
    (posts.js:25; SURVEY.md §2 rows 20, 25).

    Instead of evaluating a 3-table subquery per outer row (what MySQL
    does), aggregate the inner side ONCE by its key, then left-join. The
    aggregation is a single shuffle of the inner table pre-shrunk by
    map-side combine; the join shuffles on the same key so AQE can reuse
    the partitioning. Rows with no inner matches get NULL (MySQL
    group_concat semantics), preserved here.

    Values are sorted and joined with ``,``: the sort makes the concat
    deterministic (MySQL's order is not — SURVEY.md §7 risk register),
    which both our tests and the DuckDB oracle rely on.
    """
    grouped = inner.groupBy(F.col(inner_key).alias(outer_key)).agg(
        F.collect_list(value).alias("__vals")
    )
    grouped = grouped.select(
        outer_key, F.array_join(F.array_sort("__vals"), ",").alias(alias)
    )
    return outer.join(grouped, on=outer_key, how="left")


def broadcast_lookup(
    fact: DataFrame,
    lookup: DataFrame,
    on: str | list[str] | Column,
    *,
    how: str = "left",
) -> DataFrame:
    """Small-dimension lookup join — the reference's in-memory dict probes
    (``featuredImage[data["ID"]]`` posts.js:147,157-158;
    ``catslugmapping[parent]`` categories.js:58-61).

    Explicit ``F.broadcast`` hint: the lookup side is known-small by
    construction (config maps, featured-image mapping), so even when
    statistics are missing/stale at 100 TB fact-table scale, the join is
    guaranteed shuffle-free on the fact side.
    """
    return fact.join(F.broadcast(lookup), on=on, how=how)


def hierarchy_parent_join(
    nodes: DataFrame,
    *,
    id_col: str,
    parent_col: str,
    slug_col: str,
    root_value: int = 0,
    out_col: str = "parent_slug",
    parent_nodes: DataFrame | None = None,
) -> DataFrame:
    """Depth-1 parent resolution for a self-referencing hierarchy
    (categories.js:22-24,47,57-65; cycle flag contenttypes/__master.json:13-19).

    The reference resolves parents via a per-page dict — a real bug: a
    child on a later page than its parent resolves to ``undefined``
    (SURVEY.md §2 row 22). This is the fixed semantics: a proper self
    left-join, with the reference's root convention ``[""]`` preserved via
    ``conditional_array_wrap`` at the call site.

    Scale: hierarchy dimensions (categories) are tiny relative to facts —
    broadcast the parent side; for a genuinely huge hierarchy drop the
    hint and let sort-merge handle it.

    ``parent_nodes``: resolve parents against a different (typically
    UNFILTERED) node set — a subset re-export must still find parents
    outside the subset.
    """
    parent = (parent_nodes if parent_nodes is not None else nodes).select(
        F.col(id_col).alias("__pid"), F.col(slug_col).alias("__pslug")
    )
    joined = nodes.join(
        F.broadcast(parent), nodes[parent_col] == F.col("__pid"), "left"
    )
    return joined.withColumn(
        out_col,
        F.when(F.col(parent_col) != root_value, F.col("__pslug")).otherwise(
            F.lit(None).cast("string")
        ),
    ).drop("__pid", "__pslug")


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    *,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Latest-wins snapshot upsert (MERGE-on-key): union base and update
    rows, keep the row with the greatest ``order_col`` per key — the
    batch primitive behind every incremental migration/CDC snapshot
    (the reference's read-modify-write document merges are this
    operation at per-file scale; this is the table-scale form).

    Plan shape: unionByName (schemas must match) then ONE shuffle on the
    keys for a row_number window — no join, so there is no base-vs-update
    matching step to skew; at 100 TB the cost is a single co-partitioned
    sort per key group. Ties on ``order_col`` prefer the UPDATE side
    (the incoming batch wins, matching MERGE semantics), then any
    remaining tie is deterministic via the source tag. For true SCD2
    history, skip the filter and keep all versions ordered by
    ``order_col`` — this function returns the current snapshot only.
    """
    from pyspark.sql import Window

    if set(base.columns) != set(updates.columns):
        raise ValueError(
            f"upsert_latest: schemas differ: {sorted(base.columns)} vs "
            f"{sorted(updates.columns)}"
        )
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col("__src").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    *,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two table versions on a key: per key, status
    ``added`` (in b only) / ``removed`` (a only) / ``changed`` (both,
    any compared column differs, null-safe) / ``unchanged``.

    The third leg of the migration-validation toolkit: ``row_checksum``
    says WHETHER a group diverged, ``fk_integrity`` finds broken
    references, and this localizes divergence to keys — the primitive
    behind "which rows did the migration corrupt".

    Plan shape: ONE full outer join co-partitioned on the keys (both
    sides shuffle once on the same key — no second pass per status);
    column comparison is a null-safe conjunction evaluated in codegen.
    Downstream can filter to ``status != 'unchanged'`` (pushed through
    the join) so only divergent keys ever leave the executors.
    """
    if set(a.columns) != set(b.columns):
        raise ValueError(
            f"table_diff: schemas differ: {sorted(a.columns)} vs {sorted(b.columns)}"
        )
    compare = compare_cols if compare_cols is not None else [
        c for c in a.columns if c not in keys
    ]
    la = a.alias("a")
    lb = b.alias("b")
    cond = None
    for k in keys:
        c = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = c if cond is None else cond & c
    joined = la.join(lb, cond, "full_outer")
    in_a = F.col(f"a.{keys[0]}").isNotNull()
    in_b = F.col(f"b.{keys[0]}").isNotNull()
    same = None
    for c in compare:
        eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        same = eq if same is None else same & eq
    status = (
        F.when(in_a & ~in_b, F.lit("removed"))
        .when(~in_a & in_b, F.lit("added"))
        .when(same if same is not None else F.lit(True), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    key_cols = [
        F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys
    ]
    return joined.select(*key_cols, status.alias("diff_status"))


def scd2_history(
    df: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Build a Slowly-Changing-Dimension Type-2 history from a change
    log: per key, collapse consecutive no-op updates, then assign each
    surviving version a ``[valid_from, valid_to)`` interval with
    ``is_current`` on the open-ended last version.

    This is the dimension-table answer to the reference's one-shot
    MySQL export (a migration replayed incrementally needs to know WHEN
    each attribute value held, not just its final state). Two window
    passes over ONE shuffle on the keys:

        1. lag(attrs-struct) over (keys ORDER BY ts, tiebreak):
           keep a row iff it is the first version or any attribute
           differs from the previous row (null-safe struct compare) —
           no-op updates vanish before they can split intervals;
        2. lead(ts) over the SURVIVING rows -> valid_to.

    Both windows and the final projection share the (keys) partitioning,
    so Catalyst sorts once and plans a single exchange. The null-safe
    ``<=>`` struct comparison makes NULL attribute values first-class
    (NULL -> NULL is a no-op, NULL -> value is a change) — the hazard
    naive ``!=`` SCD builds get wrong.

    ``tiebreak`` columns (default none) deterministically order
    same-timestamp changes; pass a unique id when the change log can
    carry ties, or interval boundaries become run-order-dependent.
    """
    tiebreak = list(tiebreak or [])
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    cur = F.struct(*[F.col(a) for a in attrs])
    changed = df.withColumn("__prev", F.lag(cur).over(w)).filter(
        F.col("__prev").isNull() | ~F.col("__prev").eqNullSafe(cur)
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        changed.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(F.col(ts_col)).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__prev")
    )


def join_blowup_profile(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    top: int = 20,
) -> DataFrame:
    """Pre-flight skew profiler for an equi-join: per key, both sides'
    row counts and the exact pair fan-out ``c_left * c_right`` the join
    would emit — the diagnostic to run BEFORE a 100 TB fact-fact join,
    because one hot key (the NULL-surrogate, the default user, the
    boilerplate doc) turns a linear join into a quadratic one, and
    finding that out from a straggling reducer at hour three is the
    expensive way.

    Plan shape: each side collapses to (key, count) via partial-agg'd
    hash aggregation BEFORE any join — the join operates on aggregated
    frames (|distinct keys| rows, not input rows), and top-k compiles
    to TakeOrdered. Total shuffle: two count aggregations + one
    aggregated-frame join; input row counts never meet each other.

    Output: (key, c_left, c_right, pairs), ``top`` rows by pairs desc
    (key asc tie-break, deterministic).
    """
    cl = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count(F.lit(1)).alias("c_left")
    )
    cr = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count(F.lit(1)).alias("c_right")
    )
    return (
        cl.join(cr, "key")
        .withColumn("pairs", F.col("c_left") * F.col("c_right"))
        .orderBy(F.col("pairs").desc(), F.col("key").asc())
        .limit(top)
    )


def global_rank(
    df: DataFrame,
    *,
    value_col: str,
    tiebreak: list[str],
    n_buckets: int = 1024,
    scale: int = 1000,
    out_col: str = "rank",
) -> DataFrame:
    """EXACT global dense row-number over (value, tiebreak) — without
    the single-partition global window that caps the naive
    ``row_number() OVER (ORDER BY ...)`` at one reducer for the whole
    dataset (the WindowExec "No Partition Defined" killer).

    Classic two-phase distributed rank, made an operator:

    1. value-range bucketing: scale the value to a long, compute the
       global [min, max] with one tiny aggregate (broadcast back), and
       assign each row ``bucket = (vm - min) * B // (max - min + 1)``
       — pure arithmetic, deterministic, no sampling (Spark's own
       ``repartitionByRange`` samples, which is run-dependent and can
       never be an oracle contract).
    2. per-bucket local rank: a window PARTITIONED by bucket — B-way
       parallel — ordered by (vm, tiebreak).
    3. bucket offsets: per-bucket counts (B rows), running-summed on a
       single partition of B rows (trivial), broadcast-joined back.
       ``rank = offset + local_rank``.

    NULL handling: rows with a NULL ``value_col`` are DROPPED, not
    ranked — a plain ``row_number() OVER (ORDER BY ...)`` would rank
    them (NULLS FIRST in Spark), so this is NOT a drop-in window
    replacement for NULL-bearing columns; filter or impute upstream.
    (The oracle applies the same ``IS NOT NULL`` filter, so the gate
    tests exactly the semantics documented here.)

    Over the non-NULL rows the result equals the plain global window
    row-for-row — which is exactly what the oracle runs — but the
    heavy sort shards across ``n_buckets`` reducers. Skewed value distributions concentrate
    rows in few buckets (bucketing is by VALUE range, not frequency);
    the mitigation is more buckets or pre-scaling, both knobs here.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets >= 2 required")
    # scale=1 declares the value column integral: cast straight to long
    # with NO double roundtrip — round(cast(x as double)) silently
    # collapses integer keys >= 2^53 (e.g. wide Z-order/Morton keys up
    # to 62 bits), which would let rows with distinct keys tie and the
    # tiebreak order diverge from an exact-integer oracle. Fractional
    # value columns must use scale > 1 (the double path, documented
    # lossy above 2^53 / scale).
    if scale == 1:
        # fail loudly on fractional dtypes: cast-to-long TRUNCATES, so a
        # float column passed with scale=1 would silently collapse all
        # values in (-1, 1) to 0 and fall through to tiebreak order
        # (ADVICE r7). Integral-typed columns only; fractional columns
        # pick a scale > 1.
        vtype = dict(df.dtypes)[value_col]
        integral = {"tinyint", "smallint", "int", "bigint"}
        if vtype not in integral:
            raise ValueError(
                f"global_rank(scale=1) declares {value_col} integral, but its "
                f"dtype is {vtype} — cast-to-long would truncate fractional "
                "values; pass scale > 1 for fractional columns"
            )
        vm = F.col(value_col).cast("long")
    else:
        # NaN/Infinity-safe (round-15 review fix: the bare cast raised
        # ANSI CAST_OVERFLOW on one NaN anywhere). global_rank RANKS by
        # __vm, so values scaled beyond the clamp tie and fall to the
        # tiebreak — the same documented lossiness class as the 2^53
        # precision bound, now crash-free for non-finite doubles.
        vm = scaled_bucket_key(value_col, scale)
    d = df.filter(F.col(value_col).isNotNull()).withColumn("__vm", vm)
    # the shared bucket device (keys=[] -> one global bounds row); its
    # width = span//B + 1 form is the round-6 overflow-safe spelling —
    # (vm-lo)*B/(span+1) would overflow int64 whenever the scaled span
    # exceeds 2^63/B, exactly the large-value regime this operator
    # exists for. Extracted r15 so the formula lives ONCE.
    b = bucket_by_value_range(d, [], n_buckets)
    w_local = Window.partitionBy("__bkt").orderBy(
        F.col("__vm").asc(), *[F.col(c).asc() for c in tiebreak]
    )
    ranked = b.withColumn("__lr", F.row_number().over(w_local))
    counts = ranked.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__c"))
    w_off = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__c").over(w_off), F.lit(0)).cast("long")
    ).select("__bkt", "__off")
    out = ranked.join(F.broadcast(offsets), "__bkt").withColumn(
        out_col, (F.col("__off") + F.col("__lr")).cast("long")
    )
    return out.drop("__bkt", "__lr", "__off", "__lo", "__hi", "__vm", "__width")


# Clamp bound for the scaled bucket key: < 2^53, so it is exact in a
# double AND casts to long without ANSI overflow. Values scaled beyond
# it (and +/-Infinity, and NaN — which Spark's double ordering places
# ABOVE +Infinity, so the TOP clamp keeps monotonicity) collapse into
# the extreme buckets; bucketing only needs a NON-DECREASING key, and
# the operators that rank by the raw value stay exact under clamping.
_BUCKET_CLAMP = 9.0e15


def scaled_bucket_key(value_col: str, scale: int):
    """NaN/Infinity/overflow-safe monotone long bucket key (round-15
    review fix: ``round(v * scale).cast('long')`` raises ANSI
    CAST_OVERFLOW on one NaN anywhere in the corpus). ``greatest`` and
    ``least`` order doubles the same way sorts do (NaN greatest), so
    NaN and +Infinity clamp to the top key, -Infinity to the bottom —
    preserving the non-decreasing property bucketing requires."""
    v = F.col(value_col).cast("double") * scale
    clamped = F.least(F.greatest(v, F.lit(-_BUCKET_CLAMP)), F.lit(_BUCKET_CLAMP))
    return F.round(clamped).cast("long")


def nullsafe_broadcast_join(
    left: DataFrame, right: DataFrame, keys: list[str]
) -> DataFrame:
    """Broadcast equi-join where NULL keys MATCH (``eqNullSafe``) —
    the join the skew decompositions need to re-attach per-group
    bounds/offsets without silently dropping the NULL-key group that
    ``groupBy``/``PARTITION BY`` (Spark and every SQL oracle) treats as
    a real group (round-15 review fix). The right side's key columns
    are renamed before the join so self-derived aggregates never hit
    ambiguous-attribute resolution, then dropped."""
    if not keys:
        # keyless caller (global_rank): the right side is ONE global
        # row — a plain broadcast cross join, no condition needed
        return left.join(F.broadcast(right))
    renamed = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        *[c for c in right.columns if c not in keys],
    )
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(F.col(f"__r_{k}"))
        cond = c if cond is None else (cond & c)
    return left.join(F.broadcast(renamed), cond).drop(
        *[f"__r_{k}" for k in keys]
    )


def bucket_by_value_range(
    d: DataFrame,
    keys: list[str],
    n_buckets: int,
    *,
    extra_aggs: dict | None = None,
) -> DataFrame:
    """The shared per-group value-range bucket device (round-15 review
    fix: this scaffold was copy-pasted across global_rank and both skew
    decompositions). ``d`` must carry ``__vm`` (a monotone long key, see
    :func:`scaled_bucket_key`); appends ``__bkt`` in [0, n_buckets) via
    one broadcast [min, max] bounds aggregate per group —
    ``width = span div B + 1`` keeps every intermediate <= span (the
    overflow-safe form global_rank established in round 6). Extra
    per-group aggregates (e.g. the non-null count the quantile variant
    needs) ride the same bounds frame via ``extra_aggs``."""
    aggs = [F.min("__vm").alias("__lo"), F.max("__vm").alias("__hi")] + [
        expr.alias(name) for name, expr in (extra_aggs or {}).items()
    ]
    bounds = d.groupBy(*keys).agg(*aggs)
    return (
        nullsafe_broadcast_join(d, bounds, keys)
        .withColumn(
            "__width", F.expr(f"((__hi - __lo) div {int(n_buckets)}) + 1L")
        )
        .withColumn("__bkt", F.expr("(__vm - __lo) div __width"))
    )


def grouped_topk_skew(
    df: DataFrame,
    *,
    keys: list[str],
    value_col: str,
    tiebreak: list[str],
    k: int,
    n_buckets: int = 64,
    scale: int = 1000,
    rank_col: str = "rk",
) -> DataFrame:
    """EXACT per-group top-k by (value DESC, tiebreak ASC) when one
    group dominates — the ``row_number() OVER (PARTITION BY keys ORDER
    BY value DESC)`` answer without serializing the dominant group's
    sort on the one reducer holding it (round 15; same skew story as
    ``grouped_quantiles_skewed``, same ``global_rank`` bucket device).

    1. per-group value-range bucketing (scaled [min, max] from one
       tiny broadcast aggregate; ``width = span div B + 1`` — the
       overflow-safe form above). Bucketing is MONOTONE in the raw
       value, so every global top-k row is also in its own bucket's
       local top-k: fewer than k rows precede it group-globally, hence
       fewer than k precede it within its bucket.
    2. local top-k: a window PARTITIONED by (keys, bucket) ordered by
       (value DESC, tiebreak ASC), keep local rank <= k — the dominant
       group's sort runs B-way parallel and emits <= B*k candidates.
    3. final rank: the same window PARTITIONED by keys alone over the
       candidate set — per group <= B*k rows, bounded by construction,
       so this second sort never sees corpus-scale data.

    NULL VALUES are dropped before ranking (the global_rank contract —
    a plain window would rank them NULLS-FIRST into the top-k); NULL
    GROUP KEYS are a real group, exactly as ``PARTITION BY`` treats
    them (null-safe bounds join — round-15 review fix). NaN/Infinity
    values clamp into the extreme buckets (see ``scaled_bucket_key``)
    and rank by Spark's raw double ordering, same as the naive window.
    Determinism requires ``tiebreak`` to reach a total order within
    equal values (the oracle's ORDER BY is the same spelling). ``scale``
    only affects BUCKETING (exact below 2^53/scale; a lossy bucket key
    still yields correct results as long as rounding stays monotone,
    which it is — ranking itself uses the raw value).
    """
    if not keys:
        raise ValueError("at least one grouping key required")
    if k < 1:
        raise ValueError("k >= 1 required")
    if n_buckets < 2:
        raise ValueError("n_buckets >= 2 required")
    d = df.filter(F.col(value_col).isNotNull()).withColumn(
        "__vm", scaled_bucket_key(value_col, scale)
    )
    b = bucket_by_value_range(d, keys, n_buckets)
    order = [F.col(value_col).desc()] + [F.col(c).asc() for c in tiebreak]
    w_local = Window.partitionBy(*keys, "__bkt").orderBy(*order)
    cand = b.withColumn("__lr", F.row_number().over(w_local)).filter(
        F.col("__lr") <= k
    )
    w_final = Window.partitionBy(*keys).orderBy(*order)
    out = cand.withColumn(rank_col, F.row_number().over(w_final)).filter(
        F.col(rank_col) <= k
    )
    return out.drop("__vm", "__lo", "__hi", "__width", "__bkt", "__lr")
