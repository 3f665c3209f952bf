"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write (full column
materialization — no count() short-circuits), timed individually after a
small warm-up action that amortizes JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

#: Headline set: scan+multi-agg, 3-way join+topk, decorrelated group-concat,
#: EAV pivot, windows/sessionization, flagship ETL, dedup, text features,
#: similarity search.
HEADLINE = [
    "agg_stats",
    "top_revenue",
    "group_concat",
    "eav_pivot",
    "window_latest_event",
    "sessionize",
    "flagship_posts_export",
    "dedup_exact",
    "text_quality",
    "fingerprint",
    "minhash_neardup",
    "simhash_neardup",
    "ann_cosine_topk",
]


def dedup_tier(spark, sf_dir: str, base_docs: int, variants: int) -> dict:
    """The SCALE.md 200k-doc probe, made repeatable AND composition-pinned
    (VERDICT r4 ask #5): the corpus is exactly ``base_docs`` distinct base
    documents × ``variants`` near-identical variants each — the worst case
    for LSH bucket skew — INDEPENDENT of the fixture's row count. Round 4
    showed why: the driver regenerated /root/testdata with a different
    documents count, the old ``variants = ceil(target/n_fixture)``
    arithmetic changed the duplicate density 31×, and the tier walls moved
    with no plan change. Base texts cycle through the fixture (row_number
    % n), each salted with its base id so base docs stay distinct; the
    spec is reported alongside the walls so SCALE.md's cross-round table
    is apples-to-apples by construction."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # k: contiguous 0..n-1 rank (doc_ids need not be contiguous); the
    # window runs over fixture-scale rows only (thousands), once.
    ranked = docs.select(
        (F.row_number().over(W.orderBy("doc_id")) - 1).alias("k"), "text"
    )
    # Base texts cycle through the fixture, so when base_docs exceeds the
    # fixture's row count two bases share the same underlying text. A
    # suffix salt alone leaves them near-identical — the true near-dup
    # cluster would then scale with base_docs/n_fixture (quadratic
    # candidate volume in the reuse factor: measured 10x wall for 3x
    # docs), which is the fixture-coupling this tier exists to remove.
    # Salting every 3rd TOKEN with the base id breaks every word 3-gram
    # of a reused text, collapsing cross-base similarity to ~0 while the
    # per-base variants (identical salted base + tiny suffix) stay
    # near-dups: duplicate structure is exactly `variants` siblings per
    # base, independent of fixture size — pinned by construction.
    salted = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t, i: F.when(
                i % 3 == 0, F.concat(t, F.lit("#"), F.col("bid").cast("string"))
            ).otherwise(t),
        ),
        " ",
    )
    corpus = (
        spark.range(base_docs)
        .select(F.col("id").alias("bid"))
        .join(ranked.hint("broadcast"), F.col("bid") % F.lit(ranked.count()) == F.col("k"))
        .crossJoin(spark.range(variants).select(F.col("id").alias("v")))
        .select(
            (F.col("bid") * variants + F.col("v")).alias("doc_id"),
            F.concat(
                salted, F.lit(" variant "), F.col("v").cast("string")
            ).alias("text"),
        )
        # the fixture is one parquet file -> the synthesized corpus would
        # inherit ONE partition and single-thread the whole dedup family;
        # real corpora arrive multi-partition, so spread it explicitly
        .repartition(spark.sparkContext.defaultParallelism)
    )

    out: dict[str, float] = {
        "base_docs": base_docs,
        "variants": variants,
        "docs": base_docs * variants,
    }

    def timed(key: str, build) -> None:
        # median-of-3 (VERDICT r7 #4, upgrading r6 #6's best-of-2): the
        # r7 record showed repeated_spans runs of [14.8, 22.6] s — a 53%
        # spread that a min-of-2 masks rather than explains. The median
        # of three aligns this tier with the headline methodology: it
        # survives ONE co-tenant CPU spell without reporting the
        # best-case wall as steady state. All raw walls are recorded so
        # reproducibility is checkable (±15% across the recorded runs).
        # Each run rebuilds the plan AND clears the catalog cache first:
        # operators that persist an internal manifest (repeated_spans'
        # survivor set) would otherwise hand later runs a cache hit via
        # Spark's plan-equality cache lookup (measured 12.5 s -> 1.5 s),
        # and a cache-hit wall is not a steady-state wall. Nothing else
        # in this tier caches, so the clear has no collateral.
        #
        # The timer starts BEFORE build(): under AQE,
        # ``localCheckpoint(eager=False)`` executes every upstream
        # shuffle stage when the plan is converted to an RDD — i.e. at
        # CONSTRUCTION — so operators built around internal checkpoints
        # (setsim_join, simhash/minhash candidate gens) do most of their
        # work there (measured: setsim_join construct 48-51 s vs action
        # 12-15 s at the 200k-doc tier). ``key`` is the end-to-end wall;
        # ``{key}_build`` is the construction wall alone (Python-side
        # plan building plus whatever the build executes eagerly).
        walls, walls_build = [], []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            walls.append(round(t2 - t0, 3))
            walls_build.append(round(t1 - t0, 3))
        out[key] = sorted(walls)[1]
        out[f"{key}_runs"] = walls
        out[f"{key}_build"] = sorted(walls_build)[1]

    # same shapes as the SCALE.md probe (16 hashes / 2 bands; hamming<=3)
    timed("exact_dedup", lambda: dd.exact_dedup(corpus))
    timed("minhash_neardup", lambda: dd.minhash_lsh_candidates(corpus, num_hashes=16, bands=2))
    # exact combination blocking (k=3 -> 5 blocks, 10 pair-of-block
    # tables, ~25-bit keys) — the same operator the registry headline
    # ships
    timed("simhash_neardup", lambda: dd.simhash_neardups_blocked(corpus, max_hamming=3, combo_r=2, max_block_size=1000))
    timed("paragraph_dedup", lambda: dd.paragraph_dedup(corpus))
    # round-5 doc-corpus additions: exact-recall set-similarity join
    # (the variant corpus is its worst case — every variant family
    # shares its whole shingle set, so prefix buckets run `variants`
    # hot) and corpus-DF boilerplate removal (all-distinct lines here:
    # times the line-DF machinery at zero-removal density).
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as _tx

    timed(
        "setsim_join",
        lambda: dd.setsim_join(corpus, id_col="doc_id", text_col="text", tau_num=9, tau_den=10),
    )
    timed("boilerplate_removal", lambda: _tx.remove_boilerplate_lines(corpus))
    # Repeated-span detector (round 6): the variant corpus is verbatim-
    # repeat-dense (every base doc has `variants` near-copies), i.e. the
    # worst case for span-anchor explosion — the wall here prices the
    # word-boundary anchor density at 200k docs.
    timed("repeated_spans", lambda: _tx.repeated_spans(corpus, span=64, min_docs=2, top=100))

    # Bucket-skew telemetry (VERDICT r2 ask #8): the variant corpus is
    # deliberately boilerplate-heavy, so max_bucket records how hot the
    # hottest LSH bucket ran and capped_buckets how many a production
    # max_bucket_size=1000 cap would drop. A silent regression toward
    # giant buckets (quadratic candidate blow-up) moves these numbers
    # even when wall time still looks fine at this corpus size.
    out.update(
        dd.minhash_bucket_stats(corpus, num_hashes=16, bands=2, max_bucket_size=1000)
    )
    return out


def events_tier(spark, n_events: int) -> dict:
    """Event-analytics scale probe (VERDICT r4 ask #7): the funnel /
    retention / transitions / gapfill gate plans at ``n_events``
    synthetic events (default 1M — 10× the sf0.1 fixture), mirroring the
    dedup tier's role for the round-4 analytics family.

    The synthetic table is written to parquet with the fixture's exact
    schema and read back through the registry's own loaders, so the
    timed plans are bit-identical to the gate plans — only bigger.
    Deterministic synthesis (hash-derived types/values, no RNG state).
    Alongside each wall, a one-line plan-shape figure: the number of
    Exchange (shuffle) and parquet-scan occurrences in the formatted
    physical plan — the two counts whose growth would signal a scale
    regression (the funnel family's contract is ONE scan + stacked
    windows on one partitioning, no event self-joins). NOTE the
    formatted explain prints every node twice (tree + details), so the
    recorded figures are 2 × the node count; they are tracked for
    round-over-round DELTAS, which the duplication cannot affect.
    """
    import io
    import shutil
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES as REG

    base_dir = "/tmp/spark_graft_events_tier"
    shutil.rmtree(base_dir, ignore_errors=True)
    n_users = max(n_events // 100, 1)
    h = F.xxhash64(F.col("id"))
    h2 = F.xxhash64(F.col("id"), F.lit("t"))
    bucket = F.pmod(h2, F.lit(20))
    synth = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(h, F.lit(90 * 86400))
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("u")), F.lit(n_users)).alias("user_id"),
        F.when(bucket < 10, "view")
        .when(bucket < 14, "click")
        .when(bucket < 16, "purchase")
        .when(bucket < 18, "signup")
        .otherwise("error")
        .alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit("v")), F.lit(49000)) / 100.0 + 0.01).alias("value"),
        F.concat(F.lit('{"k": '), F.pmod(h, F.lit(1000)).cast("string"), F.lit("}")).alias("props"),
    )
    synth.write.mode("overwrite").parquet(f"{base_dir}/events.parquet")

    out: dict = {"events": n_events}
    for name in [
        "funnel",
        "retention_cohorts",
        "event_transitions",
        "gapfill",
        # round-5 event-family additions (all events-only registry plans)
        "merge_intervals",
        "session_paths",
        "rolling_anomaly",
    ]:
        df = REG[name](spark, base_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 3)
        # median-of-3 warm (VERDICT r7 #4, upgrading r6 #6's best-of-2):
        # aligned with the headline methodology so one co-tenant CPU
        # spell neither pollutes the record nor hides behind a min
        warm = []
        for _ in range(3):
            t1 = time.perf_counter()
            REG[name](spark, base_dir).write.format("noop").mode("overwrite").save()
            warm.append(round(time.perf_counter() - t1, 3))
        out[name] = {
            "wall": sorted(warm)[1],
            "wall_runs": warm,
            "cold_wall": cold,
            "exchanges": plan.count("Exchange"),
            "scans": len(re.findall(r"Scan parquet", plan)),
        }

    # Chunked rolling-window variant (SCALE.md "known boundary" made
    # code): same decisions as rolling_anomaly on dense chunks, but
    # (key, week)-partitioned — 5 keys × ~13 weeks ≈ 65 tasks instead
    # of 5. The wall delta vs out["rolling_anomaly"] IS the measured
    # cost of low-cardinality keys in the plain form.
    from wordpress_sql_to_contentstack_exporter_spark.operators.stats import rolling_anomaly_chunked
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import load_table

    ev = load_table(spark, base_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ch = rolling_anomaly_chunked(
        ev, keys=["event_type"], ts_col="ts", tiebreak=["event_id"],
        value_col="value", window_rows=100, min_points=30, n_sigma=3,
        chunk_seconds=7 * 86400,
    ).filter(F.col("is_anomaly")).select("event_id", "event_type", "w_n", "w_sum", "w_sumsq")
    t2 = time.perf_counter()
    ch.write.format("noop").mode("overwrite").save()
    out["rolling_anomaly_chunked"] = {"wall": round(time.perf_counter() - t2, 3)}

    # What the dispatcher (VERDICT r5 #4) picks at this tier, for the
    # record alongside the measured walls of both variants above.
    from wordpress_sql_to_contentstack_exporter_spark.operators.stats import choose_rolling_variant

    cores = spark.sparkContext.defaultParallelism
    variant, n_chunks = choose_rolling_variant(n_events, 5, cores)
    out["rolling_dispatch"] = {"variant": variant, "n_chunks": n_chunks, "cores": cores}

    shutil.rmtree(base_dir, ignore_errors=True)
    return out


def rolling_tier(spark, n_events: int) -> dict:
    """The rolling-window crossover probe (VERDICT r5 #4): at 1M events
    the plain (key-partitioned) window beat the chunked one (9.7 s vs
    10.9 s) — this tier measures BOTH variants plus the
    ``rolling_anomaly_auto`` dispatcher at a 10x size, demonstrating the
    crossover the chunked docstring promises and recording which side
    the dispatcher chose at each tier (the 1M decision is in
    events_tier.rolling_dispatch)."""
    import shutil

    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators.stats import (
        choose_rolling_variant,
        rolling_anomaly,
        rolling_anomaly_auto,
        rolling_anomaly_chunked,
    )
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import load_table

    base_dir = "/tmp/spark_graft_rolling_tier"
    shutil.rmtree(base_dir, ignore_errors=True)
    h = F.xxhash64(F.col("id"))
    bucket = F.pmod(F.xxhash64(F.col("id"), F.lit("t")), F.lit(20))
    synth = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(h, F.lit(90 * 86400))
        ).alias("ts"),
        F.when(bucket < 10, "view").when(bucket < 14, "click")
        .when(bucket < 16, "purchase").when(bucket < 18, "signup")
        .otherwise("error").alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit("v")), F.lit(49000)) / 100.0 + 0.01).alias("value"),
    )
    synth.write.mode("overwrite").parquet(f"{base_dir}/events.parquet")
    ev = spark.read.parquet(f"{base_dir}/events.parquet")

    kw = dict(value_col="value", window_rows=100, min_points=30, n_sigma=3)
    out: dict = {"events": n_events}

    plain = rolling_anomaly(
        ev, keys=["event_type"], order_by=["ts", "event_id"], **kw
    ).filter(F.col("is_anomaly"))
    t0 = time.perf_counter()
    plain.write.format("noop").mode("overwrite").save()
    out["plain"] = {"wall": round(time.perf_counter() - t0, 3)}

    chunked = rolling_anomaly_chunked(
        ev, keys=["event_type"], ts_col="ts", tiebreak=["event_id"],
        chunk_seconds=7 * 86400, **kw
    ).filter(F.col("is_anomaly"))
    t1 = time.perf_counter()
    chunked.write.format("noop").mode("overwrite").save()
    out["chunked"] = {"wall": round(time.perf_counter() - t1, 3)}

    cores = spark.sparkContext.defaultParallelism
    variant, n_chunks = choose_rolling_variant(n_events, 5, cores)
    auto = rolling_anomaly_auto(
        ev, keys=["event_type"], ts_col="ts", tiebreak=["event_id"], **kw
    ).filter(F.col("is_anomaly"))
    t2 = time.perf_counter()
    auto.write.format("noop").mode("overwrite").save()
    out["auto"] = {
        "wall": round(time.perf_counter() - t2, 3),
        "variant": variant,
        "n_chunks": n_chunks,
        "cores": cores,
    }

    shutil.rmtree(base_dir, ignore_errors=True)
    return out


def posts_tier(spark, n_posts: int) -> dict:
    """The SCALE.md 100k-post WordPress pipeline probe, made repeatable:
    synthetic WP tables at ``n_posts`` through the full build_posts plan
    (publish filter -> author broadcast -> decorrelated category agg ->
    featured-image join -> permalink/ISO/struct). Guards the flagship
    ETL path — including the round-2 fix that lets AQE choose the join
    strategy for the post-cardinality sides."""
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.plans import wordpress as wp
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import Catalog

    n_authors, n_cats = max(n_posts // 100, 1), 500
    ids = spark.range(n_posts)
    posts = ids.select(
        F.col("id").alias("ID"),
        (F.col("id") % n_authors + 1).alias("post_author"),
        F.timestamp_seconds(F.lit(1500000000) + F.col("id") % 100_000_000).alias("post_date"),
        F.timestamp_seconds(F.lit(1500000000) + F.col("id") % 100_000_000).alias("post_date_gmt"),
        F.concat(F.lit("Post Title "), F.col("id").cast("string")).alias("post_title"),
        F.concat(F.lit("post-"), F.col("id").cast("string")).alias("post_name"),
        F.concat(F.lit("<p>body of "), F.col("id").cast("string"), F.lit("</p>")).alias("post_content"),
        F.when(F.col("id") % 20 == 0, "draft").otherwise("publish").alias("post_status"),
        F.when(F.col("id") % 10 == 0, "page").otherwise("post").alias("post_type"),
        F.concat(F.lit("http://blog.example.com/?p="), F.col("id").cast("string")).alias("guid"),
    )
    users = spark.range(1, n_authors + 1).select(
        F.col("id").alias("ID"),
        F.concat(F.lit("author"), F.col("id").cast("string")).alias("user_login"),
    )
    terms = spark.range(1, n_cats + 1).select(
        F.col("id").alias("term_id"),
        F.concat(F.lit("Cat "), F.col("id").cast("string")).alias("name"),
        F.concat(F.lit("cat-"), F.col("id").cast("string")).alias("slug"),
    )
    tt = terms.select(
        F.col("term_id").alias("term_taxonomy_id"), "term_id",
        F.lit("category").alias("taxonomy"),
    )
    rel = (
        ids.select(F.col("id").alias("object_id"), (F.col("id") % n_cats + 1).alias("term_taxonomy_id"))
        .unionByName(
            ids.select(
                F.col("id").alias("object_id"),
                ((F.col("id") + 7) % n_cats + 1).alias("term_taxonomy_id"),
            )
        )
    )
    postmeta = (
        ids.filter(F.col("id") % 2 == 0)
        .select(
            F.col("id").alias("post_id"),
            F.lit("_thumbnail_id").alias("meta_key"),
            (F.col("id") + 1_000_000).cast("string").alias("meta_value"),
        )
    )

    cat = Catalog(spark)
    for name, df in [
        ("posts", posts), ("users", users), ("terms", terms),
        ("term_taxonomy", tt), ("term_relationships", rel), ("postmeta", postmeta),
    ]:
        cat.register(name, lambda s, _df=df: _df)

    site = wp.SiteOptions(
        permalink_structure="/%year%/%monthnum%/%postname%/",
        siteurl="http://blog.example.com",
    )
    # Two runs: the first pays this plan's one-time codegen/compile cost
    # (profiled at ~1.5-2 s — it dominated the single-shot tier and made
    # r02->r03 look like a 12% regression that a 4-run rerun showed to be
    # noise: 29k cold vs 58-66k warm). entries_per_s reports the steady
    # state — the figure that scales to an hours-long 100 TB run, where
    # JIT cost amortizes to zero — with the cold wall kept alongside so
    # startup regressions stay visible too.
    t0 = time.perf_counter()
    wp.build_posts(cat, site).write.format("noop").mode("overwrite").save()
    cold_wall = round(time.perf_counter() - t0, 3)
    t1 = time.perf_counter()
    wp.build_posts(cat, site).write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t1, 3)
    return {
        "posts": n_posts,
        "cold_wall": cold_wall,
        "wall": wall,
        "entries_per_s": round(n_posts / wall),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # host-load stamp: a load average at start and end makes a run
    # taken on a busy host self-identifying.
    load_start = round(os.getloadavg()[0], 2)

    spark = get_spark("bench")

    # Warm up the JVM + parquet footer cache outside the timed region —
    # including one full untimed pass through the SAME noop-write path
    # the timed loop uses: the very first SQL write pays one-time costs
    # (codegen infra, AQE init, noop sink registration) that otherwise
    # land on whichever query happens to run first (measured: agg_stats,
    # first in HEADLINE, read a +23% cold regression while its warm
    # number improved — suite-position cost misattributed to the query).
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    SPARK_QUERIES["count_group_by"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Two timed executions per query: the first pays the plan's one-time
    # whole-stage-codegen compile (~1 s/query, profiled: agg_stats
    # 1.46 s cold vs 0.41 s warm, dedup_exact 1.55 vs 0.28) — a fixed
    # JVM cost that amortizes to zero over a long production run.
    # "queries"/"value" report the steady-state (second) run — the number
    # that scales — with the cold first-run timings kept alongside so
    # compile-time regressions stay visible.
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    # all three warm walls per line (VERDICT r12 #4: the per-line spread
    # must be readable from the artifact so round-over-round drift can
    # be separated from VM noise without a footnote)
    timings_runs: dict[str, list] = {}
    # the median construction wall (query function call, no action) of
    # the same three warm runs, beside the end-to-end wall
    timings_build: dict[str, float] = {}
    for name in HEADLINE:
        fn = SPARK_QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings_cold[name] = round(time.perf_counter() - t0, 3)
        # median-of-3 steady state (ADVICE r4: min-of-2 systematically
        # reported best-case and biased cross-round/cross-engine ratios
        # downward; the median is still robust to ONE host-transient
        # window — this VM has documented CPU-contention spells that
        # inflate every wall ~4x — without the optimistic bias).
        warm, builds = [], []
        for _ in range(3):
            t1 = time.perf_counter()
            df = fn(spark, sf_dir)
            builds.append(round(time.perf_counter() - t1, 3))
            df.write.format("noop").mode("overwrite").save()
            warm.append(round(time.perf_counter() - t1, 3))
        timings[name] = sorted(warm)[1]
        timings_runs[name] = warm
        timings_build[name] = sorted(builds)[1]

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        # recorded so ratios are never compared across methodologies:
        # r1-r3 single-run, r4 min-of-2 warm, r5+ median-of-3 warm
        # (r6-r7 dedup/events tiers were best-of-2, median-of-3 from r8;
        # posts_tier stays 1 warm run and rolling_tier 1 run per variant
        # — both are minute-scale single measurements by design, and
        # claiming median-of-3 for them would be false)
        "methodology": (
            "headline/dedup/events tiers median-of-3 warm after 1 cold; "
            "posts_tier 1 warm run; rolling_tier 1 run per variant"
        ),
        "queries": timings,
        "queries_cold": timings_cold,
        "queries_runs": timings_runs,
        "queries_build": timings_build,
        "total_cold": round(sum(timings_cold.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sf_dir": sf_dir,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }

    # Flagship-pipeline scale tier (SPARK_GRAFT_POSTS=0 disables). Runs
    # BEFORE the dedup tier: the 200k-doc dedup corpus leaves lazily
    # checkpointed signature blocks alive until GC, and measuring the
    # posts pipeline under that memory pressure doubled its wall time
    # (15.8 s vs 1.8 s isolated).
    tier_posts = int(os.environ.get("SPARK_GRAFT_POSTS", "100000"))
    if tier_posts > 0:
        result["posts_tier"] = posts_tier(spark, tier_posts)

    # Posts-tier slope point (VERDICT r14 #5): the flagship pipeline at
    # 10x the standard tier, recorded beside it so entries/s carries a
    # second scale point every round (expect near-flat — the plan is
    # one broadcast join + one shuffled agg per post; a sublinear
    # entries/s drop means a new scale bound crept in). Both points
    # measure the PLAN through a noop sink (executor-side, like the
    # sharded keyed-JSON production path); the human-scale document
    # mode's driver collect is deliberately not in this wall — it is
    # the documented non-scale path.
    tier_posts_slope = int(os.environ.get("SPARK_GRAFT_POSTS_SLOPE", "1000000"))
    if tier_posts > 0 and tier_posts_slope > 0:
        result["posts_tier_slope"] = posts_tier(spark, tier_posts_slope)

    # Large-corpus dedup tier (SPARK_GRAFT_DEDUP_BASE=0 disables). Reported
    # separately from "queries" so the headline total stays comparable
    # across rounds. Composition is pinned (base_docs x variants), not
    # derived from the fixture's row count — see dedup_tier.
    tier_base = int(os.environ.get("SPARK_GRAFT_DEDUP_BASE", "20000"))
    tier_variants = int(os.environ.get("SPARK_GRAFT_DEDUP_VARIANTS", "10"))
    if tier_base > 0 and tier_variants > 0:
        result["dedup_tier"] = dedup_tier(spark, sf_dir, tier_base, tier_variants)

    # Event-analytics scale tier (VERDICT r4 ask #7): 1M synthetic events
    # (10x the sf0.1 fixture) through the funnel / retention / transitions
    # / gapfill gate plans, with a plan-shape confirmation each.
    tier_events = int(os.environ.get("SPARK_GRAFT_EVENTS", "1000000"))
    if tier_events > 0:
        result["events_tier"] = events_tier(spark, tier_events)

    # Rolling-window crossover tier (VERDICT r5 #4): both variants + the
    # auto dispatcher at 10x the events tier. SPARK_GRAFT_ROLLING=0 disables.
    tier_rolling = int(os.environ.get("SPARK_GRAFT_ROLLING", "10000000"))
    if tier_rolling > 0:
        result["rolling_tier"] = rolling_tier(spark, tier_rolling)

    result["load1_start"] = load_start
    result["load1_end"] = round(os.getloadavg()[0], 2)
    # Two-artifact emission: a single final JSON line once outgrew a
    # tail capture as tiers were added, losing the headline number. The
    # FULL result goes to a repo file, and the last stdout line is a
    # COMPACT headline (<1.5 KB: totals, per-query medians, per-tier
    # totals, load stamps) that cannot outgrow a tail buffer.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_detail.json")
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1)

    print(compact_line(result))


_DEDUP_OPS = (
    "exact_dedup", "minhash_neardup", "simhash_neardup",
    "paragraph_dedup", "setsim_join", "boilerplate_removal",
    "repeated_spans",
)


def _tier_total(tier: str, d: dict) -> float:
    if tier == "posts_tier":
        return round(d["cold_wall"] + d["wall"], 3)
    if tier == "dedup_tier":
        return round(sum(d[k] for k in _DEDUP_OPS if k in d), 3)
    # events/rolling tiers: nested {"wall": ...} entries
    return round(
        sum(
            v["wall"]
            for v in d.values()
            if isinstance(v, dict)
            and isinstance(v.get("wall"), (int, float))
        ),
        3,
    )


def compact_line(result: dict) -> str:
    """The last stdout line: totals, per-query medians, per-tier totals,
    load stamps, and the cores and table dir the run used. Falls back to
    ``fallback_line`` when it would reach 1,500 characters."""
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "sf_dir": result["sf_dir"],
        "cpus": result["cpus"],
        "queries": result["queries"],
        "total_cold": result["total_cold"],
        "methodology": result["methodology"],
        "load1_start": result["load1_start"],
        "load1_end": result["load1_end"],
        "detail_file": "BENCH_detail.json",
    }
    for tier in ("posts_tier", "dedup_tier", "events_tier", "rolling_tier"):
        if tier in result:
            compact[f"{tier}_total"] = _tier_total(tier, result[tier])
    if "posts_tier" in result:
        compact["posts_entries_per_s"] = result["posts_tier"]["entries_per_s"]
    if "posts_tier_slope" in result:
        compact["posts_slope_entries_per_s"] = result["posts_tier_slope"][
            "entries_per_s"
        ]
    line = json.dumps(compact)
    if len(line) >= 1500:
        # NEVER raise here: asserting after a ~12-minute run would
        # suppress the one stdout line the driver's tail-capture needs
        # (ADVICE r7). Fall back to a minimal parseable headline; the
        # full record is in the detail file either way.
        line = fallback_line(result)
    return line


def fallback_line(result: dict) -> str:
    """Minimal parseable headline for when the compact line outgrows the
    tail buffer. BOUNDED by construction: nine fixed scalar fields, no
    per-query dict — the one component that grows as gates accumulate
    (ADVICE r8). Per-query numbers live in the detail file.
    test_bench_contract pins the bound against regression."""
    return json.dumps(
        {
            "metric": result["metric"],
            "value": result["value"],
            "unit": result["unit"],
            "sf": result["sf"],
            "sf_dir": result["sf_dir"],
            "cpus": result["cpus"],
            "total_cold": result["total_cold"],
            "detail_file": "BENCH_detail.json",
            "truncated": True,
        }
    )


if __name__ == "__main__":
    main()
