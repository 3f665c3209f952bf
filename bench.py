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
        # Schema marker (ADVICE r15 #1): since r15 the bare ``{key}``
        # walls are END-TO-END (build + action; the build executes
        # checkpointed shuffle stages under AQE) while ``{key}_action``
        # keeps the pre-r15 action-only convention. Cross-round tooling
        # must compare bare keys only against artifacts carrying this
        # marker, and pre-r15 bare keys against ``{key}_action``.
        "wall_convention": "e2e_build_plus_action_since_r15",
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
        # r15 MEASUREMENT FIX (guide §1.4, disclosed in
        # OPTIMIZATION_r15.md): the timer now starts BEFORE build().
        # Under AQE, ``localCheckpoint(eager=False)`` executes every
        # upstream shuffle stage when the plan is converted to an RDD —
        # i.e. at CONSTRUCTION — so operators built around internal
        # checkpoints (setsim_join, simhash/minhash candidate gens) ran
        # most of their work outside the old timed region (measured:
        # setsim_join construct 48-51 s vs action 12-15 s at the 200k-doc
        # tier). ``key`` is now the honest end-to-end wall;
        # ``{key}_action`` keeps the pre-r15 action-only convention so
        # cross-round tables remain comparable.
        # ``{key}_build`` is the construction wall alone (Python-side
        # plan building plus whatever the build executes eagerly).
        walls, walls_action, walls_build = [], [], []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            walls.append(round(t2 - t0, 3))
            walls_action.append(round(t2 - t1, 3))
            walls_build.append(round(t1 - t0, 3))
        out[key] = sorted(walls)[1]
        out[f"{key}_runs"] = walls
        out[f"{key}_action"] = sorted(walls_action)[1]
        out[f"{key}_build"] = sorted(walls_build)[1]

    # same shapes as the SCALE.md probe (16 hashes / 2 bands; hamming<=3
    # at a 20-bit block)
    timed("exact_dedup", lambda: dd.exact_dedup(corpus))
    timed("minhash_neardup", lambda: dd.minhash_lsh_candidates(corpus, num_hashes=16, bands=2))
    # round 12: unified on the exact combination blocking (k=3 -> 5
    # blocks, 10 pair-of-block tables, ~25-bit keys) — same operator the
    # registry headline ships; the rotation sweep stays available but is
    # no longer the benched path (VERDICT r11 #3 A/B in SCALE.md)
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
    # SimHash block-skew telemetry (symmetric with the LSH bucket stats:
    # correlated signatures pile non-near-dups into shared prefix blocks).
    sim_stats = dd.simhash_block_stats(
        dd.simhash_df(corpus), prefix_bits=20, max_block_size=1000
    )
    out.update({f"sim_{k}": v for k, v in sim_stats.items()})
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
    10.9 s, BENCH_r05) — this tier measures BOTH variants plus the
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


def _cpu_calibration() -> dict:
    """Deterministic machine-speed probes, run before the JVM exists:

    - ``sha256_256mib_s``: hash 256 MiB of fixed bytes on ONE thread —
      C-speed, allocation-free, proportional to effective CPU frequency.
    - ``pyloop_20m_s``: a 20M-iteration pure-Python integer loop —
      interpreter dispatch speed (the driver-side cost component).

    Both are single-threaded on purpose (a parallel probe would measure
    co-tenancy, which the load stamps already cover) and sized to ~1 s
    on current hardware so the stamp costs ~2 s per run."""
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB, deterministic
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(buf)
    sha_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc += i
    loop_s = time.perf_counter() - t0
    return {
        "sha256_256mib_s": round(sha_s, 4),
        "pyloop_20m_s": round(loop_s, 4),
    }


def _calib_reference() -> dict | None:
    """Latest driver-committed BENCH_r{N}.json at the repo root — the
    reference walls + machine calibration for calib-adjusted deltas
    (VERDICT r13 #4). Self-maintaining: every round the driver commits
    its artifact, so the next run compares against it mechanically."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # ADVICE r14 #3: once the CURRENT round's own BENCH_r{N}.json
    # exists (the driver writes it before the next session opens), the
    # newest-file rule would compare a re-run against itself (machine
    # factor ~1, labeled a prior-round reference). The round being
    # produced is VERDICT.md's round + 1 (the judge writes VERDICT for
    # round N after round N's driver artifacts land), overridable via
    # SPARK_GRAFT_ROUND; skip candidates at or past it.
    cur_round = 0
    if os.environ.get("SPARK_GRAFT_ROUND"):
        cur_round = int(os.environ["SPARK_GRAFT_ROUND"])
    else:
        try:
            # case-insensitive over the first few lines, not line 1
            # only: a judge retitling "# Round 15 VERDICT" or moving
            # the number down a line must not silently disable the
            # own-round skip (review r15)
            with open(os.path.join(here, "VERDICT.md")) as fh:
                head = "".join(fh.readline() for _ in range(5))
            m = re.search(r"round (\d+)", head, re.IGNORECASE)
            if m:
                cur_round = int(m.group(1)) + 1
        except OSError:
            pass
    cands: list[tuple[int, str]] = []
    for f in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m and not (cur_round and int(m.group(1)) >= cur_round):
            cands.append((int(m.group(1)), f))
    # newest first; SKIP polluted references (review r14c #1: a
    # load-contaminated baseline's walls and single-thread probes are
    # contaminated DIFFERENTLY, so the machine factor would mis-correct
    # and every adjusted ratio would read as a spurious code delta —
    # the exact misreading this mechanism exists to prevent)
    for rnd, f in sorted(cands, reverse=True):
        try:
            with open(f) as fh:
                parsed = json.load(fh).get("parsed") or {}
        except Exception:
            continue
        if parsed.get("polluted"):
            continue
        q, c = parsed.get("queries"), parsed.get("cpu_calib")
        if not (isinstance(q, dict) and isinstance(c, dict)):
            continue
        if not all(
            isinstance(v, (int, float)) and v > 0 for v in c.values()
        ):
            continue  # review r14c #2: a null/string probe value must
            # not crash a 12-minute run at its final step
        return {
            "round": rnd,
            "file": os.path.basename(f),
            "queries": q,
            "cpu_calib": c,
            "value": parsed.get("value"),
        }
    return None


def _calib_meta(timings: dict, cpu_calib: dict) -> dict | None:
    """Calibration-normalized round-over-round deltas (VERDICT r13 #4).

    Rounds 11-13 each spent verdict space re-litigating uniform wall
    drift that the in-artifact calibration already explained (the
    assigned VM's CPU class moves between rounds; r13 ran 18-24% slower
    probes than r12). This makes the separation mechanical:
    ``machine_factor`` is the geometric mean of this run's two probe
    ratios vs the reference round's, and each headline line carries
    ``raw_ratio`` (wall / ref_wall — what a naive compare reads) next
    to ``calib_adjusted_ratio`` (raw_ratio / machine_factor — the
    code-attributable delta). A real regression moves the adjusted
    number; a VM spell moves only the raw one."""
    ref = _calib_reference()
    if ref is None:
        return None
    rc, tc = ref["cpu_calib"], cpu_calib
    try:
        f_sha = tc["sha256_256mib_s"] / rc["sha256_256mib_s"]
        f_loop = tc["pyloop_20m_s"] / rc["pyloop_20m_s"]
    except (KeyError, ZeroDivisionError, TypeError):
        # never let the calib annotation kill the run's one stdout line
        return None
    machine_factor = round((f_sha * f_loop) ** 0.5, 4)
    per_query = {}
    shared_this = shared_ref = 0.0
    for name, wall in timings.items():
        rw = ref["queries"].get(name)
        if not isinstance(rw, (int, float)) or rw <= 0:
            continue
        shared_this += wall
        shared_ref += rw
        per_query[name] = {
            "wall": wall,
            "ref_wall": rw,
            "raw_ratio": round(wall / rw, 3),
            "calib_adjusted_ratio": round(wall / rw / machine_factor, 3),
        }
    if not per_query:
        return None
    return {
        "ref_round": ref["round"],
        "ref_file": ref["file"],
        "machine_factor": machine_factor,
        "probe_ratios": {"sha256": round(f_sha, 4), "pyloop": round(f_loop, 4)},
        "per_query": per_query,
        "shared_total": round(shared_this, 3),
        "shared_ref_total": round(shared_ref, 3),
        "shared_raw_ratio": round(shared_this / shared_ref, 3),
        "shared_calib_adjusted_ratio": round(
            shared_this / shared_ref / machine_factor, 3
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # host-load stamp (VERDICT r6 #3): r6's 59 s setsim_join reading was
    # co-tenant noise (A/B band 24.7-27.7 s) and nothing in the artifact
    # could say so; a load average at start/end makes a polluted run
    # self-identifying.
    #
    # Load GUARD (VERDICT r8 #2): BENCH_r08 was taken at load1_end 5.77
    # and read a uniform +29% vs r7 — a polluted artifact that
    # masqueraded as a code regression until an idle-box re-timing
    # disproved it. A stamp alone was not enough; now a loaded host is
    # actively handled: wait up to SPARK_GRAFT_LOAD_WAIT seconds
    # (default 600) for load1 to fall below SPARK_GRAFT_LOAD_MAX
    # (default 2.5), and if it never does, run anyway but stamp
    # "polluted": true in BOTH artifacts so the number can never again
    # be read as a regression. Running-with-stamp beats refusing: the
    # driver invokes bench unattended, and no artifact is worse than a
    # self-identifying one.
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "2.5"))
    load_wait = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600"))
    waited = 0
    while os.getloadavg()[0] > load_max and waited < load_wait:
        print(
            f"# bench: load1 {os.getloadavg()[0]:.2f} > {load_max}; "
            f"waiting for quiet host ({waited}/{load_wait}s)",
            flush=True,
        )
        time.sleep(30)
        waited += 30
    load_start = round(os.getloadavg()[0], 2)
    polluted = load_start > load_max
    if polluted:
        print(
            f"# bench: PROCEEDING ON LOADED HOST (load1 {load_start} > "
            f"{load_max} after {load_wait}s) — artifact will be stamped "
            "polluted; do not read it as a regression",
            flush=True,
        )
    # Machine-speed calibration stamp (round 9): rounds 7→9 showed a
    # UNIFORM wall drift (+29%, then +10% more) across queries whose
    # code never changed, on idle hosts — the assigned VM's CPU class
    # drifts between rounds, and without a machine stamp every such
    # shift reads as a code regression until hand-adjudicated. Two
    # fixed single-thread workloads timed before Spark starts give each
    # artifact a deterministic hardware score; cross-round wall
    # comparisons should be read as wall / calib ratio. (The DuckDB
    # bench_compare ratio is the environment-neutral number either way —
    # both engines run on the same machine.)
    cpu_calib = _cpu_calibration()
    print(f"# bench: cpu_calib {json.dumps(cpu_calib)}", flush=True)

    spark = get_spark("bench")

    # Warm up the JVM + parquet footer cache outside the timed region —
    # including one full untimed pass through the SAME noop-write path
    # the timed loop uses: the very first SQL write pays one-time costs
    # (codegen infra, AQE init, noop sink registration) that otherwise
    # land on whichever query happens to run first. BENCH_r05 showed the
    # hazard: agg_stats, first in HEADLINE, was the round's only cold
    # regression (+23%) while its warm number improved — suite-position
    # cost misattributed to the query (VERDICT r5 #7).
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
        # r14 REBASELINE (VERDICT r13 #2, option c — recorded, not
        # silent): the exact-recall blocked simhash headline is accepted
        # at its measured wall ± session spread; the ≤3 s ABSOLUTE bar
        # is retired. Evidence: (1) the remaining wall decomposes into
        # an irreducible 9.07M-candidate probe + signature build +
        # per-action floor (SCALE.md round 13); (2) the prescribed
        # final attack — an Arrow mapInPandas numpy-popcount signature
        # build, byte-identical outputs — was implemented and A/B'd
        # this round: 1.6x faster in isolation at 10k docs but
        # equal-to-WORSE end-to-end and 1.5-4x slower at the 200k-doc
        # dedup tier (SCALE.md round 14), so the JVM partial-agg build
        # stays shipped; (3) the same shipped code measured 1.5-1.9 s
        # on the r14 session vs 3.6-5.7 s on the r13 session — the bar
        # was tracking VM class, not code. Going forward the line is
        # judged by calib_vs_prev.per_query.simhash_neardup
        # .calib_adjusted_ratio (~1.0 = no code regression), the
        # measure this artifact now carries for every headline line.
        "notes": (
            "simhash_neardup r14: exact-recall wall rebaselined; <=3s "
            "absolute bar retired in favor of calib_adjusted_ratio "
            "(see calib_vs_prev); Arrow numpy sig-build A/B rejected "
            "at tier scale (SCALE.md round 14)"
        ),
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
    result["cpu_calib"] = cpu_calib
    # polluted iff the host was loaded at START. The r9 clean run
    # disproved the previous load1_end clause: bench's own final tier
    # (rolling, ~2.5 min at 32 threads) leaves load1 at ~5 on a machine
    # that was at 0.26 when the run began, so an end-load condition
    # stamps EVERY artifact polluted and the flag stops carrying
    # information. load1_end stays recorded so a mid-run co-tenant is
    # still visible as an end-load far above bench's own tail (~5), but
    # the stamp keys on the one number bench cannot self-inflate.
    result["polluted"] = polluted
    # VERDICT r13 #4: calib-adjusted deltas vs the previous round's
    # committed driver artifact, so VM-class drift separates from code
    # regressions mechanically instead of by per-round adjudication.
    calib_meta = _calib_meta(result["queries"], cpu_calib)
    if calib_meta is not None:
        result["calib_vs_prev"] = calib_meta

    # Two-artifact emission (VERDICT r6 #3): BENCH_r06's final JSON line
    # outgrew the driver's tail capture as tiers were added ("parsed":
    # null — the round's headline number was unrecoverable). The FULL
    # result now goes to a committed repo file (the evidence of record),
    # and the absolute last stdout line is a COMPACT headline (<1.5 KB:
    # totals, per-query medians, per-tier totals, load stamps) that can
    # never outgrow a tail buffer again.
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
    load and calibration stamps, and the cores and table dir the run
    used. Falls back to ``fallback_line`` when it would reach 1,500
    characters."""
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
        "cpu_calib": result["cpu_calib"],
        "load1_end": result["load1_end"],
        "polluted": result["polluted"],
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
    if "calib_vs_prev" in result:
        cm = result["calib_vs_prev"]
        compact["calib_ref_round"] = cm["ref_round"]
        compact["calib_machine_factor"] = cm["machine_factor"]
        compact["calib_adj_total_ratio"] = cm["shared_calib_adjusted_ratio"]
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
    tail buffer. BOUNDED by construction: ten fixed scalar fields, no
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
            "polluted": result["polluted"],
            "detail_file": "BENCH_detail.json",
            "truncated": True,
        }
    )


if __name__ == "__main__":
    main()
