"""Per-query Spark vs DuckDB timing comparison on the same parquet data.

DuckDB is the single-node columnar reference point (the actual reference
delegates its relational work to MySQL, which has no comparable columnar
path). Spark on tiny local data pays fixed JVM/scheduling overhead per
action — the interesting number at sf0.1 is the *marginal* gap on the
heavier queries, and whether it shrinks as data grows. Usage:

    python tools/bench_compare.py [sf_dir] [--runs N]

With ``--runs N`` (the artifact convention since round 15 — VERDICT r14
#3) the whole compare executes N times in one session and the run whose
``_overall.overall_ratio`` is the MEDIAN is emitted as the artifact
body, with every run's ratio recorded in ``_meta.runs_this_session`` —
the same median-of-N discipline the headline tiers use, so artifact
selection is mechanical, never a per-round judgment call.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def one_run(spark, con, sf_dir: str) -> dict:
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import ORACLE_SQL, SPARK_QUERIES
    from bench import HEADLINE

    # Steady-state comparison: both engines run each query twice and the
    # second (warm) run is timed — Spark's first run pays ~1 s of
    # whole-stage-codegen compile per plan, a fixed cost that amortizes
    # to zero on a long production job (cold timings reported alongside).
    # Headline set plus the round-4 heavy oracle-backed text operators —
    # paragraph dedup and the vocabulary/TF-IDF aggregations do real work
    # in BOTH engines (string splitting, window/agg over exploded rows),
    # so their ratios are marginal-cost comparisons, not JVM-floor noise.
    compared = HEADLINE + [
        "paragraph_dedup", "token_topk", "tfidf_topterms", "gapfill", "percentiles",
        # round-5 additions doing real two-engine work: flat-map chunking
        # (string splitting both sides), bucketed inequality join vs
        # DuckDB's IEJoin, windowed upsert vs QUALIFY
        "doc_chunks", "range_join_bucketed", "upsert_snapshot",
        # round-5 session-2 additions doing real two-engine work:
        # trigram/bigram counting with joins-on-aggregates, corpus-DF
        # boilerplate removal, gaps-and-islands windows, SCD2 windows,
        # deletion-neighborhood + prefix-filter similarity joins,
        # gram-keyed source overlap, CEP regex sequences
        "pmi_collocations", "ngram_lm", "inverted_index",
        "boilerplate_removal", "merge_intervals", "scd2_history",
        "fuzzy_pairs", "setsim_join", "source_overlap", "event_pattern",
        "record_linkage", "time_rollup",
        # round-6 additions with real two-engine work: salted join vs
        # DuckDB's plain hash join, MAD medians vs list-rank selection
        "salted_join", "robust_anomaly",
        # round-7 additions: distributed bucketed rank file assignment
        # vs DuckDB's global row_number (both interleave 600k Morton
        # keys), bloom-pruned broadcast join vs plain hash join, and
        # sha256 manifest hashing on both sides
        "zorder_layout", "bloom_prune_join", "shard_manifest",
        # batch-2 round-7 additions: numpy partial Gramians vs DuckDB's
        # 1M-row struct-unnest self-join; bucketed-agg threshold curve
        # vs window mirror; suffix-explode blocklist vs EXISTS/LIKE
        "embedding_gram", "threshold_sweep", "domain_blocklist",
        "skew_diagnostics",
        # round-10 additions with real two-engine work: bigram-LM train
        # + score (joins-on-aggregates both sides), corpus token-DF
        # rarity join, regex chain + NFC normalization (unicodedata vs
        # utf8proc), brute-force benchmark cosine scan
        "lm_perplexity", "rare_token_ratio", "unicode_clean",
        "semantic_decontaminate", "curation_gate",
        # round-11 additions with real two-engine work: md5 winnowing
        # fingerprint pair detection and the md5 MinHash band pipeline —
        # both engines hash every gram/shingle, so these are genuine
        # marginal-cost rows (the heavier iterative compositions
        # winnow_dedup/leakage_safe_split are measured in SCALE.md
        # instead: ~20 s per engine per run is too much to pay four
        # times per compare for a parity result)
        "winnow_overlap", "minhash_portable",
        # round-12 portable-ANN additions: BOTH engines re-train the
        # exact-contract quantizers inside the measured run (Spark:
        # driver-looped update jobs; DuckDB: the mirrored CTE chains),
        # so these are symmetric marginal-cost rows, not JVM-floor
        # noise; soft_dedup_weights is one hash window on both sides
        "kmeans_lloyd", "ann_lsh_portable", "ann_ivf_portable",
        "ann_pq_portable", "soft_dedup_weights",
        # round-13 additions: the IVF+PQ composition (both engines run
        # coarse chain + subspace chains), the three rows-only->oracle
        # conversions (unrolled peel, recursive chunk walk, portable
        # sweep — real work both sides). curation_capstone_soft is
        # measured in _steady_state like the capstone (same five-stage
        # composition; four timed runs would cost minutes for parity).
        "ann_ivfpq_portable", "kcore", "sentence_chunks",
        "dedup_calibration",
        # round-14 addition: rank-select exact quantiles — symmetric
        # marginal cost (both engines sort every group's values; the
        # shared oracle is the percentiles mirror). curation_pipeline
        # (also converted r14) follows the capstone pattern instead:
        # measured once per engine in _steady_state, since its
        # five-stage composition costs too much to time four times for
        # a parity row.
        "percentiles_scalable",
        # round-15 additions, all symmetric marginal cost: the skew
        # decompositions (both engines sort/rank every group's values —
        # the oracle IS the naive window), the sharded export (both
        # engines render + sha256 every entry line), and the manifest
        # diff (both engines normalize + sha256 every doc, then
        # distinct + full outer join)
        "percentiles_skew", "grouped_topk_skew", "posts_export_sharded",
        "manifest_diff",
    ]
    out = {}
    # warm DataFrame objects kept for the steady-state loop below, so
    # gates measured in BOTH places don't pay their (expensive,
    # driver-looped) build a third time
    warm_dfs = {}
    for name in compared:
        t0 = time.perf_counter()
        SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark_cold = time.perf_counter() - t0
        t1 = time.perf_counter()
        df_warm = SPARK_QUERIES[name](spark, sf_dir)
        df_warm.write.format("noop").mode("overwrite").save()
        spark_s = time.perf_counter() - t1
        warm_dfs[name] = df_warm
        duck_s = None
        if name in ORACLE_SQL:
            con.execute(ORACLE_SQL[name]).fetchall()
            t0 = time.perf_counter()
            con.execute(ORACLE_SQL[name]).fetchall()
            duck_s = time.perf_counter() - t0
        entry = {
            "spark_s": round(spark_s, 3),
            "spark_cold_s": round(spark_cold, 3),
        }
        if duck_s is not None:
            entry["duckdb_s"] = round(duck_s, 3)
            entry["ratio"] = round(spark_s / duck_s, 1) if duck_s else None
        else:
            # rows-only queries (hash-based, no oracle) are marked, not
            # emitted as null-valued comparison rows — the overall ratio
            # must be computable without null-filtering (VERDICT r5 #8)
            entry["comparable"] = False
        out[name] = entry

    # --- Steady-state A/B (VERDICT r10 ask #5) ---
    # semantic_decontaminate and curation_gate materialize a lazy
    # localCheckpoint per BUILD; the loop above rebuilds each query for
    # its warm run, so their warm walls re-pay that materialization — a
    # harness rebuild cost, not a steady-state query cost. Two A/B rows:
    #  * reused_plan_s: second noop write of the SAME DataFrame object
    #    (checkpoints already materialized) — the long-job steady state.
    #  * semantic_decontaminate_prenorm: unit vectors stored upstream
    #    (one-time untimed prep — the operator docstring's recommended
    #    production shape), prenormalized=True so no checkpoint exists
    #    at all; DuckDB mirrors with dot-product-only
    #    SQL over the same prenormalized fixture.
    import os
    import tempfile

    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim

    steady = {}
    for name in ("semantic_decontaminate", "curation_gate"):
        df = SPARK_QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        reused = time.perf_counter() - t0
        row = {
            "reused_plan_s": round(reused, 3),
            "rebuilt_warm_s": out[name]["spark_s"],
            "duckdb_s": out[name].get("duckdb_s"),
        }
        if row["duckdb_s"]:
            row["steady_ratio"] = round(reused / row["duckdb_s"], 1)
        steady[name] = row

    # Round-12 capstone (VERDICT r11 #5): measured ONCE per engine here
    # rather than in the compare loop — the same exclusion rationale as
    # winnow_dedup in round 11 (the five-stage composition runs the md5
    # fingerprint pipeline twice per engine; four timed runs would cost
    # minutes for a parity result). reused_plan_s is the long-job steady
    # state (all internal checkpoints materialized by the first write).
    # the BUILD is part of the measured wall: winnow_dedup's label
    # propagation and the excision checkpoints run jobs at construction
    # time, so timing only the final write would claim ~2 s for a ~60 s
    # composition
    # One protocol for every cold/reused/warm-duck steady row (review
    # r13c #4: the capstone and ANN blocks were verbatim copies, and the
    # ANN gates re-measured cold walls the compared loop had already
    # paid — minutes of duplicated codebook/centroid training).
    # Capstones are NOT in `compared` (deliberate exclusion), so their
    # cold wall — build included, since winnow_dedup's label propagation
    # and the excision checkpoints run jobs at construction — is
    # measured here; the portable ANN gates (VERDICT r12 #7) reuse the
    # compared loop's recorded cold wall and only pay the reused-plan
    # write here.
    # kcore added round 14 (VERDICT r13 #5): the newest driver-loop
    # gate gets the same recorded steady-state row the ANN gates got in
    # r13 — its fixture-scale cold ratio (~57x) is a per-round peel
    # driver-action floor, and reused_plan_s is the number that shows
    # what remains once the peel's localCheckpoints are materialized.
    for name in (
        "curation_capstone", "curation_capstone_soft", "curation_pipeline",
        "ann_lsh_portable", "ann_ivf_portable", "ann_pq_portable",
        "ann_ivfpq_portable", "kcore",
    ):
        if name in warm_dfs:
            df = warm_dfs[name]
            cold = out[name]["spark_cold_s"]
        else:
            t0 = time.perf_counter()
            df = SPARK_QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            cold = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        reused = time.perf_counter() - t0
        if name in warm_dfs and out[name].get("duckdb_s"):
            # the compared loop measured this oracle's WARM wall moments
            # ago on the same connection — reuse it instead of paying
            # the mirror twice more (review r14c #4: kcore's unrolled
            # 12-round peel mirror was running 2 extra times per gate
            # for a number already recorded)
            duck = out[name]["duckdb_s"]
        else:
            # warm-up run first — every other steady row divides by a
            # WARM DuckDB wall, and a cold-vs-warm mix would bias the
            # recorded ratio in Spark's favor (review r12 #4)
            con.execute(ORACLE_SQL[name]).fetchall()
            t0 = time.perf_counter()
            con.execute(ORACLE_SQL[name]).fetchall()
            duck = time.perf_counter() - t0
        steady[name] = {
            "spark_cold_s": cold,
            "reused_plan_s": round(reused, 3),
            "duckdb_s": round(duck, 3),
            "steady_ratio": round(reused / duck, 1) if duck else None,
            "cold_ratio": round(cold / duck, 1) if duck else None,
        }

    with tempfile.TemporaryDirectory() as td:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        n = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
        unit = F.when(
            n > 0, F.zip_with(vd, F.array_repeat(n, F.size(vd)), lambda x, y: x / y)
        ).otherwise(vd)
        prep = os.path.join(td, "unit_embeddings.parquet")
        emb.select("vec_id", unit.alias("embedding")).write.parquet(prep)

        ue = spark.read.parquet(prep)
        bench = ue.filter(F.col("vec_id") % 50 == 0)
        corpus = ue.filter(F.col("vec_id") % 50 != 0)

        def build():
            return sim.semantic_decontaminate(
                corpus,
                bench,
                threshold=0.40,
                prenormalized=True,
            ).orderBy("vec_id")

        build().write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        spark_s = time.perf_counter() - t0

        con.execute(
            # OR REPLACE: with --runs N the same connection runs this
            # block once per run against a fresh temp dir (review r15:
            # a bare CREATE VIEW raised CatalogException on run 2 and
            # lost both completed runs); the recreate must stay before
            # first use since the prior run's temp dir is deleted
            "CREATE OR REPLACE VIEW unit_embeddings AS "
            f"SELECT * FROM read_parquet('{prep}/*.parquet')"
        )
        prenorm_sql = """
WITH b AS (SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bu
           FROM unit_embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cu
      FROM unit_embeddings WHERE vec_id % 50 <> 0),
s AS (SELECT c.vec_id, b.bench_id, list_dot_product(cu, bu) AS sim
      FROM c CROSS JOIN b),
r AS (SELECT vec_id, bench_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, bench_id ASC) AS rk
      FROM s)
SELECT vec_id, bench_id AS nearest_bench_id, sim AS max_sim,
       CASE WHEN sim >= 0.40 THEN 1 ELSE 0 END AS contaminated
FROM r WHERE rk = 1 ORDER BY vec_id
"""
        con.execute(prenorm_sql).fetchall()
        t0 = time.perf_counter()
        duck_rows = len(con.execute(prenorm_sql).fetchall())
        duck_s = time.perf_counter() - t0
        steady["semantic_decontaminate_prenorm"] = {
            "spark_s": round(spark_s, 3),
            "duckdb_s": round(duck_s, 3),
            "ratio": round(spark_s / duck_s, 1) if duck_s else None,
            "oracle_rows": duck_rows,
        }
    out["_steady_state"] = steady

    comp = [
        v
        for k, v in out.items()
        if not k.startswith("_") and v.get("duckdb_s")
    ]
    out["_overall"] = {
        "comparable_queries": len(comp),
        "spark_total_s": round(sum(v["spark_s"] for v in comp), 3),
        "duckdb_total_s": round(sum(v["duckdb_s"] for v in comp), 3),
        "overall_ratio": round(
            sum(v["spark_s"] for v in comp) / sum(v["duckdb_s"] for v in comp), 3
        ),
    }
    return out


def main() -> None:
    argv = sys.argv[1:]
    positional: list[str] = []
    n_runs = 1
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--runs":
            if i + 1 >= len(argv):
                raise SystemExit("--runs requires a value")
            n_runs = int(argv[i + 1])
            i += 2
        elif a.startswith("--runs="):
            n_runs = int(a.split("=", 1)[1])
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag: {a}")
        else:
            positional.append(a)
            i += 1
    sf_dir = positional[0] if positional else "/root/testdata/sf0.1"
    if n_runs < 1:
        raise SystemExit("--runs must be >= 1")

    import duckdb

    from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

    spark = get_spark("bench_compare")
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # warm up

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    runs = []
    for i in range(n_runs):
        print(f"run {i + 1}/{n_runs} ...", file=sys.stderr, flush=True)
        runs.append(one_run(spark, con, sf_dir))

    ratios = [r["_overall"]["overall_ratio"] for r in runs]
    # median selection is by rank, not averaging — the artifact must be
    # one REAL run's rows (per-query walls from a run that happened),
    # so for even N the lower-middle run is taken
    order = sorted(range(n_runs), key=lambda i: ratios[i])
    pick = order[(n_runs - 1) // 2]
    out = runs[pick]
    out["_meta"] = {
        "convention": (
            "median-of-N run emitted as artifact body (VERDICT r14 #3); "
            "selection by _overall.overall_ratio rank — mechanical, no "
            "per-round judgment"
        ),
        "runs_this_session": ratios,
        "picked_run_index": pick,
        "sf_dir": sf_dir,
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
