"""Registry ordering contract: the correctness driver snapshots the FIRST
``DRIVER_SNAPSHOT_WINDOW`` entries of ``queries()``. Round 2 lost green
evidence for 7 queries because rows-only entries crowded oracle-backed
ones out of that window; these tests pin the invariant so it cannot
regress silently. Also pins build-time laziness: a registry entry must
not run Spark jobs until the caller acts (VERDICT r3 #4)."""

from __future__ import annotations

import pytest

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
    DRIVER_SNAPSHOT_WINDOW,
    ORACLE_SQL,
    SPARK_QUERIES,
)


# The round-15 window contract (VERDICT r14 asks #2, #6): r15 first
# contacts take slots; the r14 first contacts (packing_efficiency,
# curation_pipeline, percentiles_scalable) are retained one more round
# per the standing rotation; every oracle-backed gate whose
# implementation or generated mirror the r15 diff touches re-greens
# (the stats module grew the skew variant + shared validation — the
# sibling percentiles gates and robust_anomaly/quantile_buckets sit in
# the window as the stats-family re-greens). Funded by rotating out
# r14 oracle-greens on code untouched since. Pinned as SETS, not a
# frozen order, so next round's rotation edits these lists
# deliberately rather than breaking an order assertion by accident.
ROUND15_WINDOW_NEW = {
    "percentiles_skew",       # new gate: dominant-group skew quantiles
    "posts_export_sharded",   # new gate: flagship export, no-collect path
    "grouped_topk_skew",      # new gate: sharded per-group top-k
    "manifest_diff",          # new gate: snapshot diff for cross-run manifests
}
ROUND15_WINDOW_RETAINED_R14_FIRSTS = {
    "packing_efficiency",     # r14 first contact, retained
    "curation_pipeline",      # r14 conversion, retained
    "percentiles_scalable",   # r14 first contact; r15 stats-family regreen
}
ROUND15_WINDOW_REGREENS = {
    # stats module changed in r15 (shared quantile-spec validation +
    # the skew variant lives beside these implementations):
    "robust_anomaly", "quantile_buckets",
    # relational.global_rank is the device the skew variant reuses —
    # its gate re-greens beside it:
    "global_rank",
}
# Deliberate rows-only window slots.
ROUND15_WINDOW_ROWS_ONLY = {"simhash_neardup", "ann_recall_sweep"}
ROUND15_WINDOW_ANCHORS = {
    "flagship_posts_export", "bloom_prune_join", "shard_manifest",
}
ROUND15_WINDOW_RETAINED = {
    # r13 first contacts / conversions on their final confirmation pass:
    "ann_ivfpq_portable", "curation_capstone_soft", "sequence_packing_ffd",
    "kcore", "sentence_chunks", "dedup_calibration",
    # the portable/generated-mirror family (r14 regreens, kept while the
    # shared-constant derivation settles — registry constants now derive
    # from the Spark-side spellings, same values by test):
    "simhash_portable", "minhash_portable", "curation_capstone",
    "threshold_sweep", "sentence_split", "kmeans_lloyd",
    "ann_lsh_portable", "ann_ivf_portable", "ann_pq_portable",
    "soft_dedup_weights", "incremental_neardup_portable",
    # the capstone component family (bisection on a capstone red):
    "winnow_dedup", "winnow_spans", "leakage_safe_split", "span_excise",
    "winnowing", "winnow_overlap", "curation_gate", "lm_perplexity",
    "semantic_decontaminate",
    # stable retained greens:
    "salted_join", "repeated_spans", "setsim_join", "ngram_lm",
    # reference-core greens (anchor family):
    "eav_pivot", "group_concat", "hierarchy_parent", "broadcast_lookup",
    "semi_join",
}
# The round-16 window contract (VERDICT r15 asks #1, #2): the three
# queries whose physical plans the r15 optimizations changed AFTER the
# r15 window was pinned rotate in for independent driver re-proof
# (span_coverage, rolling_anomaly, moving_average); everything the r16
# optimization session touches (setsim_join, the winnow family,
# repeated_spans, span_coverage, the rolling family) holds a window
# slot. Funded by rotating out three r15 oracle-greens on code
# untouched in r15 AND r16.
ROUND16_WINDOW_REGREENS = {
    "span_coverage", "rolling_anomaly", "moving_average",
}
ROUND16_ROTATED_OUT = {
    "kmeans_lloyd", "ann_ivf_portable", "ann_pq_portable",
}


def test_round16_window_set():
    names = list(SPARK_QUERIES)
    window = set(names[:DRIVER_SNAPSHOT_WINDOW])
    assert window == (
        ROUND15_WINDOW_NEW
        | ROUND15_WINDOW_RETAINED_R14_FIRSTS
        | ROUND15_WINDOW_REGREENS
        | ROUND15_WINDOW_ROWS_ONLY
        | ROUND15_WINDOW_ANCHORS
        | (ROUND15_WINDOW_RETAINED - ROUND16_ROTATED_OUT)
        | ROUND16_WINDOW_REGREENS
    )


def test_repetition_probes_stay_ordered():
    """The probes rotated out of the window in round 8 and the gate
    followed in round 9 (driver-green r7 AND r8 — its confirmations are
    done), but gate + probes keep the coarse-to-fine order (gate,
    corpus, lines, tokens, grams) so a future re-rotation lands them
    back as a readable bisection."""
    names = list(SPARK_QUERIES)
    idx = {n: i for i, n in enumerate(names)}
    assert idx["repetition"] < idx["repetition_corpus_echo"]
    assert idx["repetition_corpus_echo"] < idx["repetition_lines"]
    assert idx["repetition_lines"] < idx["repetition_tokens"]
    assert idx["repetition_tokens"] < idx["repetition_grams"]


def test_oracle_backed_queries_precede_rows_only():
    """Outside the window, oracle-backed entries still precede the
    rows-only tail; inside it, only the deliberate
    ROUND15_WINDOW_ROWS_ONLY slots may be rows-only."""
    names = list(SPARK_QUERIES)
    tail = names[DRIVER_SNAPSHOT_WINDOW:]
    first_rows_only = next(
        (i for i, n in enumerate(tail) if n not in ORACLE_SQL), len(tail)
    )
    trailing = tail[first_rows_only:]
    assert all(n not in ORACLE_SQL for n in trailing), (
        "oracle-backed query listed after a rows-only one: "
        + str([n for n in trailing if n in ORACLE_SQL])
    )


def test_rows_only_window_slots_are_deliberate():
    """Round 2's regression was rows-only entries ACCIDENTALLY crowding
    oracle-backed ones out of the window. The round-11 rotation places
    rows-only queries in the window ON PURPOSE (VERDICT r10 ask #3 —
    first driver-environment contact); the invariant becomes: every
    rows-only window slot must be in the pinned allowlist, so any new
    rows-only entry drifting into the window is still an error."""
    names = list(SPARK_QUERIES)
    in_window = names[:DRIVER_SNAPSHOT_WINDOW]
    rows_only_inside = {n for n in in_window if n not in ORACLE_SQL}
    assert rows_only_inside == ROUND15_WINDOW_ROWS_ONLY, (
        "rows-only window slots diverge from the deliberate allowlist: "
        f"unexpected={rows_only_inside - ROUND15_WINDOW_ROWS_ONLY}, "
        f"missing={ROUND15_WINDOW_ROWS_ONLY - rows_only_inside}"
    )


def test_every_oracle_entry_has_a_query():
    missing = [n for n in ORACLE_SQL if n not in SPARK_QUERIES]
    assert not missing


@pytest.mark.parametrize("name", ["freq_items", "approx_aggs"])
def test_query_build_is_lazy(spark, name):
    """Building a registry entry must not EXECUTE the query — the
    (spark, sf_dir) -> DataFrame contract returns an unexecuted plan so
    bench/explain tooling sees the real query. freq_items regressed this
    in round 3 (.first() + createDataFrame at build time). Two probes:
    the result plan must still reference the parquet source (an eager
    build collapses to a LocalRelation), and at most the single
    parquet-schema-inference job may run during the build (both
    parametrized queries read exactly one table; executing the query
    would add at least one more job)."""
    sc = spark.sparkContext
    group = f"laziness-probe-{name}"
    sc.setJobGroup(group, "registry build-time laziness probe")
    try:
        df = SPARK_QUERIES[name](spark, "/root/testdata/sf0.001")
        df.schema  # analysis is fine; job execution is not
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    plan = df._jdf.queryExecution().logical().toString()
    assert "LocalRelation" not in plan, (
        f"{name} returned a driver-materialized LocalRelation:\n{plan}"
    )
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 1, (
        f"building {name} ran {len(jobs)} Spark jobs at query-construction "
        f"time (only the one-table schema-inference read is allowed)"
    )
