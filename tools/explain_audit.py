"""Physical-plan audit: assert the scale-critical plan properties hold.

Checks (per query): filters pushed to the parquet scan, column pruning
(ReadSchema only carries referenced columns), broadcast joins where a side
is known-small, whole-stage codegen coverage. The operators whose plans
pass through lazy localCheckpoints are audited on the plans Spark executed
(``executed_plans``), so the audit sees exactly what production runs. Run:

    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contextlib import redirect_stdout


# Ban raw text from every KEY exchange (hash/range partitioning and
# broadcast) — the algorithmic shuffles whose volume scales with the
# corpus. A leading ROUND-ROBIN exchange is exempt: that is
# spread_small_scan's input-layout fix, which only fires when a
# single-row-group fixture file under-parallelizes the map side and
# is a no-op on any real multi-file corpus (sources/catalog.py).
NO_TEXT_IN_EXCHANGE = (
    r"\A(?s:(?!.*\(\d+\) (?:Broadcast)?Exchange\s*\nInput \[\d+\]: "
    r"\[[^\]]*text#[^\]]*\]\s*\nArguments: [^\n]*"
    r"(?:hashpartitioning|rangepartitioning|SinglePartition|HashedRelation|IdentityBroadcastMode)).*)\Z"
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plans(spark, build) -> list[str]:
    """Build a frame with ``build()``, run it into a ``noop`` sink and
    return the formatted physical plan of every SQL execution that ran
    from the build on, as Spark's SQL status store recorded it (the final
    adaptive plan). Under AQE each lazy localCheckpoint runs at build as
    its own execution, whose plan reaches back to the scan."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()  # the store is fed asynchronously
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    build().write.format("noop").mode("overwrite").save()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() > last]


def executed_plan(spark, build) -> str:
    return "\n".join(executed_plans(spark, build))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES
    from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

    spark = get_spark("explain_audit")
    failures = []

    def check_plan(name: str, plan: str, *preds: tuple[str, str]):
        for desc, pattern in preds:
            ok = re.search(pattern, plan) is not None
            print(f"{'ok  ' if ok else 'FAIL'}  {name}: {desc}")
            if not ok:
                failures.append((name, desc))
                print(plan[:4000])

    def check(name: str, *preds: tuple[str, str]):
        check_plan(name, plan_of(SPARK_QUERIES[name](spark, sf_dir)), *preds)

    # Filter + projection push down to the parquet scan.
    check(
        "filter_project",
        ("status filter pushed to scan", r"PushedFilters: \[.*o_orderstatus.*\]"),
        ("price filter pushed to scan", r"PushedFilters: \[.*o_totalprice.*\]"),
        ("column pruning (3-col ReadSchema)", r"ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint"),
        ("whole-stage codegen", r"\[codegen id : \d+\]"),
    )
    # IN-list pushdown.
    check("in_list_filter", ("IN filter pushed", r"PushedFilters: \[.*In\(o_orderkey"))
    # Small dimension joins go broadcast.
    check("broadcast_lookup", ("broadcast hash join", r"BroadcastHashJoin"))
    check("inner_join", ("broadcast hash join", r"BroadcastHashJoin"))
    check(
        "top_revenue",
        ("customer side broadcast", r"BroadcastHashJoin"),
        ("orderdate filter pushed", r"PushedFilters: \[.*o_orderdate"),
        ("shipdate filter pushed", r"PushedFilters: \[.*l_shipdate"),
    )
    # Aggregations do map-side partial aggregation.
    check(
        "agg_stats",
        ("partial aggregate", r"HashAggregate"),
        ("pruned lineitem scan (no l_orderkey)", r"ReadSchema: struct<l_quantity"),
    )
    # Flagship: left joins stay broadcast for the dim, group-concat aggregates pre-join.
    check(
        "flagship_posts_export",
        ("broadcast customer dim", r"BroadcastHashJoin.*LeftOuter|BroadcastHashJoin"),
        ("publish filter pushed", r"PushedFilters: \[.*o_orderstatus"),
    )
    # Dedup: shuffle carries 32-byte hashes, not bodies.
    check(
        "dedup_exact",
        ("hash aggregate", r"HashAggregate"),
        ("text not in shuffle output", r"Arguments: hashpartitioning\(content_hash"),
    )
    # Decontamination: the benchmark gram side broadcasts — the document
    # stream must not shuffle for the overlap join.
    check(
        "decontaminate",
        ("benchmark grams broadcast", r"BroadcastHashJoin"),
    )
    # PII redaction: pure map stage — no exchange anywhere in the plan.
    check(
        "pii_redact",
        ("no shuffle in redaction", r"\A(?s:(?!.*Exchange).*)\Z"),
        ("whole-stage codegen", r"\[codegen id : \d+\]"),
    )
    # Embedding near-dup gate: bucketed LSH join, never a nested loop.
    check(
        "embedding_neardup",
        ("no all-pairs join", r"\A(?s:(?!.*(?:CartesianProduct|BroadcastNestedLoopJoin)).*)\Z"),
    )

    # Dedup family (VERDICT r3 ask #6) — audited on the executed plans.
    # Two hand-verified properties most likely to silently regress:
    #   1. Document text never rides a shuffle: every (Broadcast)Exchange's
    #      input column list must be free of the raw text column.
    #   2. The bucket cap compiles to aggregate + semi-join — NOT a window
    #      over (band, bucket), which would hash the pathological giant
    #      bucket into one un-splittable partition.
    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    minhash_plan = executed_plan(
        spark,
        lambda: dd.minhash_lsh_candidates(docs, num_hashes=16, bands=2, max_bucket_size=1000),
    )
    check_plan(
        "minhash_neardup[full-lineage]",
        minhash_plan,
        ("text never enters a shuffle", NO_TEXT_IN_EXCHANGE),
        ("bucket cap is a semi-join", r"LeftSemi"),
        ("bucket cap is not a window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
        ("signature agg partial-combines", r"HashAggregate"),
    )
    # SimHash: exact combination blocking. The defining plan property
    # is NO pair-level exchange — candidates carry both signatures
    # through the (table, key) join and the first-intact-combo filter
    # dedupes map-side, so the plan must contain no
    # HashAggregate/Exchange ABOVE the join (no distinct) and no
    # all-pairs join.
    simhash_blocked_plan = executed_plan(
        spark,
        lambda: dd.simhash_neardups_blocked(docs, max_hamming=6, combo_r=2, max_block_size=1000),
    )
    check_plan(
        "simhash_neardup[blocked-exact]",
        simhash_blocked_plan,
        ("text never enters a shuffle", NO_TEXT_IN_EXCHANGE),
        ("blocked join, not all-pairs", r"\A(?s:(?!.*(?:CartesianProduct|BroadcastNestedLoopJoin)).*)\Z"),
        # round 13: the cap became a broadcast ANTI join against the
        # hot-key list (usually empty) instead of a semi-join against
        # the full key census
        ("block cap is a broadcast anti-join", r"LeftAnti"),
        # a pair-level distinct shows up as a HashAggregate KEYED on
        # (id_a, id_b) — match the aggregate keys, not operator text
        # order (review r12 #1: the tree-order regex was green/red by
        # join strategy, not by the property it claimed to check)
        ("no pair-keyed distinct aggregate",
         r"\A(?s:(?!.*Keys \[2\]: \[id_a#\d+L?, id_b#\d+).*)\Z"),
    )

    # Paragraph dedup: the first-occurrence winner must be an aggregate
    # (map-side combine eats the giant boilerplate-paragraph group), never
    # a window over the paragraph key — and paragraph text must not ride
    # the winner-selection shuffle (the md5 digest is the key).
    check(
        "paragraph_dedup",
        ("winner selection is an aggregate, not a window over pkey",
         r"\A(?s:(?!.*Window.*pkey).*)\Z"),
        ("partial aggregation present", r"HashAggregate"),
    )
    # Vocabulary top-k: must compile to TakeOrdered (per-partition heap +
    # driver merge of k rows), never a global sort of the vocabulary.
    check(
        "token_topk",
        ("top-k is TakeOrdered, not a global sort", r"TakeOrderedAndProject"),
    )
    # Gap-fill: aggregation happens BEFORE the spine join (partial agg on
    # raw events; everything downstream operates on aggregated rows) and
    # the spine join is a real equi-join, never a cartesian product.
    check(
        "gapfill",
        ("partial aggregation present", r"HashAggregate"),
        ("dense spine generated JVM-side", r"\(\d+\) Generate"),
        ("spine join is an equi-join, not all-pairs",
         r"\A(?s:(?!.*(?:CartesianProduct|BroadcastNestedLoopJoin)).*)\Z"),
        ("events scan pruned to 3 cols", r"ReadSchema: struct<ts:[^,]+,event_type:string,value:double>"),
    )
    # Composite quality filter: map-only feature pipelines joined on
    # doc_id; no Python UDFs anywhere in the verdict path.
    check(
        "quality_filter",
        ("no Python row UDFs", r"\A(?s:(?!.*BatchEvalPython).*)\Z"),
        ("feature join is an equi-join, not all-pairs",
         r"\A(?s:(?!.*(?:CartesianProduct|BroadcastNestedLoopJoin)).*)\Z"),
    )
    # Funnel: the sequential-step constraints must compile to stacked
    # windows over ONE events scan — any join operator means the plan
    # degenerated to per-step self-joins of the event table.
    funnel_plan = plan_of(SPARK_QUERIES["funnel"](spark, sf_dir))
    check_plan(
        "funnel",
        funnel_plan,
        ("no self-joins of events", r"\A(?s:(?!.*Join).*)\Z"),
        ("stacked windows present", r"\(\d+\) Window"),
    )
    # one scan NODE: the formatted plan prints each node in the tree AND
    # in the detail section, so count detail headers "(n) Scan parquet"
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", funnel_plan, re.M))
    if n_scans != 1:
        failures.append(("funnel", f"expected exactly one events scan, got {n_scans}"))
        print(f"FAIL  funnel: expected exactly one events scan, got {n_scans}")
    else:
        print("ok    funnel: exactly one events scan")
    # Cohort retention and transitions: equi-joins/windows only.
    check(
        "retention_cohorts",
        ("no all-pairs join", r"\A(?s:(?!.*(?:CartesianProduct|BroadcastNestedLoopJoin)).*)\Z"),
    )
    check(
        "event_transitions",
        ("single lag window, no join", r"\A(?s:(?!.*Join).*)\Z"),
    )

    # Round-4 additions (VERDICT r4 ask #6): mechanical plan checks.
    # moving_average: the trailing-1h frame must compile to a RANGE
    # window (specrange with a numeric lower bound), over exactly ONE
    # exchange — one shuffle on user_id serves both window aggregates.
    ma_plan = plan_of(SPARK_QUERIES["moving_average"](spark, sf_dir))
    check_plan(
        "moving_average",
        ma_plan,
        ("RANGE frame present", r"specifiedwindowframe\(RangeFrame"),
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_ex = len(re.findall(r"^\(\d+\) Exchange", ma_plan, re.M))
    if n_ex != 1:
        failures.append(("moving_average", f"expected one window exchange, got {n_ex}"))
        print(f"FAIL  moving_average: expected one window exchange, got {n_ex}")
    else:
        print("ok    moving_average: single window exchange")
    # pivot_unpivot: the pivot value set is pinned, so the plan must be
    # ONE aggregate exchange with no second value-discovery job (a
    # collect-distinct would appear as an extra scan) and no join.
    pu_plan = plan_of(SPARK_QUERIES["pivot_unpivot"](spark, sf_dir))
    check_plan(
        "pivot_unpivot",
        pu_plan,
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_scans_pu = len(re.findall(r"^\(\d+\) Scan parquet", pu_plan, re.M))
    n_ex_pu = len(re.findall(r"^\(\d+\) Exchange", pu_plan, re.M))
    if n_scans_pu != 1 or n_ex_pu > 1:
        failures.append(
            ("pivot_unpivot", f"expected 1 scan/<=1 exchange, got {n_scans_pu}/{n_ex_pu}")
        )
        print(f"FAIL  pivot_unpivot: expected 1 scan/<=1 exchange, got {n_scans_pu}/{n_ex_pu}")
    else:
        print(f"ok    pivot_unpivot: one scan, {n_ex_pu} shuffle, no value-discovery job")
    # row_checksum: the commutative bit_xor must partial-aggregate
    # map-side (partial_bit_xor before the exchange) so only 3 running
    # digests per partition reach the shuffle, never row digests.
    check(
        "row_checksum",
        ("map-side partial bit_xor", r"partial_bit_xor"),
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    # weighted_sample: per-stratum top-n must be a window over the
    # stratum partitioning — not a global Sort (which would serialize
    # the corpus through one ordering) and not a join.
    ws_plan = plan_of(SPARK_QUERIES["weighted_sample"](spark, sf_dir))
    check_plan(
        "weighted_sample",
        ws_plan,
        ("per-stratum window", r"\(\d+\) Window"),
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("no global sort", r"\A(?s:(?!.*Sort \[[^\]]*\], true).*)\Z"),
    )

    # doc_chunks: pure flat-map — tokenize/sequence/explode/slice with
    # no shuffle, no Python, one documents scan.
    dc_plan = plan_of(SPARK_QUERIES["doc_chunks"](spark, sf_dir))
    check_plan(
        "doc_chunks",
        dc_plan,
        ("no shuffle (map-only flat-map)", r"\A(?s:(?!.*Exchange).*)\Z"),
        ("no Python row UDFs", r"\A(?s:(?!.*BatchEvalPython).*)\Z"),
        ("2-col pruned scan", r"ReadSchema: struct<doc_id:bigint,text:string>"),
    )
    # fk_integrity: every relation audits via broadcast anti-join on the
    # parent key — no sort-merge of fact tables, no cartesian legs.
    check(
        "fk_integrity",
        ("anti-joins present", r"LeftAnti"),
        ("parent sides broadcast", r"BroadcastHashJoin.*LeftAnti"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # range_join_bucketed: the whole point of time-bucket blocking is
    # turning a key-free inequality join into an equi-join — any
    # nested-loop/cartesian node means the blocking fell through.
    check(
        "range_join_bucketed",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
    )

    # upsert_snapshot: union + ONE key window — a join-based MERGE plan
    # would reintroduce a matching stage to skew.
    check(
        "upsert_snapshot",
        ("no join (union + window MERGE)", r"\A(?s:(?!.*Join).*)\Z"),
        ("window keep-latest present", r"\(\d+\) Window"),
    )
    # table_diff: one full-outer sort-merge join on the key, nothing
    # cartesian; the status CASE is pure projection.
    check(
        "table_diff",
        ("full outer join on key", r"FullOuter"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    # session_paths: sessionize window + ordered per-session collect must
    # reuse one user_id partitioning; the path count is a tiny agg. No
    # joins anywhere; limit compiles to TakeOrdered, not a global sort.
    check(
        "session_paths",
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
    )

    # rolling_anomaly: the three window aggregates must share ONE
    # (event_type) exchange; the integer decision is pure projection.
    ra_plan = plan_of(SPARK_QUERIES["rolling_anomaly"](spark, sf_dir))
    check_plan(
        "rolling_anomaly",
        ra_plan,
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_ex_ra = len(re.findall(r"^\(\d+\) Exchange", ra_plan, re.M))
    if n_ex_ra != 1:
        failures.append(("rolling_anomaly", f"expected one window exchange, got {n_ex_ra}"))
        print(f"FAIL  rolling_anomaly: expected one window exchange, got {n_ex_ra}")
    else:
        print("ok    rolling_anomaly: single window exchange")
    # histogram: bounds row must broadcast (no second full-scan join leg
    # shuffles the values side on a key).
    check(
        "histogram",
        ("bounds joined via broadcast", r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # merge_intervals: both island windows AND the final (keys, island)
    # groupBy must ride ONE keys exchange — hash on a subset of the
    # grouping columns already co-locates every island.
    mi_plan = plan_of(SPARK_QUERIES["merge_intervals"](spark, sf_dir))
    check_plan(
        "merge_intervals",
        mi_plan,
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_ex_mi = len(re.findall(r"^\(\d+\) Exchange", mi_plan, re.M))
    if n_ex_mi != 1:
        failures.append(("merge_intervals", f"expected one exchange, got {n_ex_mi}"))
        print(f"FAIL  merge_intervals: expected one exchange, got {n_ex_mi}")
    else:
        print("ok    merge_intervals: islands + merge share one exchange")

    # scd2_history: lag-collapse and lead-validity windows share one
    # (keys) exchange; no join anywhere in the history build.
    scd_plan = plan_of(SPARK_QUERIES["scd2_history"](spark, sf_dir))
    check_plan(
        "scd2_history",
        scd_plan,
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_ex_scd = len(re.findall(r"^\(\d+\) Exchange", scd_plan, re.M))
    if n_ex_scd != 1:
        failures.append(("scd2_history", f"expected one exchange, got {n_ex_scd}"))
        print(f"FAIL  scd2_history: expected one exchange, got {n_ex_scd}")
    else:
        print("ok    scd2_history: collapse + validity windows share one exchange")

    # boilerplate_removal: the boilerplate key set must broadcast into
    # the anti-join (it is tiny by the >=pct%-of-docs construction) and
    # the corpus-size bound must ride a broadcast, not a shuffle.
    check(
        "boilerplate_removal",
        ("boilerplate keys anti-join is broadcast", r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # fuzzy_pairs: deletion-neighborhood blocking must plan as a hash
    # equi-join on the variant hash — a nested-loop/cartesian node means
    # the all-pairs scan the blocking exists to avoid.
    check(
        "fuzzy_pairs",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
    )

    # pmi_collocations: top-k must compile to TakeOrdered (no global
    # sort of the pair table); the only nested-loop is the broadcast
    # 1-row corpus total.
    check(
        "pmi_collocations",
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # embedding_centroids: one hash aggregation with map-side partial
    # combine over the exploded (group, dim, long) rows; no joins, no
    # window, no Python UDF in the plan.
    check(
        "embedding_centroids",
        ("partial aggregation present", r"HashAggregate"),
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython)).*)\Z"),
    )

    # inverted_index: two-level aggregate, no join, no window — a
    # window-based posting sort would re-sort the giant stopword groups
    # in single tasks.
    check(
        "inverted_index",
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
        ("partial aggregation present", r"HashAggregate|SortAggregate|ObjectHashAggregate"),
    )

    # epoch_upsample: factor table broadcasts; replication is a
    # pipelined scan->join->explode with NO exchange anywhere.
    eu_plan = plan_of(SPARK_QUERIES["epoch_upsample"](spark, sf_dir))
    check_plan(
        "epoch_upsample",
        eu_plan,
        ("factor table broadcast", r"BroadcastHashJoin"),
        ("fully pipelined (no exchange)", r"\A(?s:(?!.*\(\d+\) Exchange).*)\Z"),
    )

    # join_blowup: both sides must aggregate BEFORE the join (the whole
    # point — input rows never meet) and the top-k is TakeOrdered.
    check(
        "join_blowup",
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # setsim_join: candidates must come from the prefix equi-join — no
    # cartesian/nested-loop anywhere, and verify joins are hash joins
    # on ids.
    setsim_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 1000")
        .select("doc_id", "text")
    )
    check_plan(
        "setsim_join[full-lineage]",
        executed_plan(
            spark,
            lambda: dd.setsim_join(
                setsim_docs, id_col="doc_id", text_col="text", tau_num=6, tau_den=10
            ),
        ),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("text never enters a shuffle", NO_TEXT_IN_EXCHANGE),
    )

    # ngram_lm: exactly ONE parquet scan of the corpus — every derived
    # quantity must aggregate the aggregated trigram frame, never
    # re-scan text; top-k is TakeOrdered.
    lm_plan = plan_of(SPARK_QUERIES["ngram_lm"](spark, sf_dir))
    check_plan(
        "ngram_lm",
        lm_plan,
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    n_scans_lm = len(re.findall(r"Scan parquet", lm_plan))
    # formatted explain prints each node twice (tree + details)
    if n_scans_lm > 2:
        failures.append(("ngram_lm", f"expected one corpus scan, got {n_scans_lm}/2"))
        print(f"FAIL  ngram_lm: expected one corpus scan, got {n_scans_lm}/2")
    else:
        print("ok    ngram_lm: single corpus scan feeds all derived counts")

    # event_pattern: one (user, day) aggregation, no join, no window —
    # the regex runs as a codegen projection over bounded group strings.
    check(
        "event_pattern",
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )

    # record_linkage: candidates must come from the deletion-
    # neighborhood hash join — no cartesian/nested-loop; the winner
    # pick is one window over candidates.
    check(
        "record_linkage",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("winner window present", r"\(\d+\) Window"),
    )

    # time_rollup: the whole point is ONE scan + ONE exchange for all
    # three granularities — a UNION ALL plan would show 3 scans.
    tr_plan = plan_of(SPARK_QUERIES["time_rollup"](spark, sf_dir))
    check_plan(
        "time_rollup",
        tr_plan,
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
    )
    n_scans_tr = len(re.findall(r"Scan parquet", tr_plan))
    n_ex_tr = len(re.findall(r"^\(\d+\) Exchange", tr_plan, re.M))
    if n_scans_tr > 2 or n_ex_tr != 1:
        failures.append(
            ("time_rollup", f"expected 1 scan + 1 exchange, got {n_scans_tr}/2 scans, {n_ex_tr} exchanges")
        )
        print(f"FAIL  time_rollup: {n_scans_tr}/2 scans, {n_ex_tr} exchanges")
    else:
        print("ok    time_rollup: one scan + one exchange covers all granularities")

    # winsorize: percentile bounds must broadcast back onto the fact
    # side (map-only clip), no cartesian.
    check(
        "winsorize",
        ("bounds joined via broadcast", r"BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    # cluster_keepers: keeper selection is a map-combinable aggregate,
    # NOT a per-cluster window sort.
    check(
        "cluster_keepers",
        ("argmax is an aggregate, not a window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )
    # source_overlap / histogram_drift / corr_stats / grouped_mode:
    # no cartesian products; drift additionally reads the orders table
    # ONCE (both snapshots derive from one scan via a conditional flag).
    check(
        "source_overlap",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    hd_plan = plan_of(SPARK_QUERIES["histogram_drift"](spark, sf_dir))
    check_plan(
        "histogram_drift",
        hd_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    n_scans_hd = len(re.findall(r"Scan parquet", hd_plan))
    # budget: TWO passes (bounds+totals, then binning) — the first
    # version re-derived per_bin for totals and scanned FOUR times.
    if n_scans_hd > 4:
        failures.append(("histogram_drift", f"expected two orders scans, got {n_scans_hd}/2"))
        print(f"FAIL  histogram_drift: expected two orders scans, got {n_scans_hd}/2")
    else:
        print("ok    histogram_drift: two-pass budget holds (bounds+totals fused)")
    check(
        "grouped_mode",
        ("nation dim broadcast", r"BroadcastHashJoin"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )
    check(
        "corr_stats",
        ("partial aggregation present", r"HashAggregate"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )

    # vocab_drift: one token aggregation, totals fused as broadcast —
    # the histogram_drift two-pass discipline on text.
    check(
        "vocab_drift",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )
    # triangle_count / pagerank: iterative/graph plans must stay pure
    # hash-join + aggregate pipelines — no cartesian, no window.
    check(
        "triangle_count",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )
    check(
        "pagerank",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )
    # ship_lag: one orders-lineitem join + one aggregation; the
    # business-day arithmetic is pure projection (no python worker).
    check(
        "ship_lag",
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython)).*)\Z"),
    )

    # basket_pairs: order-keyed self-join (bounded fan-out), TakeOrdered
    # top-k; embedding_norms: one aggregation, no joins/windows.
    check(
        "basket_pairs",
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    check(
        "embedding_norms",
        ("no join", r"\A(?s:(?!.*Join).*)\Z"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
    )

    # round-6 additions: salted_join must broadcast its hot-key list and
    # never go cartesian; robust_anomaly is two hash aggregations + key
    # joins with no window and no python; bpe_tokenize is the designed
    # Arrow path (one mapInPandas, no shuffle).
    check(
        "salted_join",
        ("hot-key list broadcast", r"BroadcastHashJoin|BroadcastExchange"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    check(
        "robust_anomaly",
        ("hash aggregate medians", r"HashAggregate|ObjectHashAggregate"),
        ("no window", r"\A(?s:(?!.*\(\d+\) Window).*)\Z"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython)).*)\Z"),
    )
    check(
        "bpe_tokenize",
        ("arrow mapInPandas stage", r"MapInPandas|ArrowEvalPython"),
        ("no shuffle", r"\A(?s:(?!.*Exchange).*)\Z"),
    )
    # global_rank: the data-bearing window must be PARTITIONED (bucket
    # hash exchange before it); the only SinglePartition sort feeds the
    # B-row offsets frame, never the event stream.
    check(
        "global_rank",
        ("bucket-partitioned window", r"hashpartitioning\(__bkt"),
        ("offsets joined by broadcast", r"BroadcastHashJoin|BroadcastExchange"),
    )

    # round-7 additions: zorder file assignment reuses global_rank, so
    # its windows must be bucket-partitioned (never a bare global
    # window) and JVM-only; bloom pruning must be broadcast-only with
    # no sort-merge fallback; the shard manifest is one partial agg on
    # a 16-value key with no python; image near-dup decodes in Arrow
    # batches and must never go cartesian (band join is equi).
    check(
        "zorder_layout",
        ("bucket-partitioned rank windows", r"hashpartitioning\(__bkt"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas)).*)\Z"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    check(
        "bloom_prune_join",
        ("bloom probes + join all broadcast", r"BroadcastHashJoin"),
        ("no sort-merge join", r"\A(?s:(?!.*SortMergeJoin).*)\Z"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    check(
        "shard_manifest",
        ("map-side partial aggregate", r"HashAggregate"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas)).*)\Z"),
    )
    check(
        "image_neardup",
        ("arrow-batched decode", r"MapInPandas"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    # threshold_sweep: the data-bearing stage is one map-combinable
    # aggregation; the cumulative window runs over <= 256 aggregated
    # rows (accepted single-partition, the global_rank offsets shape);
    # domain_blocklist's suffix test must be a broadcast equi-join (the
    # LIKE nested-loop it replaces would show BroadcastNestedLoopJoin);
    # audio_neardup mirrors the image plan.
    check(
        "threshold_sweep",
        ("map-side partial aggregate", r"HashAggregate"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas)).*)\Z"),
    )
    check(
        "domain_blocklist",
        ("suffix hit via broadcast equi-join", r"BroadcastHashJoin"),
        ("no nested-loop LIKE join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("no python worker", r"\A(?s:(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas)).*)\Z"),
    )
    check(
        "audio_neardup",
        ("arrow-batched decode", r"MapInPandas"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    # interval_overlap: candidates must come from the (key, bucket)
    # equi-join — the nested-loop theta join it replaces would show
    # BroadcastNestedLoopJoin.
    check(
        "interval_overlap",
        ("bucket equi-join", r"SortMergeJoin|BroadcastHashJoin"),
        ("no nested-loop theta join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )
    # embedding_gram: partial Gramians are an Arrow map stage; the only
    # shuffle is the (i, j)-keyed aggregation of ~2k rows/partition —
    # no pair join of vectors anywhere.
    check(
        "embedding_gram",
        ("arrow-batched partial gramians", r"MapInPandas"),
        ("tiny (i,j)-keyed aggregation", r"HashAggregate"),
        ("no pair join", r"\A(?s:(?!.*(SortMergeJoin|CartesianProduct)).*)\Z"),
    )

    # sliding_hll: the whole point is ONE event pass — the exact form
    # re-scans per window. Also no join of event rows (the only join is
    # the broadcast of the 1-row bounds frame).
    sh_plan = plan_of(SPARK_QUERIES["sliding_hll"](spark, sf_dir))
    n_scans_sh = len(re.findall(r"^\(\d+\) Scan parquet", sh_plan, re.M))
    if n_scans_sh > 2:
        failures.append(
            ("sliding_hll", f"expected <=2 events scans (data + bounds), got {n_scans_sh}")
        )
        print(f"FAIL  sliding_hll: expected <=2 events scans, got {n_scans_sh}")
    else:
        print(f"ok    sliding_hll: {n_scans_sh} scans (sketches built in one pass + bounds)")
    check_plan(
        "sliding_hll",
        sh_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
    )

    # windowed_dedup: both windows share the (content_hash) partitioning
    # — the plan must carry exactly ONE exchange.
    wd_plan = plan_of(SPARK_QUERIES["windowed_dedup"](spark, sf_dir))
    n_ex_wd = len(re.findall(r"^\(\d+\) Exchange", wd_plan, re.M))
    if n_ex_wd != 1:
        failures.append(("windowed_dedup", f"expected one exchange, got {n_ex_wd}"))
        print(f"FAIL  windowed_dedup: expected one exchange, got {n_ex_wd}")
    else:
        print("ok    windowed_dedup: lag + burst windows share one hash exchange")

    # incremental_dedup: the daily batch-vs-manifest step is a hash
    # anti-join on 32-byte hashes — no text column may reach the
    # exchange, and no nested-loop/cartesian shape is acceptable.
    check(
        "incremental_dedup",
        ("hash anti-join", r"LeftAnti"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
    )
    # incremental_neardup: batch probes the signature manifest via a
    # (band, bucket) equi-join; a missing equi-key would degrade to a
    # nested-loop theta join.
    check(
        "incremental_neardup",
        ("band-bucket equi-join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("survivor anti-join", r"LeftAnti"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
    )

    # incremental_neardup_portable (round 12): the probe's collision
    # join is a compact (band, bucket) equi-join — the 16x32-char md5
    # signature columns must NOT ride it (review r11 #6's rule applied
    # to the probe: signatures join back once per colliding pair).
    from wordpress_sql_to_contentstack_exporter_spark.operators import manifest as _mf

    _pm_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    _pm_manifest = _mf.build_neardup_manifest_portable(
        _pm_docs.filter("doc_id % 3 = 0"), run_id="audit"
    )
    _, _pm_scored = _mf.neardup_probe_portable(
        _pm_docs.filter("doc_id % 3 <> 0"), _pm_manifest
    )
    # auto-broadcast OFF for this plan: at fixture scale every side
    # broadcasts and no hashpartitioning(band, bucket) exchange exists
    # for the signature check to inspect (verified: with broadcast on,
    # even a deliberately signature-laden bucket join reads green) —
    # forcing the shuffle shape makes the check test what 100 TB runs
    _abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _pm_plan = plan_of(_pm_scored)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _abj)
    check_plan(
        "incremental_neardup_portable[probe]",
        _pm_plan,
        ("band-bucket equi-join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("raw text never rides a key exchange", NO_TEXT_IN_EXCHANGE),
        ("signatures never ride the bucket exchange",
         r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput \[\d+\]: "
         r"\[[^\]]*h0#[^\]]*\]\s*\nArguments: [^\n]*hashpartitioning"
         r"\([^\n]*band[^\n]*bucket).*)\Z"),
    )

    # bm25_topk (round 9): the query-term batch and df/totals frames must
    # BROADCAST (a shuffled join of a 6-row frame would re-shuffle the
    # corpus-side term rows), and no theta-join shape anywhere.
    check(
        "bm25_topk",
        ("broadcast joins for terms/df/totals", r"BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("raw text never rides a key exchange", NO_TEXT_IN_EXCHANGE),
    )
    # dsir (round 9): the B-row weight table broadcasts back to the
    # per-doc scoring join — the only corpus-keyed exchanges are the
    # bucket-count aggregations and the final groupBy(doc).
    check(
        "dsir",
        ("weights broadcast to scoring join", r"BroadcastHashJoin"),
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("raw text never rides a key exchange", NO_TEXT_IN_EXCHANGE),
    )
    # semdedup (round 9): ONE corpus exchange — the groupBy(cell) feeding
    # the per-cell Arrow prune; assignment is map-only.
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as _sim
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import load_table as _lt

    sd_plan = plan_of(
        _sim.semdedup(
            _lt(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            n_cells=4, threshold=0.9, fit_sample=256, seed=7,
        )
    )
    n_ex_sd = len(re.findall(r"^\(\d+\) Exchange", sd_plan, re.M))
    if n_ex_sd != 1:
        failures.append(("semdedup", f"expected one exchange, got {n_ex_sd}"))
        print(f"FAIL  semdedup: expected one exchange, got {n_ex_sd}")
    else:
        print("ok    semdedup: one groupBy(cell) exchange; assignment map-only")
    # quality_classifier featurize (round 9): the per-doc hashed-BoW
    # projection is MAP-ONLY — no exchange before the gradient pass's own
    # per-dimension aggregation.
    from wordpress_sql_to_contentstack_exporter_spark.operators import classify as _clf

    fz_plan = plan_of(
        _clf.featurize_hashed_bow(
            _lt(spark, sf_dir, "documents").select("doc_id", "text"),
            n_features=64,
        )
    )
    check_plan(
        "quality_classifier.featurize",
        fz_plan,
        ("map-only featurization (no exchange)", r"\A(?s:(?!.*Exchange).*)\Z"),
    )
    # unicode_clean (round 10): regexp chain + Arrow NFC pass — MAP-ONLY
    # end to end; any exchange here would be a raw-text shuffle.
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as _tx

    uc_plan = plan_of(
        _tx.unicode_clean(_lt(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    check_plan(
        "unicode_clean",
        uc_plan,
        ("map-only cleanup (no exchange)", r"\A(?s:(?!.*Exchange).*)\Z"),
    )
    # rare_token_ratio (round 10): tfidf-family exchange budget — term-keyed
    # aggregations and an AQE equi-join; never a cartesian/nested-loop and
    # never document text on a key exchange (terms only).
    rt_plan = plan_of(
        _tx.rare_token_ratio(
            _lt(spark, sf_dir, "documents").select("doc_id", "text")
        )
    )
    check_plan(
        "rare_token_ratio",
        rt_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoop).*)\Z"),
    )
    # semantic_decontaminate (round 10): the ANN-brute-force shape — the
    # SMALL benchmark side broadcast (a BroadcastNestedLoop here is the
    # design, not a hazard: |corpus|x|benchmark| with a broadcast build
    # side is how every exact scorer works); the corpus side must never
    # sort-merge and its VECTORS must never ride a hash exchange (the
    # struct-max argmax aggregation shuffles (id, sim, bench_id)
    # triples only, partial-combined map-side).
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as _simo

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sdc_plan = executed_plan(
        spark,
        lambda: _simo.semantic_decontaminate(
            emb.filter("vec_id % 50 <> 0"), emb.filter("vec_id % 50 = 0"), threshold=0.4
        ),
    )
    no_vec_in_hash_exchange = (
        r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput \[\d+\]: "
        r"\[[^\]]*(?:embedding|cv|cu|bu)#[^\]]*\]\s*\nArguments: [^\n]*"
        r"(?:hashpartitioning|rangepartitioning)).*)\Z"
    )
    check_plan(
        "semantic_decontaminate",
        sdc_plan,
        ("benchmark side broadcast", r"BroadcastNestedLoopJoin LeftOuter BuildRight"),
        ("no sort-merge join", r"\A(?s:(?!.*SortMergeJoin).*)\Z"),
        ("corpus vectors never ride a hash exchange", no_vec_in_hash_exchange),
    )
    # lm_perplexity (round 10): ngram_lm exchange budget — bigram-keyed
    # aggregations/joins (word pairs, never document text) and no
    # cartesian/nested-loop anywhere.
    lm_plan = executed_plan(
        spark, lambda: _tx.lm_perplexity(_lt(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    check_plan(
        "lm_perplexity",
        lm_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("document text never enters a shuffle", NO_TEXT_IN_EXCHANGE),
    )
    # winnow_overlap (round 10/11; winnow_dedup's expensive stage — the
    # closure rounds after it exchange (long, long) labels only, behind
    # checkpoints): the pair build must be a fingerprint-keyed EQUI-join
    # (no cartesian/nested-loop), and document text must never ride an
    # exchange — fingerprints are md5-hex + longs by construction.
    wo_plan = executed_plan(
        spark,
        lambda: _tx.winnow_overlap(
            _lt(spark, sf_dir, "documents").select("doc_id", "text"),
            k=8, w=4, min_shared=3, max_fp_docs=20,
        ),
    )
    check_plan(
        "winnow_overlap",
        wo_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoop).*)\Z"),
        ("document text never enters a shuffle", NO_TEXT_IN_EXCHANGE),
    )

    # ann_lsh_portable (round 12): the compact-bucket discipline — the
    # BUCKET join exchanges (id, table, bit-string) keys only; vectors
    # join back by id AFTER the deduped pair set (that verify join IS
    # one id-keyed vector exchange at scale — the minhash_portable
    # join-back discipline — so the audited invariant is scoped to the
    # bucket exchange, review r12b #2). Broadcast is disabled for the
    # plan build: at fixture scale every side broadcasts and the
    # bucket-payload check would be vacuous (the manifest-probe rule).
    # dim derived from the fixture (review r12b #6: a hardcoded 64
    # degrades to an all-collide bucket graph if the fixture widens).
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import (
        embedding_dim as _emb_dim,
    )

    _fixture_dim = _emb_dim(f"{sf_dir}/embeddings.parquet")
    _lshp_df = _simo.lsh_topk_portable(
        emb.filter("vec_id < 5"), emb, dim=_fixture_dim, k=5
    )
    _abj12 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lshp_plan = plan_of(_lshp_df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _abj12)
    check_plan(
        "ann_lsh_portable",
        lshp_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoop).*)\Z"),
        ("bucket join is a shuffled equi-join here", r"SortMergeJoin|ShuffledHashJoin"),
        ("vectors never ride the bucket exchange",
         r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput \[\d+\]: "
         r"\[[^\]]*(?:embedding|__vec|__qv|__cv)#[^\]]*\]\s*\n"
         r"Arguments: [^\n]*hashpartitioning\([^\n]*bucket).*)\Z"),
    )
    # ann_ivf_portable (round 12): the probe is an EQUI-join on the
    # cell id (the IVF inverted-list scan) with the tiny probe side
    # broadcast — never a cartesian/nested-loop; corpus vectors join
    # back only for the per-candidate verify.
    ivfp_plan = plan_of(
        _simo.ivf_topk_portable(
            emb.filter("vec_id < 5"), emb, kcells=8, iters=2, nprobe=2, k=5
        )
    )
    check_plan(
        "ann_ivf_portable",
        ivfp_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no nested-loop join", r"\A(?s:(?!.*BroadcastNestedLoop).*)\Z"),
        ("probe side broadcast", r"BroadcastHashJoin"),
    )
    # ann_pq_portable (round 12): encoding is MAP-ONLY (codebook
    # literals, the kmeans assignment discipline) and the ADC scoring
    # join BROADCASTS the tiny query side over the code scan — the
    # BroadcastNestedLoopJoin IS the design (the semantic_decontaminate
    # rule: a scan-scorer with a broadcast build side); what must never
    # appear is an un-broadcast theta join or a vector column in a hash
    # exchange before the rerank survivors.
    pqp_plan = plan_of(
        _simo.pq_topk_portable(
            emb.filter("vec_id < 5"), emb, dim=_fixture_dim,
            m=8, ncodes=16, iters=1, rerank=64, k=5,
        )
    )
    check_plan(
        "ann_pq_portable",
        pqp_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("query side broadcast for ADC scan", r"BroadcastNestedLoopJoin"),
        # the rerank window exchange (hashpartitioning(query_id)) must
        # carry (ids, adc) only — not the ~1 KB/row qtab arrays or raw
        # vectors (a genuine any-scale claim, unlike a blanket
        # no-vectors-on-hash-exchange check that only holds while the
        # verify join-back broadcasts at fixture scale)
        ("rerank exchange carries ids+adc only",
         r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput \[\d+\]: "
         r"\[[^\]]*(?:__qt|embedding|__vec|__qv|__cv|__v)#[^\]]*\]\s*\n"
         r"Arguments: [^\n]*hashpartitioning\(query_id).*)\Z"),
    )
    # ann_ivfpq_portable (round 13): the composition must inherit BOTH
    # halves' disciplines — the IVF probe broadcast restricts candidates
    # BEFORE ADC scoring (no query-x-corpus nested loop anywhere: the
    # candidate set arrives by equi-joins), and the rerank exchange
    # carries (ids, adc) only.
    ivfpq_plan = plan_of(
        _simo.ivfpq_topk_portable(
            emb.filter("vec_id < 5"), emb, dim=_fixture_dim,
            kcells=8, coarse_iters=2, nprobe=2,
            m=8, ncodes=16, iters=1, rerank=64, k=5,
        )
    )
    check_plan(
        "ann_ivfpq_portable",
        ivfpq_plan,
        ("no cartesian product", r"\A(?s:(?!.*CartesianProduct).*)\Z"),
        ("no query-x-corpus nested loop (IVF restricts before ADC)",
         r"\A(?s:(?!.*BroadcastNestedLoopJoin).*)\Z"),
        ("rerank exchange carries ids+adc only",
         r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput \[\d+\]: "
         r"\[[^\]]*(?:__qt|embedding|__vec|__qv|__cv|__v)#[^\]]*\]\s*\n"
         r"Arguments: [^\n]*hashpartitioning\(query_id).*)\Z"),
    )
    # kmeans_lloyd (round 12): assignment is MAP-ONLY — centroids are
    # driver-side literals, so the returned frame's plan has NO join and
    # NO exchange at all (updates ran as separate bounded jobs; the
    # final frame is scan + project).
    km_plan = executed_plan(
        spark, lambda: _simo.kmeans_lloyd_distributed(emb, k=8, iters=0)
    )
    check_plan(
        "kmeans_lloyd",
        km_plan,
        ("assignment is map-only (no exchange)", r"\A(?s:(?!.*Exchange).*)\Z"),
        ("no join in assignment", r"\A(?s:(?!.*Join).*)\Z"),
    )

    # percentiles_scalable (round 14): the whole point of the gate is
    # the plan — rank-select must ride ONE hash exchange (window sort +
    # count window + final aggregate all reuse the event_type
    # partitioning) and must NOT materialize groups via collect_list.
    ps_plan = plan_of(SPARK_QUERIES["percentiles_scalable"](spark, sf_dir))
    check_plan(
        "percentiles_scalable",
        ps_plan,
        # formatted rendering: each plan NODE appears once as "(n) Op";
        # count those, not raw substrings (the details section repeats
        # operator names)
        ("exactly one exchange",
         r"\A(?s:(?!.*\(\d+\) Exchange.*\(\d+\) Exchange).*\(\d+\) Exchange.*)\Z"),
        ("no collect_list group materialization", r"\A(?s:(?!.*collect_list).*)\Z"),
        ("spillable window sort present", r"\(\d+\) Sort\b"),
    )

    # percentiles_skew (round 15 — VERDICT r14 #2's done-condition):
    # the dominant group's CORPUS-SCALE sort must be partitioned by
    # (keys, __bkt), never keys alone — a keys-only row_number window
    # over the raw rows is exactly the serialization the variant
    # removes. The offset running-sum window runs over the tiny
    # per-bucket count relation (keys-only partitioning there is fine
    # and expected). Catalyst also prunes the corpus window from the
    # counts side (row_number doesn't affect counts) — pin that: the
    # plan carries exactly ONE row_number window, and it is bucketed.
    psk_plan = plan_of(SPARK_QUERIES["percentiles_skew"](spark, sf_dir))
    check_plan(
        "percentiles_skew",
        psk_plan,
        ("hot-group row_number window carries the bucket",
         r"row_number\(\) windowspecdefinition\(event_type#\d+, __bkt#\d+L"),
        ("no keys-only corpus row_number window",
         r"\A(?s:(?!.*row_number\(\) windowspecdefinition\(event_type#\d+, value#).*)\Z"),
        ("exactly one row_number window (counts side pruned)",
         r"\A(?s:(?!.*row_number.*row_number).*row_number.*)\Z"),
        ("bucket offsets broadcast back (no corpus re-shuffle for rank)",
         r"\(\d+\) BroadcastHashJoin"),
        ("no collect_list group materialization", r"\A(?s:(?!.*collect_list).*)\Z"),
    )

    # grouped_topk_skew (round 15): same bucket device for per-group
    # top-k. The corpus window must carry the bucket, and Spark's
    # WindowGroupLimit rewrite (bounded per-partition top-k heaps, no
    # full partition sort) must hold for BOTH windows — losing it
    # silently re-inflates the exchange to corpus scale.
    tk_plan = plan_of(SPARK_QUERIES["grouped_topk_skew"](spark, sf_dir))
    check_plan(
        "grouped_topk_skew",
        tk_plan,
        ("local top-k window carries the bucket",
         r"row_number\(\) windowspecdefinition\(event_type#\d+, __bkt#\d+L"),
        ("WindowGroupLimit on the corpus window (partial)",
         r"Arguments: \[event_type#\d+, __bkt#\d+L\], \[value#\d+ DESC NULLS LAST, event_id#\d+L ASC NULLS FIRST\], row_number\(\), 5, Partial"),
        ("WindowGroupLimit on the final window too",
         r"Arguments: \[event_type#\d+\], \[value#\d+ DESC NULLS LAST, event_id#\d+L ASC NULLS FIRST\], row_number\(\), 5, Final"),
    )

    # manifest_diff (round 15): the diff's exchanges carry 32-byte
    # content hashes ONLY — document text must never shuffle (the
    # projection-then-distinct happens under the scan, so each side's
    # Exchange input is the single hash column).
    md_plan = plan_of(SPARK_QUERIES["manifest_diff"](spark, sf_dir))
    check_plan(
        "manifest_diff",
        md_plan,
        ("full outer join on the hash key", r"Join type: FullOuter"),
        ("exchanges partition by content_hash", r"hashpartitioning\(content_hash#\d+"),
        ("no text column crosses an exchange",
         r"\A(?s:(?!.*\(\d+\) Exchange\s*\nInput[^\n]*text#).*)\Z"),
        ("distinct is partially aggregated before the shuffle",
         r"\(\d+\) HashAggregate[^()]*\nInput \[1\]: \[content_hash#\d+\]"),
    )

    # embedding_neardup (round 15 fix): the LSH bucket self-join must
    # move (id, t, sig) rows ONLY — the raw embedding must never ride
    # the |tables|-way signature explode through an exchange (the old
    # shape shuffled 16x the corpus's vector bytes and OOMed the slope
    # harness at 400k vectors via an AQE broadcast misestimate).
    # Vectors legitimately cross ONE exchange per pair side (the id-key
    # fetch join after candidate dedup), so the invariant is typed and
    # node-local: no exchange output may carry an ARRAY column together
    # with the exploded signature keys. The formatted plan prints
    # attribute NAMES only, so this check walks the physical plan tree
    # and reads each exchange's output dataTypes (a name regex cannot
    # see an aliased vector — round-15 review finding, demonstrated by
    # the self-test below).
    def exchange_outputs(df):
        out = []

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.inputPlan())
                return
            if "ShuffleExchangeExec" in cls or "BroadcastExchangeExec" in cls:
                attrs = node.output()
                out.append(
                    (
                        cls,
                        [
                            (
                                attrs.apply(i).name(),
                                attrs.apply(i).dataType().typeName(),
                            )
                            for i in range(attrs.size())
                        ],
                    )
                )
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return out

    def sig_exchange_with_array(exchanges):
        return [
            cols
            for _cls, cols in exchanges
            if any(t == "array" for _n, t in cols)
            and any(n in ("sig", "s", "t", "tb", "sigb") for n, _t in cols)
        ]

    # self-test: the detector MUST fire on the rejected shape (vector
    # riding an exploded-signature shuffle) before its pass means
    # anything
    from pyspark.sql import functions as F

    bad_shape = (
        spark.range(8)
        .select(
            F.col("id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("vv"),
            F.explode(F.array(F.lit(0), F.lit(1))).alias("sig"),
        )
        .repartition(4, "sig")
    )
    det_ok = bool(sig_exchange_with_array(exchange_outputs(bad_shape)))
    print(f"{'ok  ' if det_ok else 'FAIL'}  embedding_neardup: detector self-test fires on bad shape")
    if not det_ok:
        failures.append(("embedding_neardup", "detector self-test"))

    en_df = SPARK_QUERIES["embedding_neardup"](spark, sf_dir)
    offenders = sig_exchange_with_array(exchange_outputs(en_df))
    print(
        f"{'ok  ' if not offenders else 'FAIL'}  embedding_neardup: no exchange carries vectors alongside signature keys"
    )
    if offenders:
        failures.append(("embedding_neardup", f"vector in sig exchange: {offenders}"))
    check_plan(
        "embedding_neardup",
        plan_of(en_df),
        ("no cartesian / nested-loop join",
         r"\A(?s:(?!.*CartesianProduct)(?!.*BroadcastNestedLoopJoin).*)\Z"),
    )

    # posts_export_sharded (round 15 — VERDICT r14 #5): the no-collect
    # export path's semantics. Entries must render to JSON on
    # executors (StructsToJson inside a Project), dimension joins stay
    # broadcast, and the per-shard manifest is a partially-aggregated
    # groupBy — zero driver collect anywhere (it's a pure DataFrame,
    # but pin the render/join shape).
    pes_plan = plan_of(SPARK_QUERIES["posts_export_sharded"](spark, sf_dir))
    check_plan(
        "posts_export_sharded",
        pes_plan,
        ("entries render executor-side", r"StructsToJson"),
        ("dimension joins broadcast", r"\(\d+\) BroadcastHashJoin"),
        ("no sort-merge join", r"\A(?s:(?!.*SortMergeJoin).*)\Z"),
        ("shard manifest partially aggregated", r"partial_count"),
    )

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PLAN CHECKS OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
