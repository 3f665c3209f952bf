"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names and an
order-insensitive value hash (columns sorted by name, rows sorted by their
canonical string form). Usage:

    python tools/oracle_check.py [sf_dir] [query ...]

When run over the FULL registry (no query filter), also writes
``CORRECTNESS_local.json`` at the repo root in the driver's row format —
the driver itself snapshots only the first 50 ``queries()`` entries, so
the committed local file is the evidence of record for anything past the
window (and for every rows-only query).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(value) -> str:
    import datetime
    import math

    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        # normalize -0.0 and float repr
        if value == 0:
            return "0"
        return repr(round(value, 9))
    if isinstance(value, datetime.datetime):
        return value.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(value, list):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return len(rows), sorted_cols, hash(tuple(canon_rows))


def quantitative_evidence(spark, sf_dir: str) -> dict[str, dict]:
    """Recall / error-bound evidence for the rows-only (``no_oracle``)
    queries (VERDICT r3 ask #7): each entry in ``CORRECTNESS_local.json``
    that cannot be SQL-oracled carries a measured quality number against
    an exact baseline at the SAME sf_dir, instead of only a row count.
    Mirrors the registry gates' parameters exactly; baselines are
    exact-but-quadratic paths that are cheap at correctness-gate scale.
    """
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim
    from wordpress_sql_to_contentstack_exporter_spark.plans import registry as reg
    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import load_table

    ev: dict[str, dict] = {}

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    # --- minhash/simhash: planted-pair recall. The gate queries union the
    # corpus with perturbed copies (id+1_000_000, suffixed text), so every
    # (id, id+1_000_000) pair is a known near-dup; recall = recovered
    # fraction of those planted pairs.
    def planted_recall(pairs_df) -> float:
        hits = pairs_df.filter(
            F.col("id_b") - F.col("id_a") == 1_000_000
        ).select("id_a").distinct().count()
        return round(hits / n_docs, 4)

    mh = reg.SPARK_QUERIES["minhash_neardup"](spark, sf_dir)
    ev["minhash_neardup"] = {
        "metric": "planted_neardup_pair_recall",
        "recall": planted_recall(mh),
        "planted_pairs": n_docs,
    }
    sh = reg.SPARK_QUERIES["simhash_neardup"](spark, sf_dir)
    ev["simhash_neardup"] = {
        "metric": "planted_neardup_pair_recall",
        "recall": planted_recall(sh),
        "planted_pairs": n_docs,
    }

    # --- image near-dup (dHash + banding): recall on the PNG corpus's
    # planted one-pixel-perturbed copies (every 17th doc, id+10M), plus
    # the count of non-planted pairs reported (false-positive surface —
    # distinct text-derived images should essentially never collide at
    # Hamming <= 6).
    from wordpress_sql_to_contentstack_exporter_spark.operators.image_dedup import (
        PLANT_OFFSET,
    )

    n_planted = docs.filter(F.col("doc_id") % 17 == 0).count()

    def media_pair_evidence(query: str, metric: str) -> dict:
        # ONE collect of the pair list: the decode pipeline (Python
        # codec mapInPandas over the whole corpus) is the expensive
        # stage, and a second .count() action would re-run it in full
        rows = reg.SPARK_QUERIES[query](spark, sf_dir).collect()
        hits = {r["id_a"] for r in rows if r["id_b"] - r["id_a"] == PLANT_OFFSET}
        return {
            "metric": metric,
            "recall": round(len(hits) / max(n_planted, 1), 4),
            "planted_pairs": n_planted,
            "nonplanted_pairs_reported": len(rows) - len(hits),
        }

    ev["image_neardup"] = media_pair_evidence(
        "image_neardup", "planted_perturbed_image_pair_recall"
    )
    # audio: same planted-pair protocol over the WAV corpus (every 17th
    # doc gets a noise-perturbed copy at id+10M).
    ev["audio_neardup"] = media_pair_evidence(
        "audio_neardup", "planted_perturbed_audio_pair_recall"
    )

    # --- k-core: exact agreement with an independent Python peel over
    # the same synthetic graph (the iterative fixpoint has no SQL
    # oracle; the model IS the spec).
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import _graph_edges

    edge_rows = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in _graph_edges(spark, sf_dir).collect()
        if r["src"] != r["dst"]
    }
    adj: dict[int, set[int]] = {}
    for u, v in edge_rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < 3]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    model = {(n, len(nb)) for n, nb in adj.items()}
    got = {
        (r["node"], r["degree"])
        for r in reg.SPARK_QUERIES["kcore"](spark, sf_dir).collect()
    }
    ev["kcore"] = {
        "metric": "exact_vs_python_peel",
        "match": got == model,
        "core_nodes": len(model),
    }

    # --- sentence_chunks: exact agreement with an independent Python
    # greedy packer over the SAME (oracle-verified) sentence rows.
    sent_rows = sorted(
        (
            (r["doc_id"], r["sent_idx"], r["n_tokens"], r["sentence"])
            for r in reg.SPARK_QUERIES["sentence_split"](spark, sf_dir).collect()
        )
    )
    model_chunks: dict[tuple[int, int], tuple[int, int, str]] = {}
    cur_doc, cid, cnt, nsent, parts = None, 0, 0, 0, []
    def _flush():
        if parts:
            model_chunks[(cur_doc, cid)] = (nsent, cnt, " ".join(parts))
    for doc, _idx, nt, s in sent_rows:
        if doc != cur_doc:
            _flush()
            cur_doc, cid, cnt, nsent, parts = doc, 0, 0, 0, []
        if cnt > 0 and cnt + nt > 64:
            _flush()
            cid, cnt, nsent, parts = cid + 1, 0, 0, []
        cnt += nt
        nsent += 1
        parts.append(s)
    _flush()
    got_chunks = {
        (r["doc_id"], r["chunk_id"]): (r["n_sentences"], r["n_tokens"], r["chunk_text"])
        for r in reg.SPARK_QUERIES["sentence_chunks"](spark, sf_dir).collect()
    }
    ev["sentence_chunks"] = {
        "metric": "exact_vs_python_greedy_packer",
        "match": got_chunks == model_chunks,
        "chunks": len(model_chunks),
    }

    # --- embedding LSH near-dup: recall vs the exact quadratic pair set
    # at the same threshold.
    emb = load_table(spark, sf_dir, "embeddings")
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_neardup_pairs(emb, threshold=0.35, exact=True).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in reg.SPARK_QUERIES["embedding_neardup"](spark, sf_dir).collect()
    }
    ev["embedding_neardup"] = {
        "metric": "pair_recall_vs_exact",
        "recall": round(len(lsh_pairs & exact_pairs) / max(len(exact_pairs), 1), 4),
        "exact_pairs": len(exact_pairs),
    }

    # --- ANN IVF: recall@k vs brute-force exact top-k for the same query
    # set (vec_id < 5, k=5 — the gate's shape).
    exact_topk = {
        (r["query_id"], r["neighbor_id"])
        for r in reg.SPARK_QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in reg.SPARK_QUERIES["ann_ivf_topk"](spark, sf_dir).collect()
    }
    ev["ann_ivf_topk"] = {
        "metric": "recall_at_k_vs_exact",
        "recall": round(len(approx & exact_topk) / max(len(exact_topk), 1), 4),
        "exact_neighbors": len(exact_topk),
    }

    # --- ANN PQ: recall@k vs the same brute-force exact top-k (m=16
    # sub-spaces, 16 codes, rerank=32 — the gate's shape).
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in reg.SPARK_QUERIES["ann_pq_topk"](spark, sf_dir).collect()
    }
    ev["ann_pq_topk"] = {
        "metric": "recall_at_k_vs_exact",
        "recall": round(len(pq & exact_topk) / max(len(exact_topk), 1), 4),
        "exact_neighbors": len(exact_topk),
    }

    # --- ANN IVF-PQ: same recall metric for the composed layout.
    ivfpq = {
        (r["query_id"], r["neighbor_id"])
        for r in reg.SPARK_QUERIES["ann_ivfpq_topk"](spark, sf_dir).collect()
    }
    ev["ann_ivfpq_topk"] = {
        "metric": "recall_at_k_vs_exact",
        "recall": round(len(ivfpq & exact_topk) / max(len(exact_topk), 1), 4),
        "exact_neighbors": len(exact_topk),
    }

    # --- ANN LSH: top-1 agreement with exact, measured at the GATE's
    # shipped parameters — planes come from the same _lsh_planes()
    # default q_ann_lsh_topk invokes (4 planes x 8 tables, seed 42,
    # the validated configuration per VERDICT r10 #2), so this evidence
    # block and the gate can never drift apart again. Mirrors the
    # committed test claim (tests/test_dedup_similarity.py::
    # test_lsh_topk_recall_at_least_half).
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import _lsh_planes

    q10 = emb.filter(F.col("vec_id") < 10)
    dim = len(emb.select("embedding").first()[0])
    planes = _lsh_planes(dim=dim)
    exact1 = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.cosine_topk(q10, emb, k=1).collect()
    }
    approx1 = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.lsh_topk(q10, emb, planes, k=1).collect()
    }
    ev["ann_lsh_topk"] = {
        "metric": (
            "top1_agreement_vs_exact (gate's shipped _lsh_planes() "
            "default: 4 planes x 8 tables, seed 42)"
        ),
        "recall": round(
            sum(1 for k, v in exact1.items() if approx1.get(k) == v)
            / max(len(exact1), 1),
            4,
        ),
        "queries": len(exact1),
    }

    # --- ann_recall_sweep: the gate's OUTPUT is the evidence (recall@5
    # per method over a 20-query probe set, measured in-frame against
    # the brute-force exact top-5) — collected verbatim so the
    # committed record carries the numbers, not just a row count
    # (VERDICT r8 #8).
    sweep_rows = reg.SPARK_QUERIES["ann_recall_sweep"](spark, sf_dir).collect()
    ev["ann_recall_sweep"] = {
        "metric": "recall_at_5_vs_exact (20 queries, gate parameters)",
        "recalls": {
            r["method"]: round(r["recall_at_k"], 4) for r in sweep_rows
        },
        "possible": sweep_rows[0]["possible"] if sweep_rows else 0,
    }

    # --- freq_items: the sketch guarantees every item with frequency >
    # support appears. Verify containment of the TRUE heavy hitters.
    li = load_table(spark, sf_dir, "lineitem")
    n_li = li.count()
    support = 0.2
    covered = []
    for col, out_col in [
        ("l_returnflag", "frequent_returnflags"),
        ("l_linestatus", "frequent_linestatuses"),
    ]:
        true_heavy = {
            r[col]
            for r in li.groupBy(col).count().filter(F.col("count") > support * n_li).collect()
        }
        got = set(
            reg.SPARK_QUERIES["freq_items"](spark, sf_dir)
            .select(out_col)
            .first()[0]
            .split(",")
        )
        covered.append(true_heavy <= got)
    ev["freq_items"] = {
        "metric": "true_heavy_hitter_containment",
        "bound": support,
        "contains_all_true_heavy_hitters": all(covered),
    }

    # --- approx_aggs: relative error vs exact distinct count / quantiles.
    approx = reg.SPARK_QUERIES["approx_aggs"](spark, sf_dir).first()
    exact = li.agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    ).first()
    rel = lambda a, e: abs(a - e) / abs(e) if e else 0.0  # noqa: E731
    ev["approx_aggs"] = {
        "metric": "max_relative_error_vs_exact",
        "bound": {"distinct_rsd": 0.02, "quantile_accuracy": 10000},
        "max_rel_err": round(
            max(
                rel(approx["approx_parts"], exact["parts"]),
                rel(approx["approx_median_price"], exact["p50"]),
                rel(approx["approx_p99_price"], exact["p99"]),
            ),
            6,
        ),
    }
    # --- compression_ratio: no oracle exists (no zlib in DuckDB), so
    # the evidence is SIGNAL VALIDITY: docs the repetition gate flags
    # (dup-line / dominant-bigram) must compress strictly below the
    # unflagged population mean — repetitive text is what zlib removes.
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

    rep = reg.SPARK_QUERIES["repetition"](spark, sf_dir)
    # same union corpus the repetition gate scores (raw docs + tripled
    # +1M variants), so flagged and unflagged populations both exist
    tripled = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws("\n", "text", "text", "text").alias("text"),
    )
    corpus = docs.unionByName(tripled)
    comp = tx.compression_signals(corpus)
    joined = comp.join(rep.select("doc_id", "rep_flagged"), "doc_id")
    means = {
        r["rep_flagged"]: r["mean_permille"]
        for r in joined.groupBy("rep_flagged")
        .agg(F.avg("ratio_permille").alias("mean_permille"))
        .collect()
    }
    flagged = means.get(True)
    unflagged = means.get(False)
    ev["compression_ratio"] = {
        "metric": "mean_permille_flagged_vs_unflagged",
        "flagged_mean_permille": round(flagged, 1) if flagged is not None else None,
        "unflagged_mean_permille": round(unflagged, 1) if unflagged is not None else None,
        "signal_valid": (
            flagged is not None and unflagged is not None and flagged < unflagged
        ),
    }

    # --- bpe_tokenize: no SQL oracle can express a greedy merge loop,
    # so the evidence is bit-exact agreement with an INDEPENDENT
    # reference implementation (sequential whole-word replace in merge
    # order — the classic training-style apply) over the entire corpus.
    # EQUIVALENCE PRECONDITION: sequential-replace == greedy
    # lowest-rank encode only for CREATION-ORDERED merge tables — every
    # composite symbol must be produced by an EARLIER merge (true for
    # any table actually learned by BPE training, which can only merge
    # symbols that already exist; a hand-edited table like
    # [('x','ab'), ('a','b')] breaks it: on 'xab' sequential-replace
    # yields ['x','ab'] -> no match then ['xab'?] while greedy encodes
    # differently). Asserted below so a future edit to BPE_GATE_MERGES
    # cannot silently turn this check into a false validator.
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import BPE_GATE_MERGES

    produced: set[str] = set()
    for a, b in BPE_GATE_MERGES:
        for sym in (a, b):
            assert len(sym) == 1 or sym in produced, (
                f"BPE_GATE_MERGES is not creation-ordered: {sym!r} in merge "
                f"({a!r},{b!r}) is not produced by an earlier merge — the "
                "sequential-replace reference is no longer equivalent to "
                "greedy encode; regenerate the table from actual training"
            )
        produced.add(a + b)

    def ref_encode(word: str) -> int:
        syms = list(word)
        for a, b in BPE_GATE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in reg.SPARK_QUERIES["bpe_tokenize"](spark, sf_dir).collect()
    }
    import re as _re

    def portable_words(text: str) -> list[str]:
        # mirror functions/portable.py exactly: Python str.lower() and
        # regex \s diverge from the engine chain on hazard inputs
        # (Python lower('İ') is 2 codepoints; \s matches U+0085/NBSP)
        # — round-6 code-review finding
        s = text.replace("İ", "i").lower().replace("ς", "σ")
        return [w for w in _re.split(r"[ \t\n\r\f\x0b]+", s.strip(" ")) if w]

    mismatches = 0
    sandwich_ok = True
    for r in docs.collect():
        text = r["text"] or ""
        words = portable_words(text)
        want = (len(words), sum(ref_encode(w) for w in words))
        g = got.get(r["doc_id"])
        if g != want:
            mismatches += 1
        if g and not (g[0] <= g[1] <= sum(len(w) for w in words)):
            sandwich_ok = False
    ev["bpe_tokenize"] = {
        "metric": "exact_agreement_vs_independent_sequential_reference",
        "docs": len(got),
        "mismatches": mismatches,
        "n_words<=n_bpe<=n_chars": sandwich_ok,
    }

    # --- incremental_neardup: planted-drop recall (every planted
    # id+1M batch doc is a near-dup of a manifest doc and must NOT
    # survive) plus the measured novel-survival rate of the unseen odd
    # half (not 1.0 by design — the fixture contains natural duplicate
    # families that straddle the even/odd split, and dropping those IS
    # correct behavior; the recall number is the hard claim).
    inc = {
        r["doc_id"]
        for r in reg.SPARK_QUERIES["incremental_neardup"](spark, sf_dir).collect()
    }
    n_even = docs.filter(F.col("doc_id") % 2 == 0).count()
    n_odd = n_docs - n_even
    planted_surviving = sum(1 for i in inc if i >= 1_000_000)
    novel_surviving = sum(1 for i in inc if i < 1_000_000)
    ev["incremental_neardup"] = {
        "metric": "planted_drop_recall_and_novel_survival",
        "planted_drop_recall": round(1 - planted_surviving / max(n_even, 1), 4),
        "planted": n_even,
        "novel_survival_rate": round(novel_surviving / max(n_odd, 1), 4),
        "novel": n_odd,
    }

    # --- dedup_calibration: the sweep operator itself is oracle-gated;
    # the COMPOSITION's evidence is the planted-separation property the
    # docstring specifies: the top score bucket is >= 80% planted pairs
    # (the fixture also holds natural duplicates, so perfect purity is
    # not the spec), and the cumulative confusion counts are monotone
    # in the threshold (tp/fp nonincreasing as the bucket rises).
    cal = sorted(
        reg.SPARK_QUERIES["dedup_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    top = cal[-1]
    top_precision = top["tp"] / max(top["tp"] + top["fp"], 1)
    mono = all(
        a["tp"] >= b["tp"] and a["fp"] >= b["fp"]
        for a, b in zip(cal, cal[1:])
    )
    ev["dedup_calibration"] = {
        "metric": "planted_separation_top_bucket_precision",
        "top_bucket_precision": round(top_precision, 4),
        "top_bucket_precision>=0.8": top_precision >= 0.8,
        "cumulative_counts_monotone": mono,
        "buckets": len(cal),
    }

    # --- curation_pipeline: one row of exact stage counts; the
    # evidence is the monotone ladder every curation run must satisfy
    # plus two exact cross-checks derivable without rerunning stages:
    # the input is the corpus + its perturbed copy (2x docs), and
    # keeper selection emits exactly one keeper per cluster.
    cp = reg.SPARK_QUERIES["curation_pipeline"](spark, sf_dir).collect()[0]
    ev["curation_pipeline"] = {
        "metric": "stage_count_ladder_and_exact_crosschecks",
        "counts": {k: cp[k] for k in cp.asDict()},
        "ladder_monotone": (
            cp["n_input"] >= cp["n_quality"] >= cp["n_after_exact"]
            >= cp["n_final"]
        ),
        "n_input_is_2x_docs": cp["n_input"] == 2 * n_docs,
        "n_final_equals_n_clusters": cp["n_final"] == cp["n_clusters"],
    }

    # --- hll_sketches: estimates are engine-specific (no DuckDB
    # mirror), so the evidence is the measured relative error vs the
    # EXACT distinct counts at the same sf — per event_type and for the
    # merged __all__ union row, against the <2% bound the gate's
    # docstring and test_approx pin.
    est = {
        r["event_type"]: r["est_users"]
        for r in reg.SPARK_QUERIES["hll_sketches"](spark, sf_dir).collect()
    }
    e_tbl = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e_tbl.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = e_tbl.select("user_id").distinct().count()
    # --- sliding_hll: same protocol as hll_sketches, against the exact
    # sliding-window COUNT(DISTINCT) computed independently in DuckDB
    # (windows keyed identically: label = exclusive end epoch, complete
    # windows only).
    import duckdb as _duck

    _con = _duck.connect()
    _con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    # CAST(floor(x / D.0)) not integer // : DuckDB's integer // TRUNCATES
    # toward zero (verified: -7 // 2 = -3), while the operator floors —
    # they differ exactly on pre-1970 epochs (round-8 review finding).
    # The double division is exact here (|epoch_us| << 2^53, and exact
    # multiples of D divide to representable integers).
    _bexpr = "CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT)"
    _mn, _mx = _con.execute(
        f"SELECT min({_bexpr}), max({_bexpr}) "
        "FROM events WHERE ts IS NOT NULL"
    ).fetchone()
    exact_sw = {
        (r[0], r[1]): r[2]
        for r in _con.execute(
            f"""
            WITH e AS (
                SELECT event_type, user_id,
                       {_bexpr} AS b
                FROM events WHERE ts IS NOT NULL
            ), w AS (
                SELECT gs AS wid
                FROM generate_series({int(_mn) + 6}, {int(_mx)}) AS t(gs)
            )
            SELECT e.event_type,
                   (w.wid + 1) * 86400 AS window_end_epoch,
                   count(DISTINCT e.user_id)::BIGINT AS n
            FROM e JOIN w ON e.b BETWEEN w.wid - 6 AND w.wid
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    est_sw = {
        (r["event_type"], r["window_end_epoch"]): r["est_distinct"]
        for r in reg.SPARK_QUERIES["sliding_hll"](spark, sf_dir).collect()
    }
    sw_missing = sorted(
        f"{k[0]}@{k[1]}" for k in set(exact_sw) - set(est_sw)
    )
    sw_errs = [
        abs(est_sw[k] - exact_sw[k]) / max(exact_sw[k], 1)
        for k in exact_sw
        if k in est_sw
    ]
    sw_max = max(sw_errs) if sw_errs else None
    ev["sliding_hll"] = {
        "metric": "relative_error_vs_exact_sliding_distinct",
        "windows": len(sw_errs),
        "missing_windows": sw_missing[:10],
        "max_rel_error": round(sw_max, 5) if sw_max is not None else None,
        "max_rel_error<0.02": (
            sw_max is not None and sw_max < 0.02 and not sw_missing
        ),
    }

    missing_groups = sorted(set(exact) - set(est))
    rel_errs = {
        k: abs(est[k] - exact[k]) / max(exact[k], 1)
        for k in exact
        if k in est
    }
    max_err = max(rel_errs.values()) if rel_errs else None
    ev["hll_sketches"] = {
        "metric": "relative_error_vs_exact_distinct",
        "groups": len(rel_errs),
        # a dropped group must FAIL the bound, not silently shrink the
        # comparison set (round-8 review finding)
        "missing_groups": missing_groups,
        "max_rel_error": round(max_err, 5) if max_err is not None else None,
        "max_rel_error<0.02": (
            max_err is not None and max_err < 0.02 and not missing_groups
        ),
    }

    # --- quality_classifier: the gate's training trajectory (iter,
    # loss_q, correct, n — exact fixed-point longs) is recomputed by a
    # SINGLE-NODE numpy reference implementing the same quantized
    # full-batch GD. The only Spark-derived input is the token->bucket
    # hash map (data, not logic); tokenization, normalization, the
    # per-row sigmoid/loss, the per-(row,dim) fixed-point flooring and
    # the weight updates are all independent. Because per-row
    # quantization happens BEFORE any sum, distributed and single-node
    # training are bit-identical — mismatch at ANY iteration fails.
    import numpy as np

    qc_rows = reg.SPARK_QUERIES["quality_classifier"](spark, sf_dir).collect()
    lab_rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    QB = 1024
    tok_docs = []
    for r in lab_rows:
        ws = portable_words(r["text"])
        tok_docs.append((int(ws.count("merge") > ws.count("join")), ws))
    vocab = sorted({t for _, ws in tok_docs for t in ws})
    tok_bucket = {
        t: r["b"]
        for t, r in zip(
            vocab,
            spark.createDataFrame([(t,) for t in vocab], "t string").select(
                F.pmod(F.xxhash64("t"), F.lit(QB)).alias("b")
            ).collect(),
        )
    }
    feat_docs = []
    for y, ws in tok_docs:
        cnt: dict[int, int] = {}
        for t in ws:
            bk = tok_bucket[t]
            cnt[bk] = cnt.get(bk, 0) + 1
        fs = np.array(sorted(cnt), dtype=np.int64)
        # raw counts (l1_normalize=False — the gate's setting)
        vs = np.array([float(cnt[f]) for f in fs], dtype=np.float64)
        feat_docs.append((y, fs, vs))
    qscale = float(1 << 28)
    w_ref = np.zeros(QB + 1, dtype=np.float64)
    ref_hist = []
    for it in range(30):
        acc = np.zeros(QB + 1, dtype=np.int64)
        loss_q = 0
        correct = 0
        for y, fs, vs in feat_docs:
            z = float(vs @ w_ref[fs] + w_ref[QB])
            if z >= 0:
                ez = np.exp(-z)
                sig = 1.0 / (1.0 + ez)
                loss = np.log1p(ez) + (1 - y) * z
            else:
                ez = np.exp(z)
                sig = ez / (1.0 + ez)
                loss = np.log1p(ez) - y * z
            err = sig - float(y)
            np.add.at(acc, fs, np.floor(err * vs * qscale).astype(np.int64))
            acc[QB] += int(np.floor(err * qscale))
            loss_q += int(np.floor(loss * qscale))
            correct += int((sig >= 0.5) == bool(y))
        n = len(feat_docs)
        ref_hist.append((it, loss_q, correct, n))
        w_ref -= (2.0 / (1.0 + 0.25 * it)) * (
            acc.astype(np.float64) / qscale / n
        )
    got_hist = sorted(
        (r["iter"], r["loss_q"], r["correct"], r["n"]) for r in qc_rows
    )
    qc_diverged = [
        {"iter": g[0], "spark": list(g), "ref": list(e)}
        for g, e in zip(got_hist, ref_hist)
        if g != e
    ]
    final_acc = got_hist[-1][2] / max(got_hist[-1][3], 1) if got_hist else 0.0
    ev["quality_classifier"] = {
        "metric": "bit_exact_training_trajectory_vs_single_node",
        "iters": len(got_hist),
        "diverged_iters": qc_diverged[:3],
        "trajectory_exact_match": not qc_diverged and len(got_hist) == 30,
        "final_train_accuracy": round(final_acc, 4),
    }

    # --- dsir: exact independent recompute. The ONLY Spark-derived input
    # the Python reference takes is the gram->bucket hash mapping (a
    # tiny distinct-gram job — xxhash64 is engine-specific data here,
    # not logic under test); tokenization, bigramming, Laplace counts,
    # the log-ratio weights, fixed-point flooring, per-doc summation and
    # the Gumbel-top-k resample are all recomputed in pure Python and
    # must match the gate bit-for-bit on score_scaled.
    import hashlib
    import math

    dsir_rows = reg.SPARK_QUERIES["dsir"](spark, sf_dir).collect()
    doc_rows = docs.collect()
    B = 4096
    py_bigrams: dict[int, list[str]] = {}
    all_grams: set[str] = set()
    for r in doc_rows:
        ws = portable_words(r["text"])
        gs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        py_bigrams[r["doc_id"]] = gs
        all_grams.update(gs)
    gram_list = sorted(all_grams)
    bucket_of = {
        g: r["b"]
        for g, r in zip(
            gram_list,
            spark.createDataFrame(
                [(g,) for g in gram_list], "g string"
            ).select(
                F.pmod(F.xxhash64("g"), F.lit(B)).alias("b")
            ).collect(),
        )
    }
    ctb: dict[int, int] = {}
    crb: dict[int, int] = {}
    nt = nr = 0
    for did, gs in py_bigrams.items():
        for g in gs:
            bk = bucket_of[g]
            crb[bk] = crb.get(bk, 0) + 1
            nr += 1
            if did % 10 == 0:
                ctb[bk] = ctb.get(bk, 0) + 1
                nt += 1
    wsc = {
        bk: math.floor(
            (
                math.log((ctb.get(bk, 0) + 1) / (nt + B))
                - math.log((crb[bk] + 1) / (nr + B))
            )
            * (1 << 20)
        )
        for bk in crb
    }
    py_scores = {
        did: sum(wsc[bucket_of[g]] for g in gs)
        for did, gs in py_bigrams.items()
    }
    # Exactness caveat (round-9 review): Spark's weights come from JVM
    # Math.log, this reference's from CPython libm — both 1-ulp-correct
    # but not specified identical, so a weight landing within one ulp
    # of an integer at the floor can legitimately differ by 1. Each
    # gram contributes one floored weight, so the PRINCIPLED bound is
    # |py − spark| <= n_grams per doc; exact equality is reported (and
    # has held on every run so far) while the bound is the hard claim —
    # the log-ulp discipline of the sampling operators applied to evidence.
    score_mismatch = [
        r["doc_id"]
        for r in dsir_rows
        if py_scores.get(r["doc_id"], 0) != r["score_scaled"]
    ]
    dsir_bound_ok = all(
        abs(py_scores.get(r["doc_id"], 0) - r["score_scaled"]) <= r["n_grams"]
        for r in dsir_rows
    )

    def gumbel_key(did: int, score: float) -> float:
        h = hashlib.md5(f"dsir:42:{did}".encode()).hexdigest()[:15]
        u = (float(int(h, 16)) + 1.0) / float(16**15)
        return score - math.log(-math.log(u))

    py_sel = {
        did
        for _, did in sorted(
            (
                (-gumbel_key(r["doc_id"], r["score"]), r["doc_id"])
                for r in dsir_rows
            )
        )[:50]
    }
    spark_sel = {r["doc_id"] for r in dsir_rows if r["selected"]}
    ev["dsir"] = {
        "metric": "exact_fixed_point_scores_and_resample_agreement",
        "docs": len(dsir_rows),
        "score_scaled_mismatches": score_mismatch[:10],
        "scores_exact_match": not score_mismatch,
        "within_floor_ulp_bound": dsir_bound_ok,
        "resample_agreement": round(
            len(py_sel & spark_sel) / max(len(spark_sel), 1), 4
        ),
    }

    # --- semdedup: the gate runs the corpus + a jittered copy of every
    # vector (cosine-to-original ≈ 0.9998 >> the 0.9 gate threshold), so
    # every (id, id+1M) pair is a planted semantic dup: drop-recall is
    # the fraction of pairs resolved to a single survivor, and
    # distinct-content survival checks no pair lost BOTH members.
    sd = reg.SPARK_QUERIES["semdedup"](spark, sf_dir).collect()
    sd_kept = {r["vec_id"] for r in sd if r["keep"]}
    sd_orig = sorted(r["vec_id"] for r in sd if r["vec_id"] < 1_000_000)
    sd_resolved = sum(
        1
        for i in sd_orig
        if (i in sd_kept) != ((i + 1_000_000) in sd_kept)
    )
    sd_alive = sum(
        1
        for i in sd_orig
        if (i in sd_kept) or ((i + 1_000_000) in sd_kept)
    )
    ev["semdedup"] = {
        "metric": "planted_pair_resolution_and_content_survival",
        "planted_pairs": len(sd_orig),
        "pair_resolution_rate": round(sd_resolved / max(len(sd_orig), 1), 4),
        "content_survival_rate": round(sd_alive / max(len(sd_orig), 1), 4),
        "survivors": len(sd_kept),
    }

    return ev


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

    spark = get_spark("oracle_check")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark:{type(e).__name__}",
            }
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            # type gate FIRST (the round-6 failure class): a HUGEINT /
            # DECIMAL output column hashes identically here (fetchall ->
            # Python int) but renders differently under other client
            # fetch paths (pandas -> float64), which is exactly how four
            # locally-green queries redded in the round-6 driver env.
            rel = con.sql(oracles[name])
            loud = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t) in ("HUGEINT", "UHUGEINT")
                or str(t).startswith("DECIMAL")
            ]
            if loud:
                raise TypeError(
                    f"oracle emits client-render-sensitive types {loud}; "
                    "cast sums to ::BIGINT (tests/test_oracle_lint.py family F)"
                )
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"duckdb:{type(e).__name__}",
            }
            continue
        sn, sc, sh = frame_fingerprint(scols, srows)
        dn, dc, dh = frame_fingerprint(dcols, drows)
        status = "ok  " if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        report[name] = {
            "rows_match": sn == dn, "schema_match": sc == dc, "hash_match": sh == dh,
            "spark_rows": sn, "oracle_rows": dn, "err": None,
        }
        if status == "FAIL":
            failures.append(name)
        print(f"{status}  {name}: spark {sn} rows, duck {dn} rows, "
              f"cols {'=' if sc == dc else f'{sc} vs {dc}'}, "
              f"hash {'=' if sh == dh else '!='} ({time.time()-t0:.1f}s)")
        if status == "FAIL" and sn == dn and sc == dc:
            # show first differing canonical rows for debugging
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            rs = sorted("|".join(canon(r[i]) for i in order_s) for r in srows)
            rd = sorted("|".join(canon(r[i]) for i in order_d) for r in drows)
            for a, b in zip(rs, rd):
                if a != b:
                    print(f"      spark: {a}\n      duck : {b}")
                    break
    if not only:
        import json
        import os

        # Attach quantitative evidence (recall/error bounds vs exact
        # baselines) to the no_oracle rows, so the committed record for
        # un-SQL-able queries is a measured number, not just a row count.
        try:
            for name, fields in quantitative_evidence(spark, sf_dir).items():
                if name in report:
                    report[name]["evidence"] = fields
        except Exception as e:  # evidence must never mask a gate result
            print(f"WARN  quantitative evidence failed: {type(e).__name__}: {e}")
            failures.append("quantitative_evidence")

        # scale-suffixed filename for non-driver scales: a full sf0.1
        # sweep must not clobber the sf0.01 evidence file (it did, once)
        fname = (
            "CORRECTNESS_local.json"
            if sf_dir.rstrip("/").endswith("sf0.01")
            else f"CORRECTNESS_local_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}.json"
        )
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           fname)
        with open(out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": report}, f, indent=2)
        print(f"\nwrote {out} ({len(report)} queries)")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
