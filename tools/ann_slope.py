"""Embedding/ANN-family 2x scaling slopes (VERDICT r14 #4).

The dedup family got its 200k->400k document curve in round 14; this
harness records the same evidence for the embedding plane: synthetic
deterministic corpora at N and 2N vectors (dim 64, 10 perturbed
variants per base so near-dup structure exists), one warm wall per
cell after one cold run, measuring:

- ``semdedup``        — cluster + within-cell greedy prune. n_cells
  scales WITH the corpus (128 @ 200k, 256 @ 400k): the paper's own
  cost model (50k clusters for LAION) — cells stay bounded, so the
  within-cell quadratic never grows; fixing n_cells while doubling N
  would instead double cell occupancy and 4x the greedy matmuls,
  which is exactly the operating error the cost model exists to rule
  out.
- ``embedding_neardup`` (LSH, exact=False) — planes-per-table scales
  +1 bit per corpus doubling (16 @ 200k, 17 @ 400k), the standard LSH
  occupancy law: expected bucket size stays constant, so scored
  candidate pairs grow with BUCKET VOLUME (linear), not corpus pairs
  (quadratic).
- ``ivfpq_index``     — build side: fit (bounded driver sample) + the
  distributed encode pass, map-only; expected slope <= 2x (a scan).
- ``ivfpq_probe``     — query side: 500 fixed queries against the
  N-sized encoded index, n_probe=4 of 64 cells; cost is probed-cell
  volume N * n_probe / n_cells — linear in N, never |Q| x N pairs.

Usage: python tools/ann_slope.py [base_n] [mult ...]
Defaults: base_n=200_000, mults 1 2. Prints one JSON line per cell
plus a summary; transcribe into SCALE.md (round 15 section).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_vectors(spark, n: int, variants: int = 10):
    """Deterministic (vec_id, embedding array<double> dim 64) corpus:
    n/variants base vectors from xxhash64 arithmetic (JVM-side, no
    Python, no RNG state), each with `variants` small perturbations —
    planted near-dup families, like the dedup tier's text corpus."""
    from pyspark.sql import functions as F

    base_n = n // variants
    ids = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % base_n).alias("__b"),
        (F.col("id") / base_n).cast("long").alias("__k"),
    )
    vec = F.expr(
        "transform(sequence(0, 63), j -> "
        "  CAST(xxhash64(__b * 64 + j) % 1001 AS DOUBLE) / 1000.0"
        "  + CASE WHEN j = __k % 64 THEN 0.01 * __k ELSE 0.0 END)"
    )
    return ids.select("vec_id", vec.alias("embedding"))


def warm_wall(df, label: str = "") -> tuple[float, float]:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    cold = time.perf_counter() - t0
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    warm = time.perf_counter() - t1
    if label:
        # per-op progress line (round-15 lesson: a crashed cell that
        # only prints at cell end hides WHICH op died and loses the
        # finished ops' numbers)
        print(
            json.dumps({"op": label, "cold_s": round(cold, 2), "warm_s": round(warm, 2)}),
            file=sys.stderr,
            flush=True,
        )
    return round(cold, 2), round(warm, 2)


def main() -> None:
    from pyspark.sql import functions as F

    from wordpress_sql_to_contentstack_exporter_spark.operators import similarity as sim
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import _lsh_planes
    from wordpress_sql_to_contentstack_exporter_spark.session import get_spark

    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    mults = [int(a) for a in sys.argv[2:]] or [1, 2]

    spark = get_spark("ann_slope")
    out: dict[str, dict] = {}
    for mult in mults:
        n = base_n * mult
        vecs = synth_vectors(spark, n).localCheckpoint()  # corpus read stand-in
        row: dict[str, object] = {"n_vectors": n}

        # --- semdedup: n_cells scales with corpus (bounded cells) ---
        n_cells = 128 * mult
        cold, warm = warm_wall(
            sim.semdedup(vecs, n_cells=n_cells, threshold=0.95, fit_sample=4096),
            label=f"semdedup@{n}",
        )
        row["semdedup"] = {"n_cells": n_cells, "cold_s": cold, "warm_s": warm}

        # --- embedding_neardup LSH: +1 plane per doubling ---
        n_planes = 16 + (mult.bit_length() - 1)
        planes = _lsh_planes(num_tables=16, num_planes=n_planes, dim=64, seed=7)
        cold, warm = warm_wall(
            sim.embedding_neardup_pairs(
                vecs, threshold=0.9, exact=False, planes_tables=planes
            ),
            label=f"embedding_neardup@{n}",
        )
        row["embedding_neardup"] = {
            "num_planes": n_planes, "cold_s": cold, "warm_s": warm,
        }

        # --- ivfpq build side: fit + distributed encode ---
        t0 = time.perf_counter()
        idx, centers, books = sim.ivfpq_index(vecs, n_cells=64, m=8, n_codes=16)
        idx.write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 2)
        t1 = time.perf_counter()
        idx2, _, _ = sim.ivfpq_index(
            vecs, n_cells=64, m=8, n_codes=16, centers=centers, codebooks=books
        )
        idx2.write.format("noop").mode("overwrite").save()
        warm = round(time.perf_counter() - t1, 2)
        row["ivfpq_build"] = {"cold_s": cold, "warm_s": warm}

        # --- ivfpq query side: fixed 500 queries vs the N-sized index ---
        idx_mat = idx.localCheckpoint()  # the persisted-index stand-in
        queries = synth_vectors(spark, 500).withColumn(
            "vec_id", F.col("vec_id") + 10_000_000
        )
        probe = sim.ivfpq_probe(
            queries, idx_mat, centers, books,
            candidates=vecs, k=5, n_probe=4, rerank=32,
        )
        cold, warm = warm_wall(probe, label=f"ivfpq_probe@{n}")
        row["ivfpq_probe"] = {"n_queries": 500, "cold_s": cold, "warm_s": warm}

        out[str(n)] = row
        print(json.dumps(row), flush=True)

    if len(mults) >= 2:
        a, b = out[str(base_n * mults[0])], out[str(base_n * mults[-1])]
        slopes = {
            # max() guard: a sub-5ms warm wall rounds to 0.0 at small
            # base_n and a bare division would ZeroDivisionError away
            # the summary line (review r15)
            op: round(b[op]["warm_s"] / max(a[op]["warm_s"], 0.01), 2)
            for op in ("semdedup", "embedding_neardup", "ivfpq_build", "ivfpq_probe")
        }
        print(json.dumps({"data_ratio": mults[-1] / mults[0], "warm_slopes": slopes}))


if __name__ == "__main__":
    main()
