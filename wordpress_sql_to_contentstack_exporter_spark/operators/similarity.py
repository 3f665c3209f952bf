"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Cost is |Q| x |C|; fine when the query set is small (it's a broadcast
  nested-loop with per-row vector math in codegen), wrong when both sides
  are huge.
- ``lsh_topk``: random-hyperplane LSH bucketing — the scale path. Vectors
  only compare within matching signature buckets; multiple hash tables
  recover recall. At 100 TB the bucket join is a shuffle on small integer
  keys, never all-pairs.

Vector math uses built-in higher-order functions (zip_with/aggregate) in
double precision — JVM-side, deterministic left-to-right summation (which
the DuckDB oracle reproduces bit-for-bit).

Measured dead end (round 4, don't re-attempt): unrolling the cosine into
``dim`` fixed ``a[i]*b[i]`` expressions to get whole-stage codegen was
reliably ~25% SLOWER than the interpreted HOF fold at dim=64 (median
0.59 s vs 0.47 s on the sf0.1 brute-force top-k, 6 interleaved reps) —
the JIT's tight loop over the array beats 384 inlined GetArrayItem+null
checks. The Arrow/numpy pandas UDF was ~30% faster than the HOF but
risks bit-parity with the DuckDB oracle fold (pairwise vs left-to-right
summation) on ranks with near-tied cosines, so the HOF stays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (a bare
    division would abort the whole job under Spark 4's default ANSI mode
    the moment one padding/failed-encoder zero vector appears)."""
    ad, bd = _as_double(a), _as_double(b)
    denom = l2_norm(ad) * l2_norm(bd)
    return F.when(denom > 0, dot(ad, bd) / denom).otherwise(F.lit(0.0))


def embedding_neardup_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    planes_tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    ``exact=True`` is the all-pairs baseline — correct at fixture scale,
    quadratic cost. For 100 TB use ``exact=False`` with LSH tables: only
    bucket-colliding pairs are scored (same machinery as ``lsh_topk``).
    """
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        paired = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        assert planes_tables is not None
        # One Arrow pass computes every table's signature; posexplode makes
        # (table, sig) the bucket key. Signatures are computed ONCE on the
        # shared frame and materialized (lazy localCheckpoint, at first
        # action) so the self-join doesn't recompute the UDF per side
        # (Spark does not reuse exchanges across self-joins); unlike
        # persist(), the blocks are auto-released once the result goes out
        # of scope, and unlike eager=True, query construction stays
        # job-free. Executor-loss tradeoff documented at
        # minhash_lsh_candidates (dedup.py).
        #
        # The bucket self-join carries IDS ONLY (round-15 fix): the
        # earlier shape dragged the raw vector through the signature
        # explode, so the exchange moved |tables| x the corpus's vector
        # bytes and the join sides were GBs (AQE then broadcast a
        # misestimated checkpoint side and OOMed at 400k vectors in the
        # slope harness — the measured failure that forced this). Now
        # the exchange rows are (id, t, sig) = 24 bytes; vectors are
        # fetched ONCE per pair side by id-joins against the corpus
        # below, which at 100 TB is two co-partitioned hash joins
        # instead of 16x vector volume through a bucket shuffle.
        sigs = vectors.select(
            F.col(id_col).alias("vid"),
            F.posexplode(
                hyperplane_signatures_pandas(vec_col, planes_tables)
            ).alias("t", "sig"),
        ).localCheckpoint(eager=False)
        b_sig = sigs.select(
            F.col("vid").alias("id_b"),
            F.col("t").alias("tb"), F.col("sig").alias("sigb"),
        )
        # Explicit WIDE repartition between candidate dedup and the
        # fetch/rescore joins: the deduped pair rows are 16 bytes but
        # each costs ~2 KB of downstream work (two vector fetches + a
        # 3-fold HOF cosine), so AQE's size-targeted coalescing
        # (parallelismFirst=false) funnels the whole rescore through a
        # handful of reducers — measured 366 s -> 47 s at 200k vectors
        # / 10.9M candidates on local[32] from this one exchange of
        # id-pairs. The explicit partition count (the session's
        # shuffle.partitions) is respected by AQE, unlike an implicit
        # ENSURE_REQUIREMENTS exchange.
        n_part = int(
            vectors.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        paired = (
            sigs.select(F.col("vid").alias("id_a"), "t", "sig")
            .join(
                b_sig,
                (F.col("t") == F.col("tb"))
                & (F.col("sig") == F.col("sigb"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .repartition(n_part, "id_a")
            .join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "va", "id_b", "vb")
        )
    # unrounded: the HOF fold is bit-identical cross-engine (see module
    # docstring); a round(x, 6) re-round is the only 1-ULP divergence
    # hazard, so the raw double IS the stable contract.
    scored = paired.select(
        "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def _lloyd(x: np.ndarray, k: int, rng: np.random.Generator, max_iter: int) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side sample -> (k, d) centers.

    Seeded init from distinct rows (jitter-padded when the sample is
    degenerate), fixed iteration count, numpy-argmin ties to the lower
    index — bit-reproducible across runs.
    """
    if x.size == 0:
        raise ValueError(
            "cannot fit k-means on an empty sample — the candidate set has no rows"
        )
    uniq = np.unique(x, axis=0)
    if len(uniq) >= k:
        centers = uniq[rng.choice(len(uniq), k, replace=False)]
    else:  # degenerate sample: pad with jittered repeats
        pad = uniq[rng.integers(0, len(uniq), k - len(uniq))]
        centers = np.concatenate([uniq, pad + rng.normal(0, 1e-6, pad.shape)])
    for _ in range(max_iter):
        d2 = (centers**2).sum(axis=1)[None, :] - 2.0 * (x @ centers.T)
        assign = d2.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
    return centers


def _fit_coarse_centers(
    candidates: DataFrame,
    vec_col: str,
    n_cells: int,
    *,
    seed: int,
    max_iter: int,
    fit_sample: int,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Coarse-quantizer centers from a bounded driver-side sample.

    Index *construction* is the one legitimately driver-side stage of
    IVF (FAISS trains coarse quantizers on ~100k samples even for
    billion-vector corpora): centroid quality needs a sketch of the
    distribution, not the corpus. A distributed k-means here costs
    multiple scheduler round-trips per iteration for no accuracy gain —
    measured 8 s of pure MLlib overhead on a 2k-row fixture.

    The sketch is a HASH-ORDERED pick (ADVICE r4): ``limit(n)`` alone
    takes head-of-partition rows, which on a corpus laid out
    non-randomly (parquet sorted by time/category) is a biased sample
    that degrades cell quality and makes results layout-dependent.
    Ordering by ``xxhash64(id)`` first is a deterministic pseudo-random
    shuffle independent of physical layout, and Spark compiles
    orderBy+limit to TakeOrderedAndProject (a top-n per partition +
    driver merge), not a full sort — scale-safe.
    """
    x = _collect_fit_sample(candidates, vec_col, fit_sample, id_col=id_col)
    return _lloyd(x, n_cells, np.random.default_rng(seed), max_iter)


def _collect_fit_sample(
    candidates: DataFrame, vec_col: str, fit_sample: int, *, id_col: str
) -> np.ndarray:
    """Deterministic layout-independent fit sample: hash-order by id,
    take ``fit_sample`` rows (TakeOrderedAndProject — no full sort)."""
    rows = (
        candidates.select(
            _as_double(F.col(vec_col)).alias("v"),
            F.xxhash64(F.col(id_col)).alias("__h"),
        )
        .orderBy("__h")
        .limit(fit_sample)
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def cell_assign_pandas(vec_col: str, centers: np.ndarray) -> Column:
    """Nearest-center cell id (L2, like FAISS coarse quantizers) in one
    vectorized Arrow pass; the (n_cells, d) centers ride the UDF closure
    instead of a literal expression tree (which cost one py4j round-trip
    per float to build)."""
    from pyspark.sql.functions import pandas_udf

    c2 = (centers**2).sum(axis=1)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        scores = c2[None, :] - 2.0 * (mat @ centers.T)
        return pd.Series(scores.argmin(axis=1).astype(np.int32))

    return _assign(F.col(vec_col))


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    fit_sample: int = 4096,
    centers: np.ndarray | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells + multi-probe.

    Index build: driver-side Lloyd k-means on a ``fit_sample`` sketch
    partitions the corpus into ``n_cells`` cells; each candidate gets its
    cell id in one vectorized Arrow pass. Query: each query probes its
    ``n_probe`` nearest centroids and exact-reranks only those cells —
    cost scales with n_probe/n_cells of the corpus instead of all of it.
    Compared to hyperplane LSH, IVF adapts to the data distribution
    (cells follow density), which is why it's the standard ANN layout
    (FAISS IVF*) for real embedding corpora.

    The fitted centroids are driver-side (tiny); assignment and rerank
    are distributed.

    Pass prefit ``centers`` (e.g. an earlier run's fit) to skip
    the fit — the production shape: an index is trained once and reused
    across query batches and sessions; refitting per query batch both
    wastes the sample collect and silently changes the cell layout
    between runs.
    """
    if centers is None:
        centers = _fit_coarse_centers(
            candidates, vec_col, n_cells, seed=seed, max_iter=max_iter, fit_sample=fit_sample
        )
    else:
        centers = np.asarray(centers, dtype=np.float64)
        if centers.ndim != 2 or len(centers) != n_cells:
            raise ValueError(
                f"prefit centers must be (n_cells={n_cells}, dim); got {centers.shape}"
            )
    assigned = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        cell_assign_pandas(vec_col, centers).alias("cell"),
    )

    centers_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    centers_df = queries.sparkSession.createDataFrame(
        centers_rows, "cell int, center array<double>"
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # nearest n_probe centroids per query (tiny cross join: |Q| x n_cells)
    q_cells = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("cdist", cosine(F.col("qv"), F.col("center")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cdist").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "qv", "cell")
    )

    scored = (
        q_cells.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _pq_fit_codebooks(
    sample: np.ndarray, m: int, n_codes: int, *, seed: int, max_iter: int
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-side sample.

    Returns (m, n_codes, d_sub) centroids. Index *construction* is the
    one legitimately driver-side, sample-driven stage of PQ (exactly
    like IVF's fit): codebook quality needs a sketch of the coordinate
    distribution, not the corpus. Deterministic: seeded init (distinct
    rows where possible), fixed iteration count, ties to lower index.
    """
    n, dim = sample.shape
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, d_sub), dtype=np.float64)
    for s in range(m):
        books[s] = _lloyd(sample[:, s * d_sub : (s + 1) * d_sub], n_codes, rng, max_iter)
    return books


def pq_encode_pandas(vec_col: str, books: np.ndarray) -> Column:
    """PQ encoding -> struct<codes: array<int>, recon_norm: double> in
    one Arrow batch per block.

    code_s = argmin_j ||x_s - c_{s,j}||^2, vectorized as one
    ``||c||^2 - 2 x·c`` matmul per subspace (the ||x||^2 term is
    constant under the argmin). Ties break to the lower code index
    (numpy argmin), so encoding is deterministic. recon_norm = ||x̂|| is
    computed here from the already-in-hand per-code squared norms — the
    codebooks never have to be re-materialized as Catalyst literals.
    """
    m, n_codes, d_sub = books.shape
    from pyspark.sql.functions import pandas_udf

    c2_all = (books**2).sum(axis=2)  # (m, n_codes)

    @pandas_udf("codes array<int>, recon_norm double")
    def _enc(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        codes = np.empty((mat.shape[0], m), dtype=np.int32)
        norm2 = np.zeros(mat.shape[0], dtype=np.float64)
        for s in range(m):
            x = mat[:, s * d_sub : (s + 1) * d_sub]
            scores = c2_all[s][None, :] - 2.0 * (x @ books[s].T)
            cs = scores.argmin(axis=1)
            codes[:, s] = cs
            norm2 += c2_all[s][cs]
        return pd.DataFrame({"codes": list(codes), "recon_norm": np.sqrt(norm2)})

    return _enc(F.col(vec_col))


def ivfpq_encode_pandas(
    vec_col: str, centers: np.ndarray, books: np.ndarray, *, by_residual: bool = True
) -> Column:
    """Combined IVF routing + PQ encode in ONE Arrow pass →
    ``struct<cell int, codes array<int>, recon_norm double>``.

    With ``by_residual=True`` (standard FAISS IVFPQ) the PQ codes
    quantize ``v - centroid(cell)`` instead of the raw vector: residuals
    are much smaller and better centered than raw vectors, so the same
    codebook budget spends its resolution where the data actually is —
    the known recall upgrade over ``by_residual=False`` at unchanged
    n_probe. ``recon_norm`` is the norm of the full reconstruction
    ``centroid + dequant(codes)`` (computed here per subspace while the
    codebook rows are in hand), so the ADC cosine denominator needs no
    second pass. Cell assignment and per-subspace argmins share the
    ``||c||² - 2 x·c`` matmul trick (the ``||x||²`` term is constant
    under argmin); ties break to the lower index — deterministic.
    """
    m, n_codes, d_sub = books.shape
    from pyspark.sql.functions import pandas_udf

    c2 = (centers**2).sum(axis=1)
    b2 = (books**2).sum(axis=2)  # (m, n_codes)

    @pandas_udf("cell int, codes array<int>, recon_norm double")
    def _enc(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        cells = (c2[None, :] - 2.0 * (mat @ centers.T)).argmin(axis=1)
        base = centers[cells] if by_residual else np.zeros_like(mat)
        resid = mat - base
        codes = np.empty((mat.shape[0], m), dtype=np.int32)
        norm2 = np.zeros(mat.shape[0], dtype=np.float64)
        for s in range(m):
            sl = slice(s * d_sub, (s + 1) * d_sub)
            cs = (b2[s][None, :] - 2.0 * (resid[:, sl] @ books[s].T)).argmin(axis=1)
            codes[:, s] = cs
            rec = base[:, sl] + books[s][cs]
            norm2 += (rec * rec).sum(axis=1)
        return pd.DataFrame(
            {
                "cell": cells.astype(np.int32),
                "codes": list(codes),
                "recon_norm": np.sqrt(norm2),
            }
        )

    return _enc(F.col(vec_col))


def pq_qtab_pandas(vec_col: str, books: np.ndarray) -> Column:
    """Per-query ADC table: qtab[s][j] = dot(q_s, c_{s,j}), one matmul
    per subspace in a single Arrow pass.

    Replaces a literal-tree formulation (m*n_codes HOF dot products over
    an (m, n_codes, d_sub) literal codebook) whose *construction* alone
    cost ~18 s of py4j round-trips at m=16, n_codes=16 — plan-build cost
    that would recur on every driver, every run.
    """
    m, n_codes, d_sub = books.shape
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<array<double>>")
    def _tab(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        tabs = np.empty((mat.shape[0], m, n_codes), dtype=np.float64)
        for s in range(m):
            tabs[:, s, :] = mat[:, s * d_sub : (s + 1) * d_sub] @ books[s].T
        return pd.Series([t.tolist() for t in tabs])

    return _tab(F.col(vec_col))


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    fit_sample: int = 2048,
) -> DataFrame:
    """Product-quantization approximate top-k with exact re-rank — the
    memory/IO-compression ANN path (Jégou et al. 2011, FAISS ``PQ``).

    Why this exists alongside LSH/IVF: at 100 TB the dominant ANN cost
    is *reading vectors*. PQ replaces each d×4-byte float vector with m
    1-byte codes (d=64, m=8 → 32× smaller scan) plus one reconstruction
    norm; the asymmetric-distance scan then scores a candidate with m
    table lookups + adds instead of a d-term dot product. The price is
    a small recall loss, bounded here by an exact re-rank of the top
    ``rerank`` PQ-scored candidates per query (only those rows touch
    real vectors again — a k-row-per-query join, not a second scan).

    Stages:
    1. fit: per-subspace k-means codebooks on a driver-side sample
       (``fit_sample`` rows — like IVF, index build wants a sketch of
       the distribution, not the corpus).
    2. encode: one Arrow pass over candidates → (id, codes[m],
       recon_norm). At scale this is the materialized index.
    3. ADC scan: per query, the m×n_codes dot-product table is a plain
       literal-free columnar computation (query side is broadcast, as
       in ``cosine_topk``); approx score = Σ_s table[s][code_s] /
       recon_norm ≈ cos(q, x̂). 8 ``element_at`` + adds per pair — ~8×
       cheaper than the 64-term HOF dot, on 32× less data.
    4. re-rank: top-``rerank`` PQ candidates rejoin their true vectors
       for exact cosine; output exact top-``k`` (scores comparable with
       the brute-force baseline — recall measured in tests).

    Composes with IVF (route queries to cells, PQ-scan within the cell)
    for the standard IVF-PQ layout; the two operators share this
    module's conventions so the composition is a join away.
    """
    sample = _collect_fit_sample(candidates, vec_col, fit_sample, id_col=id_col)
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim ({dim}) must be divisible by m ({m})")
    books = _pq_fit_codebooks(sample, m, n_codes, seed=seed, max_iter=max_iter)

    # The ADC scan sees ONLY (id, codes, recon_norm) — at scale this is
    # the materialized PQ index; raw vectors are touched again solely by
    # the rerank join below.
    cand_enc = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode_pandas(vec_col, books).alias("enc"),
    ).select("neighbor_id", F.col("enc.codes").alias("codes"), F.col("enc.recon_norm").alias("recon_norm"))

    # query ADC tables: table[s][j] = dot(q_s, c_{s,j}) — one Arrow pass
    # over the broadcast (small) query side only.
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qtab", pq_qtab_pandas("qv", books))
        .withColumn("qnorm", l2_norm(F.col("qv")))
    )

    adc = sum(
        F.element_at(F.element_at(F.col("qtab"), s + 1), F.col("codes")[s] + 1)
        for s in range(m)
    )
    scored = (
        cand_enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pq_score",
            F.when(
                (F.col("recon_norm") > 0) & (F.col("qnorm") > 0),
                adc / (F.col("recon_norm") * F.col("qnorm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w_pq = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    pool = (
        scored.withColumn("prank", F.row_number().over(w_pq))
        .filter(F.col("prank") <= rerank)
        .select("query_id", "qv", "neighbor_id")
    )
    exact = pool.join(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "neighbor_id",
    ).select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    fit_sample: int = 2048,
    by_residual: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse k-means routing × PQ-compressed
    scoring × exact re-rank — the standard billion-scale ANN layout
    (FAISS ``IVFx,PQy``), composed from this module's IVF and PQ stages.

    Why the composition matters at 100 TB: IVF alone still reads full
    float vectors inside probed cells (IO-bound); PQ alone still scans
    the whole corpus (CPU-bound). Together the scan touches
    ``n_probe/n_cells`` of the corpus at 1/32 the bytes — the index row
    is (id, cell, codes[m], recon_norm).

    ``by_residual=True`` (default, standard FAISS IVFPQ — VERDICT r4
    ask #4): PQ codebooks quantize per-cell residuals
    ``v - centroid(cell)``, which are smaller and better centered than
    raw vectors, so the same codebook budget yields tighter
    reconstructions and higher recall at unchanged ``n_probe``
    (measured 0.68 → ≥0.80 on the fixture evidence corpus). The ADC
    identity keeps the scan cheap: ``dot(q, x̂) = dot(q, centroid) +
    Σ_s qtab[s][code_s]`` — one scalar per probed (query, cell) pair
    (computed during probing, where the centroid is already in hand)
    plus the same m table lookups. ``by_residual=False`` keeps the
    round-4 shared-codebook variant for comparison.

    Stages: coarse k-means fit + residual PQ fit (one driver-side
    hash-ordered sample, see ``_collect_fit_sample``) → combined cell
    assignment + residual PQ encode of candidates (ONE Arrow pass,
    ``ivfpq_encode_pandas``) → queries probe ``n_probe`` nearest cells
    (tiny |Q|×n_cells cross join, carrying ``dot(q, centroid)``) → ADC
    scan joins (query, cell) against the probed cells' codes on the
    cell key → exact cosine re-rank of the top ``rerank`` pool.

    Round 15: split into :func:`ivfpq_index` (build side) and
    :func:`ivfpq_probe` (query side) — the build-once/probe-many shape
    production vector search actually runs (keep centers+codebooks and
    persist the encoded table as parquet; tomorrow's queries pay only
    the probe). This wrapper composes the halves unchanged — same plan,
    same rows.
    """
    assigned, centers, books = ivfpq_index(
        candidates,
        n_cells=n_cells, m=m, n_codes=n_codes,
        id_col=id_col, vec_col=vec_col,
        seed=seed, max_iter=max_iter, fit_sample=fit_sample,
        by_residual=by_residual,
    )
    return ivfpq_probe(
        queries, assigned, centers, books,
        candidates=candidates,
        k=k, n_probe=n_probe, rerank=rerank,
        id_col=id_col, vec_col=vec_col, by_residual=by_residual,
    )


def ivfpq_index(
    candidates: DataFrame,
    *,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    fit_sample: int = 2048,
    by_residual: bool = True,
    centers: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
):
    """Build side of IVF-PQ (round 15): coarse + PQ fit from ONE
    driver-side hash-ordered sample, then the distributed encode pass.
    Returns ``(index_df, centers, codebooks)`` where ``index_df`` is
    (neighbor_id, cell, codes array<int>, recon_norm) — 1/32 the bytes
    of the raw vectors, the table a production job writes once and
    probes daily. Pass prefit ``centers``/``codebooks`` (an earlier
    build's fit) to skip the fit — the cell layout and
    quantization grid are part of a persisted index's identity, so
    re-fitting on a grown corpus would silently reshape cells.

    The corpus-scale cost here is the encode pass: one Arrow map over
    the candidates, no shuffle at all (assignment and encoding are
    row-local given the broadcast-sized centers/books) — it scales with
    the scan, which is the build-side slope evidence SCALE.md records.
    """
    # prefit inputs validate LOUDLY against the requested geometry
    # (round-15 review fix, matching ivf_topk/semdedup's guards): a
    # persisted 8-cell index passed alongside n_cells=16 must never
    # silently reshape the cell layout or quantization grid.
    if centers is not None:
        centers = np.asarray(centers, dtype=np.float64)
        if centers.ndim != 2 or len(centers) != n_cells:
            raise ValueError(
                f"prefit centers must be (n_cells={n_cells}, dim); "
                f"got {centers.shape}"
            )
    if codebooks is not None:
        codebooks = np.asarray(codebooks, dtype=np.float64)
        if codebooks.ndim != 3 or codebooks.shape[:2] != (m, n_codes):
            raise ValueError(
                f"prefit codebooks must be (m={m}, n_codes={n_codes}, d_sub); "
                f"got {codebooks.shape}"
            )
    if centers is not None and codebooks is not None:
        dim = centers.shape[1]
        if dim % m != 0 or codebooks.shape[2] != dim // m:
            raise ValueError(
                f"prefit centers dim ({dim}) and codebooks d_sub "
                f"({codebooks.shape[2]}) disagree for m={m}"
            )
    if centers is None or codebooks is None:
        sample = _collect_fit_sample(candidates, vec_col, fit_sample, id_col=id_col)
        dim = sample.shape[1]
        if dim % m != 0:
            raise ValueError(f"embedding dim ({dim}) must be divisible by m ({m})")
        if centers is not None and centers.shape[1] != dim:
            raise ValueError(
                f"prefit centers dim ({centers.shape[1]}) != corpus dim ({dim})"
            )
        # codebooks-only prefit: d_sub must still match the corpus
        # geometry, or the mismatch dies as an opaque numpy broadcast
        # error inside the executor-side encode (review r15)
        if codebooks is not None and codebooks.shape[2] != dim // m:
            raise ValueError(
                f"prefit codebooks d_sub ({codebooks.shape[2]}) != corpus "
                f"dim // m ({dim // m})"
            )
        if centers is None:
            centers = _lloyd(sample, n_cells, np.random.default_rng(seed), max_iter)
        if codebooks is None:
            if by_residual:
                c2 = (centers**2).sum(axis=1)
                assign = (c2[None, :] - 2.0 * (sample @ centers.T)).argmin(axis=1)
                fit_x = sample - centers[assign]
            else:
                fit_x = sample
            codebooks = _pq_fit_codebooks(
                fit_x, m, n_codes, seed=seed, max_iter=max_iter
            )

    # the PQ index: (neighbor_id, cell, codes, recon_norm) — no raw vectors
    assigned = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        ivfpq_encode_pandas(
            vec_col, centers, codebooks, by_residual=by_residual
        ).alias("enc"),
    ).select(
        "neighbor_id",
        F.col("enc.cell").alias("cell"),
        F.col("enc.codes").alias("codes"),
        F.col("enc.recon_norm").alias("recon_norm"),
    )
    return assigned, centers, codebooks


def ivfpq_probe(
    queries: DataFrame,
    index_df: DataFrame,
    centers: np.ndarray,
    codebooks: np.ndarray,
    *,
    candidates: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = True,
) -> DataFrame:
    """Query side of IVF-PQ (round 15): probe ``n_probe`` nearest cells,
    ADC-scan the probed cells' codes, exact-rerank the top ``rerank``
    pool against ``candidates`` (the raw-vector table — only the
    |Q|*rerank pool rows are ever fetched from it). Cost scales with
    probed-cell volume, |corpus| * n_probe / n_cells — NOT with pairs;
    that proportionality is the query-side slope SCALE.md records."""
    m = int(codebooks.shape[0])
    books = codebooks
    assigned = index_df

    centers_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    centers_df = queries.sparkSession.createDataFrame(
        centers_rows, "cell int, center array<double>"
    )

    # --- query side: probe cells, carry the ADC table
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qtab", pq_qtab_pandas("qv", books))
        .withColumn("qnorm", l2_norm(F.col("qv")))
    )
    q_cells = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("cdist", cosine(F.col("qv"), F.col("center")))
        # dot(q, centroid): the per-(query, cell) scalar the residual ADC
        # identity needs — computed here where the centroid is in hand
        .withColumn("qdotc", dot(F.col("qv"), F.col("center")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cdist").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "qv", "qtab", "qnorm", "qdotc", "cell")
    )

    # --- ADC scan over probed cells only
    adc = sum(
        F.element_at(F.element_at(F.col("qtab"), s + 1), F.col("codes")[s] + 1)
        for s in range(m)
    )
    numerator = (F.col("qdotc") + adc) if by_residual else adc
    scored = (
        q_cells.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pq_score",
            F.when(
                (F.col("recon_norm") > 0) & (F.col("qnorm") > 0),
                numerator / (F.col("recon_norm") * F.col("qnorm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w_pq = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    pool = (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("prank", F.row_number().over(w_pq))
        .filter(F.col("prank") <= rerank)
        .select("query_id", "qv", "neighbor_id")
    )
    exact = pool.join(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "neighbor_id",
    ).select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast the (small) query side, nested-loop join against
    candidates, per-query top-k via window. The candidate scan stays fully
    partitioned; only k rows per query survive to the final (tiny) sort.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def hyperplane_signatures_pandas(
    vec_col: str, planes_tables: list[list[list[float]]]
) -> Column:
    """All-tables LSH signatures in one Arrow batch (array<long>, length T).

    The per-plane expression form (``hyperplane_signature``) builds T*b
    interpreted higher-order-function dots per row — measured ~2x slower
    than this single numpy matmul of the (batch x dim) block against the
    (dim x T*b) plane matrix even at 500 rows, and the gap widens with
    table count. Bit semantics match the expression form exactly:
    bit_i = 1 iff dot(vec, plane_i) >= 0, MSB-first fold per table.
    """
    plane_mat = np.concatenate(
        [np.asarray(t, dtype=np.float64).T for t in planes_tables], axis=1
    )  # dim x (T*b)
    sizes = [len(t) for t in planes_tables]
    offsets = np.cumsum([0] + sizes)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        bits = (mat @ plane_mat) >= 0
        sigs = np.zeros((mat.shape[0], len(sizes)), dtype=np.int64)
        for t in range(len(sizes)):
            block = bits[:, offsets[t] : offsets[t + 1]]
            acc = np.zeros(mat.shape[0], dtype=np.int64)
            for j in range(block.shape[1]):
                acc = acc * 2 + block[:, j]
            sigs[:, t] = acc
        return pd.Series(list(sigs))

    return _sigs(F.col(vec_col))


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(dot(vec, plane_i)).

    ``planes`` is a driver-side list (seeded numpy), compiled into literal
    array expressions — broadcast by the plan, no side channel.
    """
    vd = _as_double(vec)
    # one SQL array literal per plane: F.array(*[F.lit(p) ...]) costs a
    # few Python->JVM calls per coordinate at build time
    arrays = [
        F.expr("array(" + ", ".join(f"{float(p)!r}D" for p in plane) + ")")
        for plane in planes
    ]
    bits = [
        F.when(dot(vd, arr) >= 0, F.lit(1)).otherwise(F.lit(0)) for arr in arrays
    ]
    # long accumulator: an int fold overflows (ANSI abort) at >= 32 planes
    sig = bits[0].cast("long")
    for b in bits[1:]:
        sig = sig * 2 + b
    return sig


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    planes_tables: list[list[list[float]]],
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates must share an LSH bucket with the
    query in at least one hash table, then exact cosine re-rank.

    ``planes_tables`` is a list of hash tables, each a list of hyperplanes.
    More tables -> higher recall, proportionally more candidate pairs.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    # The bucket join moves (id, t, sig) rows ONLY — the corpus vector
    # must not ride the |tables|-way explode through the exchange
    # (round-15 fix, same shape as embedding_neardup_pairs: the old
    # plan shuffled tables x the corpus's vector bytes). Vectors join
    # back by id once per side after candidate dedup; the query side is
    # small, so its re-join broadcasts.
    q_b = q.select(
        "query_id",
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), hyperplane_signature(F.col("qv"), planes).alias("sig"))
                for t, planes in enumerate(planes_tables)
            ]
        ).alias("sigs"),
    ).select("query_id", F.explode("sigs").alias("s"))
    c_b = c.select(
        "neighbor_id",
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), hyperplane_signature(F.col("cv"), planes).alias("sig"))
                for t, planes in enumerate(planes_tables)
            ]
        ).alias("sigs"),
    ).select("neighbor_id", F.explode("sigs").alias("s"))

    paired = (
        q_b.join(
            c_b,
            (q_b["s.t"] == c_b["s.t"])
            & (q_b["s.sig"] == c_b["s.sig"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(q, "query_id")
        .join(c, "neighbor_id")
    )
    scored = paired.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def embedding_centroids(
    df: DataFrame,
    *,
    group_col: str,
    vec_col: str,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-group, per-dimension embedding centroid with an EXACT
    integer-sum contract — the class-mean computation of embedding
    pipelines (cluster centers, label prototypes, drift monitors).

    Naively averaging doubles is combine-order-dependent: floating
    addition is not associative, so a different partitioning produces a
    different last bit — unusable as a cross-engine (or even re-run)
    contract. Instead each float is scaled by ``2**scale_bits`` and
    floored to a long: float->double is exact, multiplying by a power
    of two is exact, floor is exact — so the per-dimension SUM is exact
    integer arithmetic, associative, and engine-independent. The
    derived ``centroid`` double divides in one fixed order
    (sum / n / 2^bits), each step correctly rounded, hence
    bit-identical everywhere. Quantization bias is deterministic and
    bounded by ``2**-scale_bits`` per element — negligible against
    float32 inputs for scale_bits >= 20 (float32 has 24 mantissa bits).

    Plan shape at 100 TB: posexplode multiplies rows by the dimension,
    but the shuffle rows are (group, dim, long) triples and hash
    aggregation partial-combines map-side, so the exchange carries
    |groups| x dims rows PER MAPPER, independent of input row count.
    That is the Spark-native shape; element-wise array aggregation in
    the driver or a Python UDF loop are the rejected alternatives.

    Output: (group_col, dim [0-based], sum_scaled, n, centroid).
    """
    if not (1 <= scale_bits <= 30):
        raise ValueError("scale_bits in [1, 30] required")
    scale = F.lit(float(2**scale_bits))
    e = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    scaled = e.select(
        group_col,
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * scale).cast("long").alias("sv"),
    )
    return (
        scaled.groupBy(group_col, "dim")
        .agg(F.sum("sv").alias("sum_scaled"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "centroid",
            F.col("sum_scaled").cast("double") / F.col("n") / F.lit(float(2**scale_bits)),
        )
    )


def recall_sweep(
    exact: DataFrame, methods: dict[str, DataFrame]
) -> DataFrame:
    """Measured recall@k of approximate top-k methods against the exact
    result, emitted AS A DATAFRAME — the `threshold_sweep` pattern
    applied to ANN (VERDICT r8 #8): instead of a one-time unit-test
    assertion, every correctness run re-measures each method's recall,
    so the LSH/IVF/PQ recall claims in the gate docstrings stay
    per-round evidence.

    Inputs are (query_id, neighbor_id) frames: ``exact`` is the
    brute-force top-k ground truth; each ``methods[name]`` is one
    approximate method's top-k at its production gate parameters.

    Plan: methods union into one tagged frame (|methods| x |queries| x k
    rows — tiny); ONE equi-join against the exact set marks hits; ONE
    aggregation per method; the ground-truth size joins on as a 1-row
    broadcast. recall = hits / possible is a single fixed-order
    division. The sweep's cost is dominated by building the method
    frames themselves, not this comparison."""
    tagged = None
    for name, df in methods.items():
        t = df.select(
            F.lit(name).alias("method"),
            F.col("query_id"),
            F.col("neighbor_id"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    ex = exact.select("query_id", "neighbor_id")
    possible = ex.agg(F.count(F.lit(1)).cast("long").alias("possible"))
    marked = tagged.join(
        ex.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    per_method = marked.groupBy("method").agg(
        F.count(F.lit(1)).cast("long").alias("returned"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("hits"),
    )
    return per_method.join(F.broadcast(possible)).select(
        "method",
        "returned",
        "hits",
        "possible",
        (F.col("hits").cast("double") / F.col("possible")).alias("recall_at_k"),
    )


def semdedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    fit_sample: int = 4096,
    seed: int = 7,
    max_iter: int = 10,
    max_cell_rows: int = 500_000,
    centers: np.ndarray | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
    cluster the embeddings, then within each cluster greedily drop any
    vector whose cosine to an already-kept cluster member is >=
    ``threshold``. Catches *meaning-level* duplicates (paraphrases,
    re-encodes, template variants) that the lexical near-dup family
    (MinHash/SimHash/setsim) cannot see.

    Keeper order is the paper's: within a cluster, candidates are
    visited FARTHEST-from-centroid first (the "low centroid-similarity
    = keep the harder example" rule), ties broken by ascending id, so
    the survivor set is deterministic given the fitted centers — and
    the centers themselves come from the hash-ordered bounded fit
    sample (`_fit_coarse_centers`), so the whole operator is
    layout-independent and recompute-stable (lint family G).

    Plan shape at 100 TB: centers fit on a bounded driver sample (the
    FAISS coarse-quantizer argument, see `_fit_coarse_centers`);
    assignment is ONE map-only Arrow pass; the only shuffle is the
    groupBy(cell) exchange carrying (id, vector, dist) — |corpus| rows
    hashed over n_cells keys. The within-cell greedy pass is an
    `applyInPandas` whose cost is quadratic IN THE CELL, which is the
    paper's own cost model: n_cells scales with corpus size so cells
    stay bounded (they use 50k clusters for LAION). A cell exceeding
    ``max_cell_rows`` raises loudly (the skew discipline of the
    bucket-cap guards in dedup.py) instead of silently OOMing an
    executor; the fix is a larger n_cells, and the error says so.

    All-pairs-across-the-corpus is the rejected alternative; so is
    per-pair Python (the greedy pass is one numpy matmul per
    candidate block against the kept matrix).

    Output: (id_col, cell int, keep boolean, max_kept_sim double —
    cosine to the nearest already-kept member for dropped rows, NULL
    for kept rows).
    """
    import pyspark.sql.types as T

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold in (0, 1] required")
    if centers is None:
        centers = _fit_coarse_centers(
            vectors, vec_col, n_cells,
            seed=seed, max_iter=max_iter, fit_sample=fit_sample, id_col=id_col,
        )
    else:
        # prefit centers (an earlier run's fit): the CELL LAYOUT is
        # part of a persisted index's identity — a refit would
        # re-cluster tomorrow's corpus differently and silently split
        # semantic families across cell boundaries
        centers = np.asarray(centers, dtype=np.float64)
        if centers.ndim != 2 or len(centers) != n_cells:
            raise ValueError(
                f"prefit centers must be (n_cells={n_cells}, dim); got {centers.shape}"
            )
    assigned = vectors.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
        cell_assign_pandas(vec_col, centers).alias("cell"),
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("keep", T.BooleanType(), False),
            T.StructField("max_kept_sim", T.DoubleType(), True),
        ]
    )
    thr = float(threshold)
    cap = int(max_cell_rows)

    def prune(key, pdf):
        cell = int(key[0])
        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"semdedup cell {cell} has {n} rows > max_cell_rows={cap}; "
                "increase n_cells so cells stay bounded"
            )
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0 to everything
        unit = mat / norms[:, None]
        c = centers[cell]
        cn = np.linalg.norm(c)
        cen_sim = unit @ (c / cn) if cn > 0 else np.zeros(n)
        # farthest-from-centroid first; ties by ascending id
        order = np.lexsort((ids, cen_sim))
        keep = np.zeros(n, dtype=bool)
        best = np.full(n, np.nan)
        kept_rows: list[int] = []
        for i in order:
            if kept_rows:
                sims = unit[kept_rows] @ unit[i]
                m = float(sims.max())
            else:
                m = -np.inf
            if m >= thr:
                best[i] = m
            else:
                keep[i] = True
                kept_rows.append(i)
        return pd.DataFrame(
            {
                id_col: pd.Series(ids, dtype="int64"),
                "cell": np.full(n, cell, dtype=np.int32),
                "keep": keep,
                "max_kept_sim": best,
            }
        )

    return assigned.groupBy("cell").applyInPandas(prune, out_schema)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    prenormalized: bool = False,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus item whose
    nearest benchmark item reaches ``threshold`` cosine similarity —
    the semantic companion to the n-gram gate
    (``text.ngram_decontaminate``), which paraphrased or reformatted
    benchmark leakage slips past (the motivation behind
    embedding-based decontamination in open-data pipelines; cf. the
    SemDeDup-style use of embedding cosines for near-duplicate
    semantics).

    Plan shape at 100 TB — built around the defining asymmetry of the
    problem (benchmarks are thousands of rows; the corpus is
    billions):
    1. the benchmark side is BROADCAST — the corpus scan stays fully
       partitioned and is read exactly once; no corpus-keyed shuffle
       of vectors exists anywhere in the plan.
    2. scoring is the broadcast join's map-side expression — but NOT
       the naive ``cosine(cv, bv)``: that recomputes both norms (and
       re-casts both arrays) for every (corpus, benchmark) PAIR, and
       higher-order array expressions are interpreted, not codegen'd —
       measured 5x the whole query wall at sf0.1. Both sides are
       UNIT-NORMALIZED once per ROW in their own projections, so the
       per-pair work is exactly one zip_with-multiply + fixed-order
       fold. The oracle mirrors the same float sequence (per-element
       divide by the correctly-rounded sqrt norm, then the sequential
       product sum), so the doubles stay bit-identical. The normalized
       projections are lazily checkpointed: measured at sf0.1, the
       engine otherwise re-evaluates the normalization expression per
       PAIR (8x the query wall — projection collapse across the join);
       the checkpoint buffers each side once. At real scale the better
       home for the normalization is the upstream embedding pipeline
       (store unit vectors): ``prenormalized=True`` IS that steady-state
       shape (VERDICT r10 ask #5) — vectors are taken as unit-length
       as-is, the per-row normalization AND both checkpoints disappear
       (there is nothing expensive left to buffer), and the whole query
       is one map-side broadcast scan + argmax aggregation. The caller
       owns the invariant that the vectors really are unit-normalized;
       feeding raw vectors computes raw dot products, not cosines.
    3. per-item argmax is ``max(struct(sim, -bench_id))`` — an
       AGGREGATION, not a window: partial aggregation collapses each
       item's |benchmark| scored rows to ONE row map-side, so the
       exchange carries |corpus| compact rows (a window would shuffle
       all |corpus|·|benchmark| scored triples and sort each group).
       The negated id makes lexicographic struct-max resolve
       similarity ties to the SMALLEST benchmark id.
    The cosine fold is sequential over the array in BOTH engines, so
    the doubles — and therefore the threshold decision — are
    bit-identical cross-engine (the ann_cosine_topk precedent).

    Output: (id_col, nearest_bench_id, max_sim, contaminated) —
    ``contaminated`` is an int flag; removal is the caller's anti-join
    so audit trails keep the evidence row. EVERY corpus row appears in
    the output (left join back to the corpus ids): an empty benchmark
    yields NULL nearest/max_sim and contaminated = 0 on every row —
    an all-clean verdict with auditable row conservation, never a
    silent empty result. A NULL corpus or benchmark VECTOR likewise
    propagates to NULL sim (unscoreable, contaminated = 0) — the
    engine-wide NULL-propagation discipline; only a present zero-norm
    vector gets the cosine() 0.0 contract. Ids must be integral
    (checked loudly): the tie-break rides a negated id through the
    struct max.
    """
    if not (0.0 <= threshold <= 1.0):
        raise ValueError("threshold must be in [0, 1]")
    b_id = bench_id_col or id_col
    b_vec = bench_vec_col or vec_col
    b_id_type = benchmark.schema[b_id].dataType.simpleString()
    if b_id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"benchmark id column {b_id!r} must be integral for the "
            f"negation tie-break, got {b_id_type}"
        )

    def unit(vec: Column) -> Column:
        # the norm must NOT appear inside a per-element lambda body —
        # higher-order lambdas re-evaluate their body per element, so
        # transform(v, x -> x / l2_norm(v)) does d folds of d elements
        # (O(d^2) per row). zip_with against array_repeat(norm, d)
        # evaluates the norm ONCE per row. A zero-norm vector stays
        # as-is (all products 0, so sim = 0.0 — the cosine() contract).
        vd = _as_double(vec)
        n = l2_norm(vd)
        return F.when(
            n > 0,
            F.zip_with(vd, F.array_repeat(n, F.size(vd)), lambda x, y: x / y),
        ).otherwise(vd)

    prep = _as_double if prenormalized else unit
    c = corpus.select(F.col(id_col).alias("cid"), prep(F.col(vec_col)).alias("cu"))
    b = benchmark.select(
        F.col(b_id).alias("bench_id"), prep(F.col(b_vec)).alias("bu")
    )
    if not prenormalized:
        # prenormalized inputs have no per-row normalization to buffer —
        # a checkpoint would only add a materialization pass
        c = c.localCheckpoint(eager=False)
        b = b.localCheckpoint(eager=False)
    # LEFT outer on a constant-true condition: still one
    # BroadcastNestedLoopJoin, but an empty benchmark keeps every
    # corpus row (NULL bench side) instead of annihilating the output —
    # no second, corpus-keyed join needed for row conservation
    scored = c.join(F.broadcast(b), F.lit(True), "left").select(
        "cid",
        F.struct(
            # the module's dot() helper IS the bare zip_with-multiply +
            # fixed-order fold — one evaluation per pair, no casts
            F.when(F.col("bu").isNotNull(), dot(F.col("cu"), F.col("bu"))).alias(
                "sim"
            ),
            (-F.col("bench_id")).alias("nbid"),
        ).alias("s"),
    )
    best = scored.groupBy("cid").agg(F.max("s").alias("m"))
    return best.select(
        F.col("cid").alias(id_col),
        (-F.col("m.nbid")).cast("long").alias("nearest_bench_id"),
        F.col("m.sim").alias("max_sim"),
        F.when(F.col("m.sim") >= F.lit(threshold), F.lit(1))
        .otherwise(F.lit(0))
        .alias("contaminated"),
    )


def portable_sign_planes(
    num_tables: int, num_planes: int, dim: int
) -> list[list[list[int]]]:
    """±1 hyperplanes derived from md5 — the ENGINE-PORTABLE plane
    family (the minhash_portable discipline applied to hyperplane LSH).

    Gaussian planes (``_lsh_planes``) live only as driver-side float
    literals: no other engine can re-derive them, so LSH results are
    checkable only by recall statistics. Sign planes sidestep that:
    plane value for (table t, plane p, dim d) is ``+1`` iff the first
    hex digit of ``md5("t:p:d")`` has its high bit set, else ``-1`` —
    a definition ANY engine with an md5 reproduces symbol-for-symbol
    (DuckDB: ``substr(md5(t || ':' || p || ':' || d), 1, 1)``). Sign
    projections are the classic SRP degradation: E[cos angle] is
    unchanged, variance slightly above Gaussian planes; recall is
    re-measured per-round by the registry evidence block rather than
    assumed.
    """
    import hashlib

    def sgn(t: int, p: int, d: int) -> int:
        first = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[0]
        return 1 if first in "89abcdef" else -1

    return [
        [[sgn(t, p, d) for d in range(dim)] for p in range(num_planes)]
        for t in range(num_tables)
    ]


def lsh_topk_portable(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    dim: int,
    num_tables: int = 8,
    num_planes: int = 4,
    k: int = 5,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH approximate top-k whose ENTIRE result — buckets,
    candidate set, cosines, ranks — reproduces bit-for-bit in any
    engine with an md5, making approximate NN hash-verifiable for the
    first time in this registry (every prior ANN gate was rows-only).

    Two exactness devices compose:

    1. planes are md5-derived ±1 signs (:func:`portable_sign_planes`);
    2. the projection is an INTEGER: each component is floored at
       ``2**scale_bits`` (exact float->double widening, exact
       power-of-two multiply, exact floor — the embedding_centroids
       contract), so the per-plane accumulator is an exact long sum
       and the bucket bit ``acc >= 0`` is an integer comparison, never
       a float sign at a rounding boundary.

    The verify stage is the proven ``cosine`` tree (ann_cosine_topk's
    oracle-green fold) ranked with the key-unique
    ``(cos_sim DESC, neighbor_id)`` window.

    Plan shape at 100 TB: signatures are per-row expressions (map-side,
    whole-stage); the bucket frame carries (id, table, bit-string) ONLY
    — vectors do NOT ride the bucket exchange (unlike ``lsh_topk``,
    which carries them; at billions of rows the T-way explode would
    multiply vector payload by T). The deduped candidate pairs then
    join vectors back by id — ONE id-keyed vector exchange, once per
    surviving candidate rather than once per (table, collision)
    (:func:`_cosine_rank_topk`).
    """
    if k < 1:
        raise ValueError("k >= 1 required")
    if dim < 1:
        raise ValueError("dim >= 1 required (caller short-circuits empty tables)")
    if not (1 <= scale_bits <= 30):
        # the embedding_centroids bound, re-checked like the PQ family
        # (ADVICE r13: this gate accepted any scale_bits)
        raise ValueError("scale_bits in [1, 30] required")
    planes = portable_sign_planes(num_tables, num_planes, dim)

    def buckets_expr() -> Column:
        # sv let-bound: the scaled array is referenced by T*P aggregate
        # folds — unbound it would re-floor the vector per fold term
        # (the O(n^2) HOF hazard, functions/expr.let). SQL-text
        # construction (the builder block above): the T*P fold
        # expressions cost seconds of py4j chatter as Column objects.
        def bit(t: int, p: int) -> str:
            signs = "array(" + ", ".join(
                str(int(s)) for s in planes[t][p]
            ) + ")"
            acc = (
                f"aggregate(zip_with(sv, {signs}, (x, y) -> x * y),"
                f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            return f"CASE WHEN {acc} >= 0 THEN '1' ELSE '0' END"

        tables = ", ".join(
            f"named_struct('t', CAST({t} AS BIGINT), 'bucket',"
            " concat("
            + ", ".join(bit(t, p) for p in range(num_planes))
            + "))"
            for t in range(num_tables)
        )
        scaled = (
            "transform(transform(__vec, x -> CAST(x AS DOUBLE)),"
            f" x -> floor(x * {_dlit(2**scale_bits)}))"
        )
        # Guard the declared dim LOUDLY (ADVICE r13): a row whose vector
        # length disagrees would zip_with against NULL-padded planes,
        # NULL the sign sums, and emit the all-zero bucket in every
        # table — all mismatched rows silently colliding while the
        # DuckDB mirror (which derives dims from the data) diverges.
        bound = (
            f"CASE WHEN size(__vec) = {dim} THEN {scaled} "
            "ELSE raise_error(concat('lsh_topk_portable: vector length ',"
            f" CAST(size(__vec) AS STRING), ' != dim={dim}')) END"
        )
        return F.expr(_let_sql(bound, "sv", f"array({tables})"))

    def bucket_frame(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id), F.col(vec_col).alias("__vec")
            )
            .select(out_id, F.explode(buckets_expr()).alias("__b"))
            .select(out_id, F.col("__b.t").alias("t"), F.col("__b.bucket").alias("bucket"))
        )

    qb = bucket_frame(queries, "query_id")
    cb = bucket_frame(candidates, "neighbor_id")
    cand = (
        qb.join(
            cb,
            (qb["t"] == cb["t"])
            & (qb["bucket"] == cb["bucket"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _cosine_rank_topk(
        cand, queries, candidates, k=k, id_col=id_col, vec_col=vec_col
    )


def _subspace_argmin(lo: int, width: int, book) -> Column:
    """(dist, cluster) struct-argmin of the let-bound ``__v`` slice
    ``[lo+1 .. lo+width]`` against a codebook — the distance-tree
    contract applied to PQ's slices; shared by the batched training
    assignment and the encode stage. SQL-text construction (see the
    builder block above)."""
    body = _let_sql(
        _dot_sql("sv", "sv"), "vv", _argmin_sql(book, "sv", "vv")
    )
    return F.expr(
        _let_sql(f"slice(__v, {lo + 1}, {width})", "sv", body)
    )["cluster"]


def pq_topk_portable(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    dim: int,
    m: int = 4,
    ncodes: int = 16,
    iters: int = 1,
    rerank: int = 32,
    k: int = 5,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization top-k on exact-contract subspace codebooks —
    the portable-ANN family's third member (LSH buckets, IVF cells, PQ
    codes). Every stage is bit-identical cross-engine, so the WHOLE
    approximate result is hash-verifiable: the per-subspace codebooks
    come from :func:`kmeans_centroid_list` (exact integer-sum updates,
    k-smallest-id seeds), encoding is the same (dist, code) lexicographic
    argmin, and the ADC score is a fixed-order sum of ``m`` exact
    table-lookup doubles — never a float whose combine order an engine
    could choose.

    Semantics: split ``dim`` into ``m`` equal slices; train a
    ``ncodes``-word codebook per slice (``iters`` Lloyd updates);
    encode every corpus vector as its argmin code per slice;
    ADC-score each (query, corpus) pair as ``sum_s dot(q_s,
    codeword(code_s))`` — the classic asymmetric-distance
    approximation of the dot product; keep the ``rerank`` best by
    (adc DESC, id); exact-cosine re-rank those to top ``k``.

    Plan shape at 100 TB: codebooks are m x ncodes x (dim/m) driver-side
    bounded fits; ENCODING IS MAP-ONLY (code literals in expressions,
    the kmeans assignment discipline) and emits m small ints per vector
    — the 64x compression that lets a scan-heavy top-k run over codes
    instead of raw vectors; the scoring join broadcasts the tiny query
    side (|Q| rows carrying m x ncodes lookup arrays); only the
    ``rerank`` survivors per query touch raw vectors again.
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    if not (1 <= k <= rerank):
        raise ValueError("1 <= k <= rerank required")
    if not (1 <= scale_bits <= 30):
        # the embedding_centroids bound, re-checked here because the
        # batched training no longer routes through it (review r12d #1)
        raise ValueError("scale_bits in [1, 30] required")
    width = dim // m
    base = _kmeans_frame(candidates, id_col=id_col, vec_col=vec_col)
    books = _pq_codebooks(
        base, m=m, width=width, ncodes=ncodes, iters=iters, scale_bits=scale_bits
    )
    enc = _pq_encode(candidates, books, m=m, width=width,
                     id_col=id_col, vec_col=vec_col)
    qf = _pq_query_tables(queries, books, m=m, width=width,
                          id_col=id_col, vec_col=vec_col)
    paired = enc.join(
        F.broadcast(qf), F.col("query_id") != F.col("neighbor_id")
    )
    cand = _pq_adc_rerank(paired, m=m, rerank=rerank)
    return _cosine_rank_topk(
        cand, queries, candidates, k=k, id_col=id_col, vec_col=vec_col
    )


def _pq_codebooks(
    base: DataFrame, *, m: int, width: int, ncodes: int, iters: int,
    scale_bits: int,
) -> list:
    """Train the ``m`` subspace codebooks on the prepared
    :func:`_kmeans_frame` — the shared definition behind
    :func:`pq_topk_portable` and :func:`ivfpq_topk_portable` (round 13:
    the IVF+PQ composition must quantize with byte-identical books, so
    the training was factored out rather than duplicated). Returns the
    label-ascending-sorted books, each entry (label, centroid, ||c||²).
    """
    # ONE shared checkpointed frame + ONE seed collect feed all m
    # subspace codebooks (review r12c #3: m private _kmeans_frames cost
    # m checkpoints and m identical global seed sorts). Seed subvectors
    # and their ||.||^2 are sliced/folded on the driver — a plain
    # sequential float fold, bit-identical to the JVM fold (pinned by
    # the _py_lloyd parity test).
    seed_rows = (
        base.orderBy(F.col("__vid").asc())
        .limit(ncodes)
        .select("__vid", "__v")
        .collect()
    )
    if not seed_rows:
        raise ValueError("PQ on an empty corpus (no seed vectors)")
    books = []
    for s in range(m):
        lo = s * width
        cents0 = []
        for r in seed_rows:
            c = [float(x) for x in r["__v"][lo : lo + width]]
            cc = 0.0
            for x in c:
                cc += x * x
            cents0.append((int(r["__vid"]), c, cc))
        books.append(cents0)

    # ONE batched update job per Lloyd round trains ALL m codebooks
    # (profiled: m sequential _lloyd_updates cost ~1.5 s of per-job
    # scheduling/codegen EACH — 12 s of the gate's 15 s wall at m=8 —
    # while the batched rows are the same N x dim triples one full-dim
    # update would shuffle). Per subspace: assignment argmin (the
    # _dist_structs contract on the let-bound slice), explode to
    # (s, cluster, subvec) -> posexplode dims -> one (s, cluster, dim)
    # exact integer-sum exchange mirroring the embedding_centroids
    # formula verbatim (floor(v * 2^bits) longs; centroid =
    # sum / n / 2^bits in that order), one collect for all m books.
    scale = F.lit(float(2**scale_bits))
    for _ in range(iters):
        structs = []
        for s in range(m):
            sl = F.slice(F.col("__v"), s * width + 1, width)
            code = _subspace_argmin(s * width, width, books[s])
            structs.append(
                F.struct(
                    F.lit(s).alias("s"),
                    code.alias("cluster"),
                    sl.alias("sv"),
                )
            )
        exploded = (
            base.select(F.explode(F.array(*structs)).alias("x"))
            .select("x.s", "x.cluster", F.posexplode("x.sv").alias("dim", "val"))
        )
        stats = (
            exploded.select(
                "s",
                "cluster",
                F.col("dim").cast("long").alias("dim"),
                F.floor(F.col("val").cast("double") * scale)
                .cast("long")
                .alias("sv"),
            )
            .groupBy("s", "cluster", "dim")
            .agg(F.sum("sv").alias("sum_scaled"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "centroid",
                F.col("sum_scaled").cast("double") / F.col("n") / scale,
            )
        )
        arrs = stats.groupBy("s", "cluster").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("centroid")))
                ),
                lambda x: x["centroid"],
            ).alias("__c")
        )
        rows = arrs.withColumn("__cc", dot(F.col("__c"), F.col("__c"))).collect()
        newbooks: list[list[tuple[int, list[float], float]]] = [[] for _ in range(m)]
        for r in rows:
            newbooks[int(r["s"])].append(
                (int(r["cluster"]), list(r["__c"]), float(r["__cc"]))
            )
        books = newbooks

    # ascending label order: the encode structs tiebreak on the INDEX
    # into this list, which therefore equals the oracle's ORDER BY
    # dist, cluster(label) order
    return [sorted(b) for b in books]


def _dim_guarded(vec_col: str, dim: int, op: str) -> Column:
    """``__v`` with a LOUD length check: Spark slices PQ subspaces by
    the declared dim while the generated mirrors derive widths from
    ``len(v)`` in the data, so a wrong dim would silently diverge the
    two engines (codes built from a prefix of each vector vs the full
    vector) — the ADVICE r13 LSH hazard applied to the PQ family."""
    v = F.col(vec_col)
    return F.when(F.size(v) == dim, _as_double(v)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: vector length "),
                F.size(v).cast("string"),
                F.lit(f" != dim={dim}"),
            )
        ).cast("array<double>")
    )


def _pq_encode(
    candidates: DataFrame, books: list, *, m: int, width: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """MAP-ONLY PQ encode: (neighbor_id, __code0..__code{m-1}) — the
    argmin code per subspace against the trained books; shared by the
    flat-PQ and IVF+PQ gates."""
    def code_expr(s: int) -> Column:
        idx_book = [
            (idx, c, cc) for idx, (_label, c, cc) in enumerate(books[s])
        ]
        return _subspace_argmin(s * width, width, idx_book)

    return candidates.select(
        F.col(id_col).alias("neighbor_id"),
        _dim_guarded(vec_col, m * width, "pq encode").alias("__v"),
    ).select(
        "neighbor_id", *[code_expr(s).alias(f"__code{s}") for s in range(m)]
    )


def _pq_query_tables(
    queries: DataFrame, books: list, *, m: int, width: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, __qt0..__qt{m-1}), each
    __qt{s} an ncodes-long array of exact dot(q_s, codeword) doubles."""
    def qtab_expr(s: int) -> Column:
        arr = "array(" + ", ".join(
            _dot_sql("sv", _darr_sql(c)) for (_label, c, _cc) in books[s]
        ) + ")"
        return F.expr(
            _let_sql(f"slice(__v, {s * width + 1}, {width})", "sv", arr)
        )

    return queries.select(
        F.col(id_col).alias("query_id"),
        _dim_guarded(vec_col, m * width, "pq query tables").alias("__v"),
    ).select("query_id", *[qtab_expr(s).alias(f"__qt{s}") for s in range(m)])


def _pq_adc_rerank(paired: DataFrame, *, m: int, rerank: int) -> DataFrame:
    """Fixed-parenthesization ADC sum + the (adc DESC, neighbor_id)
    rerank window over a frame carrying codes and query tables."""
    adc = None
    for s in range(m):
        term = F.element_at(
            F.col(f"__qt{s}"), F.col(f"__code{s}").cast("int") + 1
        )
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        # project BEFORE the window: the rerank exchange must carry
        # (query_id, neighbor_id, adc) triples only — un-projected, the
        # m x ncodes qtab arrays (~1 KB/row) would ride it once per
        # (query, corpus) pair
        paired.select("query_id", "neighbor_id", adc.alias("__adc"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= rerank)
        .select("query_id", "neighbor_id")
    )


def ivfpq_topk_portable(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    dim: int,
    kcells: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ncodes: int = 16,
    iters: int = 1,
    rerank: int = 32,
    k: int = 5,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ approximate top-k — the composition of the two
    exact-contract halves (round 13, VERDICT r12 #3): the IVF coarse
    quantizer (:func:`kmeans_centroid_list` cells, ``nprobe`` probes)
    restricts WHICH corpus vectors each query scores, and the PQ
    codebooks (:func:`_pq_codebooks`) decide HOW those survivors are
    scored (fixed-order ADC over argmin codes), so the whole two-level
    index — the classic IVFPQ layout of Jégou et al. — is
    hash-verifiable cross-engine.

    Codes quantize the RAW vectors, not the per-cell residuals
    (FAISS ``IndexIVFPQ(by_residual=False)`` semantics): residual
    encoding would need a per-(query, cell) lookup table — m x ncodes
    doubles per probed cell — and couples the mirror's PQ chain to the
    coarse chain; the raw-vector form keeps the two halves exactly the
    committed, oracle-green building blocks. The recall cost of
    skipping residuals is measured, not assumed, in ann_recall_sweep.

    Exactness composition: at ``nprobe = kcells`` the IVF restriction
    is lossless (every cell probed — pinned by the IVF tests), and at
    ``rerank >= |corpus|`` the ADC order is fully re-ranked by exact
    cosine — so with both maxed this returns exactly the brute-force
    top-k (pinned in tests), and the shipped geometry trades each down
    independently.

    Plan shape at 100 TB: cell assignment and PQ encode are MAP-ONLY
    projections of the corpus (centroid/code literals — one scan, no
    shuffle); the probe set (|Q| x nprobe rows) broadcasts onto the
    cells; the ADC join carries (neighbor_id, m codes) — never raw
    vectors; the rerank exchange carries (query_id, neighbor_id, adc)
    triples; only rerank survivors touch vectors again
    (:func:`_cosine_rank_topk`).
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    if not (1 <= k <= rerank):
        raise ValueError("1 <= k <= rerank required")
    if not (1 <= nprobe <= kcells):
        raise ValueError("1 <= nprobe <= kcells required")
    if not (1 <= scale_bits <= 30):
        raise ValueError("scale_bits in [1, 30] required")
    width = dim // m
    # coarse quantizer: cells for the corpus, nprobe probes per query —
    # the SAME construction the IVF gate runs (shared helper)
    ivf_cand, c_frame = _ivf_candidates(
        queries, candidates, kcells=kcells, iters=coarse_iters,
        nprobe=nprobe, scale_bits=scale_bits, id_col=id_col,
        vec_col=vec_col,
    )
    # PQ scoring of the probed survivors only
    books = _pq_codebooks(
        c_frame, m=m, width=width, ncodes=ncodes, iters=iters,
        scale_bits=scale_bits,
    )
    enc = _pq_encode(candidates, books, m=m, width=width,
                     id_col=id_col, vec_col=vec_col)
    qf = _pq_query_tables(queries, books, m=m, width=width,
                          id_col=id_col, vec_col=vec_col)
    paired = ivf_cand.join(enc, "neighbor_id").join(F.broadcast(qf), "query_id")
    cand = _pq_adc_rerank(paired, m=m, rerank=rerank)
    return _cosine_rank_topk(
        cand, queries, candidates, k=k, id_col=id_col, vec_col=vec_col
    )


def _cosine_rank_topk(
    cand: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared verify tail of the portable ANN family (review r12b #4 —
    one copy): join vectors back onto the deduped (query_id,
    neighbor_id) candidate set, score with the proven ``cosine`` fold,
    rank with the key-unique (cos_sim DESC, neighbor_id) window.

    The corpus-vector join IS one id-keyed hash exchange of vectors at
    scale — once per SURVIVING candidate, the same discipline as
    minhash_portable's signature join-back (versus riding every
    (table, collision) through the bucket exchange)."""
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def kmeans_lloyd_distributed(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Lloyd's k-means as a DISTRIBUTED DataFrame loop with an exact
    cross-engine contract — the registry's first hash-verifiable
    ITERATIVE algorithm (kcore/pagerank stay rows-only; their float
    state drifts per engine, this one cannot):

    - init: the ``k`` vectors with the smallest ids (deterministic, no
      RNG — both engines pick the identical seed set);
    - assignment: argmin over ``||v||^2 - 2 v·c + ||c||^2`` with the
      proven sequential dot fold; ties (exact-duplicate centroids)
      break on cluster id via struct-min — the same total order as the
      oracle's ``ORDER BY dist, cluster`` window;
    - update: :func:`embedding_centroids`' exact integer-sum contract —
      per-dimension ``floor(v * 2^scale_bits)`` longs summed exactly,
      divided once in fixed order (sum / n / 2^bits) — so the new
      centroids are bit-identical REGARDLESS of partitioning, which is
      what makes an iterative float algorithm oracle-able at all: any
      combine-order wobble in iteration 1 would amplify through
      assignment flips by iteration N.

    Plan shape at 100 TB (the Spark-ML-KMeans shape): centroids are a
    k x dim driver-side bounded fit (the quantizer-sample discipline)
    embedded as literals, so ASSIGNMENT IS MAP-ONLY — no shuffle, no
    join; each update is ONE exchange of (cluster, dim, long) triples
    with map-side combine (|k| x dims rows per mapper, independent of
    input rows). ``iters`` update steps -> ``iters`` small jobs, then
    the returned frame computes the final assignment lazily.

    A cluster that loses every member simply drops out of the next
    centroid set (mirrored by the oracle's inner groupBy); callers that
    need constant k re-seed explicitly.

    Output: (id_col, cluster, sq_dist) — sq_dist is the mirrored
    squared-distance tree, emitted unrounded per the float discipline.
    """
    if k < 1:
        raise ValueError("k >= 1 required")
    e = _kmeans_frame(df, id_col=id_col, vec_col=vec_col)
    cents = kmeans_centroid_list(
        e, k=k, iters=iters, scale_bits=scale_bits, prepared=True
    )
    final = e.select(F.col("__vid"), _dist_argmin_struct(cents).alias("__m"))
    return final.select(
        F.col("__vid").alias(id_col),
        F.col("__m.cluster").alias("cluster"),
        F.col("__m.sq_dist").alias("sq_dist"),
    )


def _kmeans_frame(df: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """(__vid, __v double-array, __vv) — checkpointed once, reused by
    every k-means/IVF job against the same input."""
    out = df.select(
        F.col(id_col).alias("__vid"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__vv", dot(F.col("__v"), F.col("__v")))
    return out.localCheckpoint(eager=False)


# --- SQL-text expression builders -------------------------------------
# The centroid-literal expressions below are built as SQL STRINGS parsed
# by ONE F.expr call instead of composed Column objects: every F.lit /
# F.struct / zip_with is a py4j round trip, and a single 16-codeword
# argmin costs ~1 s of pure driver-side construction that way (profiled
# r12; PQ's 24 such expressions put ~10 s of py4j chatter in a 15 s
# gate wall). The parsed trees are operator-for-operator the trees the
# Column API built — same zip_with/aggregate folds, same literal
# doubles (repr() emits the shortest round-trip decimal, and Spark's
# parser is correctly rounded, so the bits survive) — pinned by the
# plain-Python bit-parity tests and the DuckDB hash gates.


def _dlit(x: float) -> str:
    import math

    if not math.isfinite(float(x)):
        # loud and named: interpolating repr(inf/nan) would surface as
        # an opaque SQL ParseException far from the offending row
        # (review r12d #3); a non-finite centroid/codeword component
        # means a non-finite input vector upstream
        raise ValueError(
            f"non-finite centroid component {x!r} — the exact-contract "
            "expression families require finite inputs"
        )
    return repr(float(x)) + "D"


def _dot_sql(a: str, b: str) -> str:
    """The dot() fold, as SQL text: sequential left-to-right double
    accumulation, identical to the Column form and the oracle's
    list_dot_product order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x)"
    )


def _darr_sql(vals) -> str:
    return "array(" + ", ".join(_dlit(v) for v in vals) + ")"


def _dist_structs_sql(cent_list, v: str, vv: str) -> str:
    """THE distance-tree contract, in one place: the
    ``((vv - 2.0 * dot(v, c)) + cc, cluster)`` parenthesization and
    (sq_dist, cluster) struct order every oracle mirrors, emitted as a
    comma-joined SQL struct list."""
    return ", ".join(
        "named_struct('sq_dist',"
        f" (({vv} - (2.0D * {_dot_sql(v, _darr_sql(c))})) + {_dlit(cc)}),"
        f" 'cluster', CAST({int(j)} AS BIGINT))"
        for j, c, cc in cent_list
    )


def _argmin_sql(cent_list, v: str, vv: str) -> str:
    """array_min over the distance structs — (dist, cluster)
    lexicographic, the oracle's ORDER BY dist, cluster LIMIT 1."""
    return f"array_min(array({_dist_structs_sql(cent_list, v, vv)}))"


def _let_sql(bound: str, var: str, body: str) -> str:
    """functions/expr.let as SQL text: transform(array(bound),
    var -> body)[0] — same GetArrayItem(0) binding."""
    return f"transform(array({bound}), {var} -> {body})[0]"


def _dist_argmin_struct(cent_list) -> Column:
    """min over centroid literals of struct((vv - 2 v·c) + cc, cluster)
    — (dist, cluster) lexicographic = the oracle's ORDER BY dist,
    cluster LIMIT 1. Expects the :func:`_kmeans_frame` columns."""
    return F.expr(_argmin_sql(cent_list, "__v", "__vv"))


def kmeans_centroid_list(
    df: DataFrame,
    *,
    k: int,
    iters: int,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prepared: bool = False,
) -> list[tuple[int, list[float], float]]:
    """The Lloyd loop of :func:`kmeans_lloyd_distributed`, returning the
    final centroids as a driver-side bounded fit (k x dim — the
    quantizer-sample discipline): (cluster, centroid, ||centroid||^2)
    triples whose every float is bit-identical across engines and
    partitionings (exact integer-sum updates). Shared by the k-means
    gate and the portable IVF index."""
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e = df if prepared else _kmeans_frame(df, id_col=id_col, vec_col=vec_col)

    # the k SMALLEST ids, not "id < k" (review r12b #1: ids need not be
    # dense 0-based; the exposed id_col contract is any orderable id) —
    # a bounded global top-k, and the cluster labels ARE the seed ids
    cents = _collect_cents(
        e.orderBy(F.col("__vid").asc())
        .limit(k)
        .select(
            F.col("__vid").cast("long").alias("cluster"),
            F.col("__v").alias("__c"),
            F.col("__vv").alias("__cc"),
        )
    )
    if not cents:
        raise ValueError("k-means on an empty input (no seed vectors)")
    return _lloyd_updates(e, cents, iters=iters, scale_bits=scale_bits)


def _collect_cents(frame: DataFrame) -> list[tuple[int, list[float], float]]:
    rows = frame.collect()
    return [(int(r["cluster"]), list(r["__c"]), float(r["__cc"])) for r in rows]


def _lloyd_updates(
    e: DataFrame,
    cents: list[tuple[int, list[float], float]],
    *,
    iters: int,
    scale_bits: int,
) -> list[tuple[int, list[float], float]]:
    """``iters`` exact-contract Lloyd update rounds over a prepared
    (__vid, __v, __vv) frame, starting from ``cents`` — split out of
    :func:`kmeans_centroid_list` so PQ's per-subspace codebooks can
    run the update loop against projections of ONE shared checkpointed
    frame instead of re-checkpointing and re-seeding per subspace
    (review r12c #3)."""
    for _ in range(iters):
        assigned = e.select(
            _dist_argmin_struct(cents)["cluster"].alias("cluster"), "__v"
        )
        stats = embedding_centroids(
            assigned, group_col="cluster", vec_col="__v", scale_bits=scale_bits
        )
        arrs = stats.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("centroid")))),
                lambda x: x["centroid"],
            ).alias("__c")
        )
        cents = _collect_cents(
            arrs.withColumn("__cc", dot(F.col("__c"), F.col("__c")))
        )
    return cents


def ivf_topk_portable(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    kcells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 5,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k on the exact-contract coarse quantizer —
    the third portable-ANN member (LSH buckets, k-means cells, IVF
    probe): because :func:`kmeans_centroid_list` is bit-identical
    cross-engine, the cell assignment, the probe set, and therefore the
    ENTIRE approximate result are hash-verifiable; the xxhash-era IVF
    (``ivf_topk``, numpy Lloyd on a driver sample) stays the throughput
    path, this is the verifiable one.

    Semantics (mirrored by the oracle CTE chain): train k-means
    (``kcells``, ``iters``) on the candidate corpus; each corpus vector
    lives in its argmin cell; each query probes its ``nprobe`` nearest
    cells (by the same (dist, cluster) total order); exact cosine
    re-rank inside the probed cells.

    Plan shape at 100 TB: cell assignment is MAP-ONLY (centroid
    literals); the probe is ONE equi-join on the cell id — the classic
    IVF inverted-list scan, reading |corpus|/kcells * nprobe of the
    data per query batch instead of all of it; vectors ride only the
    final per-candidate verify.
    """
    if not (1 <= nprobe <= kcells):
        raise ValueError("1 <= nprobe <= kcells required")
    if k < 1:
        raise ValueError("k >= 1 required")
    cand, _ = _ivf_candidates(
        queries, candidates, kcells=kcells, iters=iters, nprobe=nprobe,
        scale_bits=scale_bits, id_col=id_col, vec_col=vec_col,
    )
    return _cosine_rank_topk(
        cand, queries, candidates, k=k, id_col=id_col, vec_col=vec_col
    )


def _ivf_candidates(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    kcells: int,
    iters: int,
    nprobe: int,
    scale_bits: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The coarse-quantizer candidate construction shared by
    :func:`ivf_topk_portable` and :func:`ivfpq_topk_portable` (review
    r13 #4: a duplicated copy would let a probe-tiebreak or
    cell-assignment edit silently decouple the composition from its
    half). Returns ``(cand, c_frame)`` — the deduped (query_id,
    neighbor_id) probe candidates and the prepared corpus frame (the
    IVF+PQ gate trains its codebooks on the same frame)."""
    c_frame = _kmeans_frame(candidates, id_col=id_col, vec_col=vec_col)
    cents = kmeans_centroid_list(
        c_frame, k=kcells, iters=iters, scale_bits=scale_bits, prepared=True
    )
    cells = c_frame.select(
        F.col("__vid").alias("neighbor_id"),
        _dist_argmin_struct(cents)["cluster"].alias("cluster"),
    )
    q_frame = _kmeans_frame(queries, id_col=id_col, vec_col=vec_col)
    probes = q_frame.select(
        F.col("__vid").alias("query_id"),
        F.explode(
            F.expr(
                f"slice(array_sort(array("
                f"{_dist_structs_sql(cents, '__v', '__vv')})), 1, {nprobe})"
            )
        ).alias("__p"),
    ).select("query_id", F.col("__p.cluster").alias("cluster"))
    cand = (
        cells.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return cand, c_frame
