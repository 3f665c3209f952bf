"""Cross-run incremental dedup manifest (VERDICT r7 #7).

The operational loop a 100 TB curation pipeline runs daily: a new batch
of documents arrives; anything whose CONTENT was already kept by a
prior run must be skipped; the survivors ship and their hashes are
appended to a persisted manifest so the next run skips them. The
reference runs exactly this idempotency pattern per asset at human
scale — ``assets.js:78-80`` skips the download when the file already
exists on disk — and ``posts.js``'s re-run behavior depends on it; here
the "already exists" check is a LEFT ANTI join against a parquet
manifest of content hashes, and the "write the file" step is an
append of the new hashes.

Scale design:

- The manifest stores 64-char hex sha256 content hashes (plus the
  run_id that added each) — NEVER text. A trillion-document corpus is
  ~100 TB of text but ~70 GB of hashes: the manifest stays join-able
  on a cluster that could not re-scan the corpus.
- Within-batch dedup happens FIRST (min-id per hash — the
  deterministic keeper rule shared with ``dedup.exact_dedup``), so the
  anti-join probes one row per distinct content, not per document.
- The anti-join shuffles 32-byte hashes on both sides. For a manifest
  consumed every day, store it BUCKETED by ``content_hash`` (Spark
  ``bucketBy`` on a saved table) and repartition the batch side to the
  same scheme — the manifest-side shuffle then disappears from every
  daily run. The plain parquet layout here keeps the operator
  storage-agnostic; the bucketing is a one-line change at the write.
- Appends are IDEMPOTENT BY SEMANTICS, not by write-protocol: only
  hashes that survived the anti-join are appended, so re-running an
  already-applied batch appends nothing. If an orchestration-level
  retry replays a partially-applied append, the duplicate hash rows
  are harmless — the manifest is only ever consumed as an anti-join
  set (``first_seen_run`` of a duplicated hash is ambiguous, which is
  why it is provenance metadata, not an API).
- Runs against ONE manifest path must be SERIALIZED (an
  orchestrator-level lock, the normal shape for a daily loop). Two
  concurrent runs each read the pre-append snapshot, so a document
  present in both batches passes both anti-joins, ships twice, and
  its hash is appended twice. The replay-idempotency argument above
  covers serial re-runs only; there is no optimistic-concurrency
  protocol here because plain parquet appends offer no atomic
  compare-and-swap to build one on (a table format with snapshot
  isolation — e.g. the bucketed saved-table variant below under a
  metastore lock — is the upgrade path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import normalize_text

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("first_seen_run", T.StringType(), True),
    ]
)


def _is_path_absent(e: Exception) -> bool:
    """True iff an AnalysisException means "the path does not exist" —
    the one condition that may bootstrap an empty manifest. Matches the
    stable error CONDITION first (``getCondition()``, Spark's versioned
    error-condition registry; named ``getErrorClass()`` pre-4.0, kept
    as the fallback accessor) and falls back to the two known message
    substrings only when the condition is unavailable; matching on
    message text alone is brittle across Spark versions (ADVICE r8).
    Drift still fails SAFE — an unrecognized error raises rather than
    silently bootstrapping."""
    get_cond = getattr(e, "getCondition", None) or getattr(
        e, "getErrorClass", None
    )
    if get_cond is not None:
        cond = get_cond()
        if cond is not None:
            return cond == "PATH_NOT_FOUND"
    msg = str(e)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def content_hash(text_col: str = "text"):
    """The manifest's hash definition: sha256 over the dedup family's
    normalized form (shared with ``exact_dedup`` so a corpus deduped
    batch-by-batch and one deduped whole agree on what "same content"
    means)."""
    return F.sha2(normalize_text(F.col(text_col)), 256)


def build_manifest(
    df: DataFrame, *, text_col: str = "text", run_id: str | None = None
) -> DataFrame:
    """Distinct content hashes of a corpus, in manifest schema — the
    bootstrap for a pipeline adopting incremental dedup over an
    already-published corpus."""
    out = df.select(content_hash(text_col).alias("content_hash")).distinct()
    # cast: F.lit(None) is VOID-typed, which parquet rejects — the
    # bootstrap output must be writable (round-8 review finding)
    return out.withColumn("first_seen_run", F.lit(run_id).cast("string"))


def manifest_dedup(
    new_docs: DataFrame,
    manifest: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_partitions: int | None = None,
) -> DataFrame:
    """Survivors of a new batch against the persisted manifest: one row
    per distinct NEW content, ``(id_col, content_hash)``, keeper =
    min id (deterministic). Everything already in the manifest — and
    every within-batch duplicate — is dropped.

    The exchange carries (hash, id) pairs only; the anti-join's
    manifest side carries hashes only. Document text never shuffles.

    ``batch_partitions`` exists for the BUCKETED manifest path: when
    the manifest scan arrives pre-partitioned (HashPartitioning on
    ``content_hash`` with the bucket count), EnsureRequirements aligns
    the join's two sides to the LARGER partition count — so a batch
    side at ``spark.sql.shuffle.partitions`` > buckets makes Spark
    re-shuffle the MANIFEST (exactly the exchange the layout exists to
    delete; surfaced by the round-9 plan test when a session ran at 32
    shuffle partitions against 8 buckets). Passing the bucket count
    here pins the batch's hash exchange to it, so both sides arrive
    equal and the manifest side can never be the one re-shuffled. The
    repartition replaces (not adds to) the groupBy's own exchange: the
    aggregation runs on the already-hash-partitioned child."""
    hashed = new_docs.select(
        F.col(id_col), content_hash(text_col).alias("content_hash")
    )
    if batch_partitions is not None:
        hashed = hashed.repartition(batch_partitions, F.col("content_hash"))
    batch_keepers = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias(id_col)
    )
    return batch_keepers.join(
        manifest.select("content_hash"), "content_hash", "left_anti"
    ).select(id_col, "content_hash")


# ---------------------------------------------------------------------------
# Bucketed saved-table variant (VERDICT r8 #4): the daily-loop fast path
# ---------------------------------------------------------------------------

#: single source of truth for the bucketed manifest's bucket column —
#: the bucket spec is part of the table's on-disk contract, and every
#: writer (bootstrap + appends) must agree with it forever.
BUCKET_COL = "content_hash"


def build_manifest_bucketed(
    df: DataFrame,
    *,
    table: str,
    path: str,
    buckets: int = 64,
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Bootstrap the manifest as a saved table BUCKETED by
    ``content_hash`` — the one-line layout change the module docstring
    promises, made real. The plain-parquet manifest costs every daily
    run a full manifest-side shuffle (anti-join on ``content_hash``
    re-Exchanges the entire kept-corpus hash set — ~70 GB at a trillion
    docs — to probe a batch a thousandth its size); the bucketed layout
    pays one shuffle at bootstrap and NONE afterwards: the scan reports
    ``HashPartitioning(content_hash, buckets)``, so EnsureRequirements
    shuffles only the (small) batch side to the bucket count.
    Plan-asserted in ``tests/test_manifest_dedup.py`` (zero
    manifest-side Exchange, the ``test_jdbc_bucketing`` pattern).

    ``path`` is required (external table): warehouse.dir is a static
    conf and must not default into the working directory. ``buckets``
    is part of the table's permanent contract — appends validate
    against the stored spec and fail loudly on mismatch."""
    (
        build_manifest(df, text_col=text_col, run_id=run_id)
        .write.bucketBy(buckets, BUCKET_COL)
        .sortBy(BUCKET_COL)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_manifest_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Load the bucketed manifest via the catalog — the ONLY read that
    preserves the bucket spec (reading the parquet files directly drops
    the bucketing metadata and re-introduces the manifest-side
    Exchange). A missing table bootstraps empty.

    A catalog read is lazy over the table's current file listing, so a
    caller that appends to the table must first materialize its
    survivor frame with an EAGER localCheckpoint: the frame's lineage
    is then truncated at blocks computed strictly pre-append, and a
    lost-block failure raises rather than ever anti-joining the batch
    against its own append."""
    if not spark.catalog.tableExists(table):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.table(table)


def build_neardup_manifest(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_k: int = 3,
    run_id: str | None = None,
) -> DataFrame:
    """The NEAR-dup analogue of ``build_manifest``: one row per
    (kept doc, band) holding the doc's flat MinHash signature columns
    plus its (band, bucket) LSH key — exactly the frame the candidate
    join consumes, so tomorrow's batch probes it with one equi-join and
    no recomputation over the kept corpus. ~``bands x (8*num_hashes +
    24)`` bytes per doc (304 B at the 16/2 defaults — the signature
    repeats per band row; at web scale, normalize into a signature
    table + a band table if bands is large). Text is never stored.

    The (num_hashes, bands, shingle_k) configuration is
    BAKED INTO the stored signatures: probing with a different
    configuration silently finds nothing, so the parameters must be
    pinned for the manifest's lifetime (store them alongside the path).
    """
    from .dedup import minhash_banded

    banded = minhash_banded(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    return banded.withColumn("first_seen_run", F.lit(run_id).cast("string"))


def neardup_manifest_dedup(
    new_docs: DataFrame,
    manifest: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.9,
    max_bucket_size: int | None = 200_000,
) -> DataFrame:
    """New-batch ids that are NOT near-duplicates of the kept corpus:
    the daily batch-vs-manifest step that replaces re-running all-pairs
    LSH over corpus+batch (at 100 TB the kept corpus dwarfs any daily
    batch — recomputing its signatures daily is the cost this operator
    deletes).

    Plan: batch signatures once (lazy localCheckpoint — consumed by
    both the candidate join and the survivor anti-join), equi-join
    against the manifest on (band, bucket), estimate Jaccard from the
    two flat signatures (codegen sum of 16 primitive equalities, the
    ``minhash_lsh_candidates`` shape), drop batch ids with any match >=
    ``min_est_jaccard``. Output: one row per surviving batch id
    (``id_col``) — join back to the payload on the caller side.
    ``max_bucket_size`` drops pathological manifest buckets before the
    join (the boilerplate-bucket quadratic guard, same rationale as the
    LSH self-join's cap).

    Within-batch near-dups are OUT of scope by design: run the
    standard exact→LSH→cluster-keepers pipeline over the survivors
    before appending them (composition keeps each stage's oracle).
    """
    from .dedup import minhash_banded

    probe = minhash_banded(
        new_docs,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    ).localCheckpoint(eager=False)

    m = manifest
    if max_bucket_size is not None:
        small = (
            m.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bucket")
        )
        m = m.join(small, ["band", "bucket"], "left_semi")
    m = m.select(
        F.col("band"),
        F.col("bucket"),
        *[F.col(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)],
    )

    matches = None
    for i in range(num_hashes):
        piece = (F.col(f"h{i}") == F.col(f"mh{i}")).cast("int")
        matches = piece if matches is None else matches + piece
    est = matches / F.lit(num_hashes)

    dropped = (
        probe.join(m, ["band", "bucket"])
        .filter(est >= F.lit(min_est_jaccard))
        .select(F.col("id"))
        .distinct()
    )
    return (
        probe.select("id")
        .distinct()
        .join(dropped, "id", "left_anti")
        .select(F.col("id").alias(id_col))
    )


# ---------------------------------------------------------------------------
# PORTABLE (md5) cross-run NEAR-dup manifest (round 12, VERDICT r11 #4):
# the persisted signatures become a cross-engine artifact
# ---------------------------------------------------------------------------


def neardup_manifest_portable_schema(num_hashes: int = 16) -> T.StructType:
    """Parquet schema of the PORTABLE signature manifest: md5 hex
    signature strings instead of xxhash64 longs — ~4x the bytes of the
    throughput manifest (32-char hex per position), bought for engine
    neutrality: any system with an md5 recomputes identical signatures
    and probes the same parquet, and the whole daily loop becomes
    hash-verifiable instead of recall-measured."""
    return T.StructType(
        [T.StructField("id", T.LongType(), False)]
        + [
            T.StructField(f"h{i}", T.StringType(), True)
            for i in range(num_hashes)
        ]
        + [
            T.StructField("band", T.IntegerType(), False),
            T.StructField("bucket", T.StringType(), True),
            T.StructField("first_seen_run", T.StringType(), True),
        ]
    )


def build_neardup_manifest_portable(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    run_id: str | None = None,
) -> DataFrame:
    """Banded PORTABLE manifest rows for the kept docs — one row per
    (doc, band) carrying the flat md5 signature plus its LSH key,
    exactly the frame `minhash_portable_pairs` banded internally
    (shared builders ``minhash_portable_signatures`` /
    ``portable_band_struct``, so operator and artifact cannot drift).
    Docs with fewer than ``shingle_k`` tokens have no signature and no
    manifest row — they carry no similarity signal (the portable pair
    family's documented convention)."""
    from .dedup import minhash_portable_signatures, portable_band_struct

    sigs = minhash_portable_signatures(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
    )
    return (
        sigs.select(
            "id",
            *[f"h{i}" for i in range(num_hashes)],
            F.explode(portable_band_struct(num_hashes, bands)).alias("bb"),
        )
        .select(
            "id",
            *[f"h{i}" for i in range(num_hashes)],
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        .withColumn("first_seen_run", F.lit(run_id).cast("string"))
    )


def read_neardup_manifest_portable(
    spark: SparkSession, path: str, *, num_hashes: int = 16
) -> DataFrame:
    """Load the portable signature manifest PINNED to the files present
    right now; a missing path bootstraps empty (first run). The pinning
    is load-bearing: the daily step reads, probes, then APPENDS to the
    same path, and a plain ``read.parquet(path)`` plan is lazy over the
    directory — a recompute after the append (task retry, a second
    action) would probe the batch against its own signatures. Reading
    the file list enumerated once keeps every recompute on the
    pre-append snapshot. Any error other than path-absent raises:
    bootstrapping empty on a transient storage error would re-ship the
    whole kept corpus."""
    from pyspark.errors import AnalysisException

    schema = neardup_manifest_portable_schema(num_hashes)
    try:
        snapshot = spark.read.schema(schema).parquet(path)
        files = snapshot.inputFiles()
    except AnalysisException as e:
        if _is_path_absent(e):
            return spark.createDataFrame([], schema)
        raise
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def neardup_probe_portable(
    new_docs: DataFrame,
    manifest: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_agree: int = 8,
    max_bucket_size: int | None = 50,
) -> tuple[DataFrame, DataFrame]:
    """Probe the batch against the portable manifest. Returns
    ``(probe_rows, scored)``: ``probe_rows`` are the batch's would-be
    manifest rows (lazily checkpointed — the append step reuses the
    SAME evaluation, the round-8 single-evaluation discipline), and
    ``scored`` is one row per batch doc: (id_col, max_agree,
    is_survivor) — ``max_agree`` the best signature agreement against
    any colliding manifest doc (0 when no bucket collision, including
    docs too short to sign), ``is_survivor = max_agree < min_agree``.
    Integer agreement, never a float threshold.

    Plan shape at 100 TB: collisions join COMPACT (band, bucket)
    frames — the 16x32-char signatures never ride the bucket exchange
    (review r11 #6's rule applied to the probe); the deduped collision
    pair set joins back to one-signature-row-per-doc frames on both
    sides, so signatures cross the wire once per colliding pair. The
    ``max_bucket_size`` cap drops pathological MANIFEST buckets whole
    before the join (the non-portable probe's guard, mirrored in the
    oracle as part of the semantics)."""
    probe_rows = build_neardup_manifest_portable(
        new_docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    ).localCheckpoint(eager=False)

    m_band = manifest.select("id", "band", "bucket")
    if max_bucket_size is not None:
        small = (
            m_band.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bucket")
        )
        m_band = m_band.join(small, ["band", "bucket"], "left_semi")

    coll = (
        probe_rows.select(F.col("id").alias("bid"), "band", "bucket")
        .join(m_band.select(F.col("id").alias("mid"), "band", "bucket"),
              ["band", "bucket"])
        .select("bid", "mid")
        .distinct()
    )
    bsig = probe_rows.dropDuplicates(["id"]).select(
        F.col("id").alias("bid"),
        *[F.col(f"h{i}").alias(f"__p{i}") for i in range(num_hashes)],
    )
    msig = manifest.dropDuplicates(["id"]).select(
        F.col("id").alias("mid"),
        *[F.col(f"h{i}").alias(f"__m{i}") for i in range(num_hashes)],
    )
    agree = None
    for i in range(num_hashes):
        piece = (F.col(f"__p{i}") == F.col(f"__m{i}")).cast("int")
        agree = piece if agree is None else agree + piece
    best = (
        coll.join(bsig, "bid")
        .join(msig, "mid")
        .select("bid", agree.alias("__agree"))
        .groupBy("bid")
        .agg(F.max("__agree").cast("long").alias("max_agree"))
    )
    scored = (
        new_docs.select(F.col(id_col))
        .join(best.select(F.col("bid").alias(id_col), "max_agree"),
              id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("max_agree"), F.lit(0).cast("long")).alias(
                "max_agree"
            ),
            (
                F.coalesce(F.col("max_agree"), F.lit(0).cast("long"))
                < F.lit(min_agree)
            ).alias("is_survivor"),
        )
    )
    return probe_rows, scored


def incremental_neardup_run_portable(
    spark: SparkSession,
    new_docs: DataFrame,
    manifest_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_agree: int = 8,
    max_bucket_size: int | None = 50,
    run_id: str,
) -> DataFrame:
    """The daily PORTABLE near-dup step: read the manifest (pinned
    snapshot) → probe → EAGER checkpoint of the scores → append the
    survivors' signature rows → return the scored frame (id, max_agree,
    is_survivor). Because the artifact stores md5 signatures, ANY
    engine can audit the manifest, recompute a batch's signatures, and
    reproduce today's keep/drop decisions bit-for-bit — the property
    the registry gate `incremental_neardup_portable` hash-verifies
    against DuckDB across the full write → read → probe round trip."""
    manifest = read_neardup_manifest_portable(
        spark, manifest_path, num_hashes=num_hashes
    )
    probe_rows, scored = neardup_probe_portable(
        new_docs,
        manifest,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        min_agree=min_agree,
        max_bucket_size=max_bucket_size,
    )
    scored = scored.localCheckpoint(eager=True)
    survivors = scored.filter(F.col("is_survivor")).select(
        F.col(id_col).alias("id")
    )
    new_rows = probe_rows.join(survivors, "id", "left_semi").withColumn(
        "first_seen_run", F.lit(run_id).cast("string")
    )
    new_rows.write.mode("append").parquet(path=manifest_path)
    return scored


def manifest_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str = "content_hash",
) -> DataFrame:
    """Snapshot diff between two manifest versions (round 15): one row
    per key present in either snapshot with its lifecycle ``status`` —
    ``added`` (new only), ``removed`` (old only), ``retained`` (both).

    This is the audit step the cross-run manifest family was missing:
    the incremental loops PROVE idempotence and survivor correctness
    per run, but a release review asks a between-release question —
    "what changed between snapshot N and N+1, and was anything
    removed?" (an append-only manifest must never produce ``removed``
    rows; a compaction or re-bootstrap legitimately does, and the diff
    is how that is signed off). Works over any of the family's
    manifests — the exact and bucketed ones carry ``content_hash``;
    pass ``key="id"`` for the portable signature manifest.

    Shape: distinct on each side (manifests are distinct-by-contract
    already; the projection keeps the diff safe over raw survivor
    logs too), then a full outer join on the key — one hash-keyed
    exchange per side, carrying 32-byte keys only. At 100 TB the
    snapshots are the SMALL data (one row per distinct content), and
    the join keys co-partition; nothing here touches document text.
    """
    o = old.select(F.col(key)).distinct().withColumn("__old", F.lit(True))
    n = new.select(F.col(key)).distinct().withColumn("__new", F.lit(True))
    j = o.join(n, key, "full_outer")
    return j.select(
        key,
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
        .alias("status"),
    )
