"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables.

This is the engine's conformance suite (SURVEY.md §2 inventory — each
entry cites its row) and the driver's correctness gate
(``__spark_entry__.py``). Aliases are chosen identically in the Spark
plan and the oracle SQL because the driver's compare hashes values with
columns sorted by name.

Float discipline (round 5, ULP-proof contract — replaces the round-4
"round() on both sides" rule, which itself diverged by 1 ULP on boundary
inputs because Spark rounds decimals via BigDecimal HALF_UP on the exact
binary value while DuckDB multiplies-rounds-divides):

- SUMS of fractional doubles are integer-scaled BEFORE aggregation:
  ``CAST(round(x * 10^k) AS BIGINT)``. Round-to-INTEGER of a double is
  the one decimal op both engines implement identically (HALF_UP ==
  ties-away-from-zero for every sign), long sums are exact and
  combine-order-free, and the single trailing ``/ 10^k.0`` division is
  correctly rounded on bit-identical operands — hence bit-identical.
- RATIOS of exact integers (counts, sizes) are emitted UNROUNDED: one
  IEEE division is correctly rounded, so it is bit-identical cross-engine;
  wrapping it in ``round(x, n)`` would reintroduce the divergence.
- BOOLEAN thresholds on ratios are integer cross-multiplications
  (``100*top_c > 18*total_c``), never float comparisons of rounded values.
- ORDER-STATISTICS use the discrete-rank definition (an actual element of
  the data, integer rank arithmetic), not interpolation.
- Scalar float expression TREES are mirrored verbatim between the Spark
  plan and the oracle SQL, so every op sees bit-identical operands.

tests/test_ulp_contract.py pins the primitives near rounding boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import (
    PORTABLE_WS_PLUS,
    portable_lower,
    portable_upper,
)
from ..functions import (
    compile_permalink,
    conditional_array_wrap,
    decode_entities,
    host_strip,
    iso8601,
    null_default_array,
    padded_day,
    padded_month,
    slugify,
    split_to_array,
    year_str,
)
from ..operators import (
    broadcast_lookup,
    decorrelated_group_concat,
    eav_pivot,
    hierarchy_parent_join,
)
from ..operators import audio_dedup as aud
from ..operators import blocklist as blk
from ..operators import bloom as bl
from ..operators import dedup as dd
from ..operators import graph as gr
from ..operators import image_dedup as imd
from ..operators import layout as lay
from ..operators import linalg as lin
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import stats as stats_ops
from ..operators import text as tx
from ..operators import sampling
from ..operators.sampling import (
    deterministic_split,
    leakage_safe_split,
    pack_sequences,
    pack_sequences_ffd,
    stratified_sample,
)
from ..operators import skew as skew_ops
from ..operators.skew import salted_agg
from ..operators.temporal import asof_join, gapfill_buckets, range_join_count


from ..sources.catalog import load_table as _t


# ---------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2.a-e)
# ---------------------------------------------------------------------------


def q_flagship_posts_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship posts-pipeline analog (SURVEY.md §7 stage 0): published
    filter -> left join author dim -> decorrelated per-row group-concat ->
    ISO date + compiled permalink. Mirrors posts.js:24-26,58-141,145-163."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")

    with_flags = decorrelated_group_concat(
        orders, lineitem, "o_orderkey", "l_orderkey", F.col("l_returnflag"), alias="flags"
    )
    url = compile_permalink(
        "/%year%/%monthnum%/%post_id%/",
        "https://example.com/blog",
        post_id=F.col("o_orderkey"),
        date_gmt=F.col("o_orderdate"),
        post_name=F.lit(""),
        guid=F.lit(""),
    )
    joined = with_flags.join(
        F.broadcast(customer), with_flags.o_custkey == customer.c_custkey, "left"
    )
    return joined.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("c_name").alias("author"),
        iso8601(F.col("o_orderdate")).alias("date_iso"),
        url.alias("url"),
        F.col("flags").alias("flags"),
    )


SQL_FLAGSHIP = """
SELECT o.o_orderkey AS order_id,
       c.c_name AS author,
       strftime(o.o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ') AS date_iso,
       '/' || strftime(o.o_orderdate, '%Y') || '/' || strftime(o.o_orderdate, '%m')
           || '/' || o.o_orderkey || '/' AS url,
       g.flags AS flags
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN (
    SELECT l_orderkey, string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags
    FROM lineitem GROUP BY l_orderkey
) g ON g.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
"""


def q_posts_export_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship export through the NO-COLLECT sharded path's
    semantics, made oracle-able (round 15 — VERDICT r14 #5's "the
    keyed-JSON sharded mode is the path"): every entry renders to its
    final JSON line ON EXECUTORS (``to_json``, exactly what
    sinks/keyed_json.write_keyed_json_sharded ships to shard files),
    is assigned to one of 8 shards by the portable content-independent
    sha256-prefix hash (the ``shard_manifest`` device — deterministic
    cross-engine, unlike ``repartitionByRange``'s sampled bounds), and
    each shard row carries the release-manifest evidence: entry count,
    total rendered bytes, an order-free bit_xor checksum of per-line
    sha256 prefixes, and the id range. The checksum covers the FULL
    rendered line, so this gate proves the export's bytes — not just
    its columns — are engine-identical, with zero driver collect
    anywhere in the plan.

    Contract: entries with a NULL author or flags are excluded on BOTH
    sides (explicitly — Spark ``to_json`` DROPS null struct fields
    while the oracle's string concat would null the whole line: a
    silent cross-engine divergence unless the contract excludes them;
    the flagship gate itself covers null propagation). The oracle
    renders lines by concatenation — no escaping — so a fixture string
    containing JSON-special characters would diverge LOUDLY (checksum
    mismatch), never silently; order/customer fixture strings are
    JSON-clean."""
    e = q_flagship_posts_export(spark, sf_dir).filter(
        F.col("author").isNotNull() & F.col("flags").isNotNull()
    )
    line = F.to_json(F.struct("order_id", "author", "date_iso", "url", "flags"))
    shard = (
        F.conv(F.substring(F.sha2(F.col("order_id").cast("string"), 256), 1, 8), 16, 10)
        .cast("long")
        % 8
    )
    chk = F.conv(F.substring(F.sha2(line, 256), 1, 15), 16, 10).cast("long")
    return (
        e.select(
            shard.alias("shard_id"),
            "order_id",
            F.length(line).cast("long").alias("__len"),
            chk.alias("__chk"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entries"),
            F.sum("__len").cast("long").alias("total_bytes"),
            F.bit_xor("__chk").alias("checksum"),
            F.min("order_id").alias("min_id"),
            F.max("order_id").alias("max_id"),
        )
    )


SQL_POSTS_EXPORT_SHARDED = """
WITH flagship AS (
    SELECT o.o_orderkey AS order_id,
           c.c_name AS author,
           strftime(o.o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ') AS date_iso,
           '/' || strftime(o.o_orderdate, '%Y') || '/' || strftime(o.o_orderdate, '%m')
               || '/' || o.o_orderkey || '/' AS url,
           g.flags AS flags
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (
        SELECT l_orderkey, string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags
        FROM lineitem GROUP BY l_orderkey
    ) g ON g.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
), rendered AS (
    SELECT order_id,
           CAST(('0x' || substr(sha256(CAST(order_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 8 AS shard_id,
           '{"order_id":' || order_id || ',"author":"' || author
               || '","date_iso":"' || date_iso || '","url":"' || url
               || '","flags":"' || flags || '"}' AS line
    FROM flagship
    WHERE author IS NOT NULL AND flags IS NOT NULL
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_entries,
       CAST(sum(length(line)) AS BIGINT) AS total_bytes,
       CAST(bit_xor(CAST(('0x' || substr(sha256(line), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum,
       min(order_id) AS min_id, max(order_id) AS max_id
FROM rendered GROUP BY shard_id
"""


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 12-13: projection + equality/range filter (pushed to scan)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000))
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("price"))
    )


SQL_FILTER_PROJECT = """
SELECT o_orderkey, o_custkey, o_totalprice AS price
FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000
"""

_IN_IDS = [1, 2, 3, 7, 32, 64, 128, 999, 4242, 11111]


def q_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 14: IN-list filter (the resume-by-ID path, posts.js:176-177)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isin(_IN_IDS))
        .select("o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price"))
    )


SQL_IN_LIST = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice AS price
FROM orders WHERE o_orderkey IN ({", ".join(map(str, _IN_IDS))})
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 23: left-semi join (large ID-set variant of resume-by-ID)."""
    orders = _t(spark, sf_dir, "orders")
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return orders.join(
        building, orders.o_custkey == building.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey")


SQL_SEMI_JOIN = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 23/46: left-anti join (idempotent skip, assets.js:78-80)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 16: left outer equi-join (posts LEFT JOIN users, posts.js:25-26)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "c_name", "c_mktsegment")


SQL_LEFT_OUTER = """
SELECT o_orderkey, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q_eav_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 15, 17: EAV pivot with inner-join (require-all) semantics
    (authors.js:22-24). Single shuffle instead of the reference's N-way
    self-join."""
    events = _t(spark, sf_dir, "events").withColumn(
        # ULP-proof cross-engine sum contract: scale to integer cents
        # BEFORE aggregating (round-to-integer of a double is identical
        # in Spark and DuckDB — HALF_UP == ties-away for every sign —
        # unlike fractional-scale round(x, n), whose algorithms differ),
        # sum exact longs, divide back by 100.0 once at the end: every
        # float op is then a single correctly-rounded IEEE op on
        # bit-identical operands in both engines.
        "value",
        F.round(F.col("value") * 100).cast("long"),
    )
    piv = eav_pivot(
        events,
        "user_id",
        ["click", "view", "purchase"],
        key_col="event_type",
        value_col="value",
        agg="sum",
    )
    return piv.select(
        "user_id",
        (F.col("click") / F.lit(100.0)).alias("click"),
        (F.col("view") / F.lit(100.0)).alias("view"),
        (F.col("purchase") / F.lit(100.0)).alias("purchase"),
    )


SQL_EAV_PIVOT = """
SELECT user_id,
       sum(CASE WHEN event_type = 'click' THEN CAST(round(value * 100) AS BIGINT) END) / 100.0 AS click,
       sum(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) END) / 100.0 AS view,
       sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) END) / 100.0 AS purchase
FROM events
GROUP BY user_id
HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
   AND count(CASE WHEN event_type = 'view' THEN 1 END) > 0
   AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
"""


def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 18: inner equi-join (terms JOIN term_taxonomy, categories.js:22-24)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return nation.join(
        region, nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", "r_name")


SQL_INNER_JOIN = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 19: broadcast small-dimension lookup (featuredImage dict probe,
    posts.js:147,157-158)."""
    orders = _t(spark, sf_dir, "orders")
    lookup = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    joined = broadcast_lookup(
        orders, lookup, orders.o_custkey == lookup.c_custkey, how="inner"
    )
    return joined.select("o_orderkey", "c_name")


SQL_BROADCAST_LOOKUP = """
SELECT o_orderkey, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
"""


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 20, 25: decorrelated correlated-aggregate subquery with
    group-concat (the posts.js:25 category subquery)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    out = decorrelated_group_concat(
        orders, lineitem, "o_orderkey", "l_orderkey", F.col("l_returnflag"), alias="flags"
    )
    return out.select("o_orderkey", "flags")


SQL_GROUP_CONCAT = """
SELECT o.o_orderkey, g.flags AS flags
FROM orders o
LEFT JOIN (
    SELECT l_orderkey, string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags
    FROM lineitem GROUP BY l_orderkey
) g ON g.l_orderkey = o.o_orderkey
"""


def q_hierarchy_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 22: hierarchical self-join parent resolution (fixes the
    reference's per-page dict bug, categories.js:47)."""
    nation = _t(spark, sf_dir, "nation")
    resolved = hierarchy_parent_join(
        nation,
        id_col="n_nationkey",
        parent_col="n_regionkey",
        slug_col="n_name",
        root_value=0,
    )
    return resolved.select(
        "n_nationkey", F.col("n_name").alias("name"), "parent_slug"
    )


SQL_HIERARCHY = """
SELECT c.n_nationkey, c.n_name AS name,
       CASE WHEN c.n_regionkey <> 0 THEN p.n_name END AS parent_slug
FROM nation c LEFT JOIN nation p ON c.n_regionkey = p.n_nationkey
"""


def q_count_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 24, 26: COUNT + GROUP BY aggregations."""
    return (
        _t(spark, sf_dir, "orders")
        # integer-cents sum: double sums are combine-order-dependent and
        # round(x, 2) re-rounding diverges by engine; see q_eav_pivot.
        .withColumn("price_c", F.round(F.col("o_totalprice") * 100).cast("long"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            (F.sum("price_c") / F.lit(100.0)).alias("total_spend"),
        )
    )


SQL_COUNT_GROUP_BY = """
SELECT o_custkey, count(*) AS order_count,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend
FROM orders GROUP BY o_custkey
"""


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 27-28: ORDER BY + LIMIT with a total order (deterministic,
    unlike the reference's OFFSET paging)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_orderdate")
    )


SQL_SORT_LIMIT = """
SELECT o_orderkey, o_orderdate
FROM orders ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Scalar transforms (§2.f)
# ---------------------------------------------------------------------------


def q_scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 29-30, 38: slugify, host-strip regex, URL basename."""
    c = _t(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example.com/seg/"),
        F.col("c_mktsegment"),
        F.lit("/"),
        F.col("c_custkey").cast("string"),
    )
    return c.select(
        "c_custkey",
        slugify(F.col("c_name"), "/author/").alias("slug"),
        host_strip(url).alias("path"),
        F.element_at(F.split(F.col("c_name"), "#"), -1).alias("basename"),
    )


SQL_SCALAR_STRINGS = r"""
SELECT c_custkey,
       '/author/' || regexp_replace(lower(c_name), '[^a-z0-9_-]+', '-', 'g') AS slug,
       '/' || regexp_replace('https://shop.example.com/seg/' || c_mktsegment || '/' || c_custkey,
                             '^(?:\/\/|[^\/]+)*\/', '') AS path,
       string_split(c_name, '#')[-1] AS basename
FROM customer
"""


def q_entity_decode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 31-32: HTML-entity decode + split-to-array."""
    p = _t(spark, sf_dir, "part")
    title = F.concat(F.lit("Tools &amp; Parts: "), F.col("p_name"))
    return p.select(
        "p_partkey",
        decode_entities(title).alias("decoded"),
        F.array_join(split_to_array(F.col("p_type"), " "), "-").alias("dashed"),
    )


SQL_ENTITY_DECODE = """
SELECT p_partkey,
       replace('Tools &amp; Parts: ' || p_name, '&amp;', '&') AS decoded,
       replace(p_type, ' ', '-') AS dashed
FROM part
"""


def q_null_default_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 33-34: null-default-to-empty-array + conditional array wrap
    (posts.js:152-156, categories.js:60-65). Arrays joined to strings so
    the oracle hash is representation-independent."""
    e = _t(spark, sf_dir, "events")
    maybe_null = F.when(F.col("value") > 50, F.lit(None).cast("string")).otherwise(
        F.col("event_type")
    )
    arr = null_default_array(F.split(maybe_null, ","))
    wrapped = conditional_array_wrap(F.col("user_id") % 10 != 0, F.col("event_type"))
    return e.select(
        "event_id",
        F.array_join(arr, ",").alias("joined"),
        F.array_join(wrapped, ",").alias("wrapped"),
    )


SQL_NULL_DEFAULT = """
SELECT event_id,
       CASE WHEN value > 50 THEN '' ELSE event_type END AS joined,
       CASE WHEN user_id % 10 <> 0 THEN event_type ELSE '' END AS wrapped
FROM events
"""


def q_date_permalink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 rows 35-37: ISO-8601 format, zero-padded date parts, and the
    plan-time permalink template compiler, both branches (template
    expansion + empty-structure guid fallback, posts.js:58-141). One
    map-only scan of ``orders`` covers all three — consolidated so the
    driver's 50-entry snapshot window holds every oracle-backed query."""
    o = _t(spark, sf_dir, "orders")
    post_name = slugify(F.col("o_orderpriority"))
    url = compile_permalink(
        "/%year%/%monthnum%/%day%/%postname%/",
        "https://example.com/blog",
        post_id=F.col("o_orderkey"),
        date_gmt=F.col("o_orderdate"),
        post_name=post_name,
        guid=F.lit(""),
    )
    guid = F.concat(F.lit("https://example.com/blog/?p="), F.col("o_orderkey").cast("string"))
    fallback = compile_permalink(
        "",
        "https://example.com/blog",
        post_id=F.col("o_orderkey"),
        date_gmt=F.col("o_orderdate"),
        post_name=post_name,
        guid=guid,
    )
    return o.select(
        "o_orderkey",
        iso8601(F.col("o_orderdate")).alias("iso"),
        year_str(F.col("o_orderdate")).alias("y"),
        padded_month(F.col("o_orderdate")).alias("m"),
        padded_day(F.col("o_orderdate")).alias("d"),
        url.alias("url"),
        fallback.alias("guid_path"),
    )


SQL_DATE_PERMALINK = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ') AS iso,
       strftime(o_orderdate, '%Y') AS y,
       strftime(o_orderdate, '%m') AS m,
       strftime(o_orderdate, '%d') AS d,
       '/' || strftime(o_orderdate, '%Y') || '/' || strftime(o_orderdate, '%m')
           || '/' || strftime(o_orderdate, '%d') || '/'
           || regexp_replace(lower(o_orderpriority), '[^a-z0-9_-]+', '-', 'g') || '/' AS url,
       string_split('https://example.com/blog/?p=' || o_orderkey, 'blog')[2] AS guid_path
FROM orders
"""


def q_struct_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 row 40: struct/document construction serialized with to_json
    (the keyed-JSON entry shape, posts.js:150-158)."""
    o = _t(spark, sf_dir, "orders")
    doc = F.struct(
        F.col("o_orderkey").alias("uid"),
        F.col("o_orderstatus").alias("status"),
        iso8601(F.col("o_orderdate")).alias("date"),
    )
    return o.select("o_orderkey", F.to_json(doc).alias("doc"))


SQL_STRUCT_JSON = """
SELECT o_orderkey,
       to_json(struct_pack(uid := o_orderkey, status := o_orderstatus,
                           date := strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ')))::VARCHAR AS doc
FROM orders
"""


# ---------------------------------------------------------------------------
# Engine-completeness: windows, sessions, set ops (absent in reference —
# SURVEY.md §2.h — but first-class engine surface)
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling (the reference round-trips JSON documents,
    helper.js:20,26): parse events.props, extract + aggregate."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            # unrounded: integer sums are exact (< 2^53) so avg is ONE
            # correctly-rounded division — bit-identical in both engines.
            # A round(x, 6) wrapper would REINTRODUCE divergence (engine
            # decimal-rounding algorithms differ by up to 1 ULP).
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       avg(CAST(props->>'$.k' AS BIGINT)) AS avg_k,
       max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_window_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-1 per key: latest event per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"))
    )


SQL_WINDOW_LATEST = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def _sessionized(events: DataFrame) -> DataFrame:
    """Add ``session_id``: a user's first event, or one more than 30 min
    after their previous event, starts a new session (lag + running
    sum). The gap is compared in microseconds, like the oracles'
    fractional ``epoch(ts)``: whole-second ``unix_timestamp`` would read
    a real 1800.7 s gap as 1800 and keep the session open."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    return events.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch form of the streaming session operator."""
    sessioned = _sessionized(_t(spark, sf_dir, "events"))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
    )


SQL_SESSIONIZE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
    FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
FROM sessioned GROUP BY user_id, session_id
"""


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: lag/lead/rank/dense_rank/ntile/cume_dist
    over per-customer order history."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        # unrounded: cume_dist is one int/int division — bit-exact cross-
        # engine; a round(,6) wrapper is the only divergence hazard here.
        F.cume_dist().over(w).alias("cdist"),
    )


SQL_WINDOW_SUITE = """
SELECT o_custkey, o_orderkey,
       lag(o_orderkey) OVER w AS prev_order,
       lead(o_orderkey) OVER w AS next_order,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       cume_dist() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate over a
    tokenized column (the expression-level array algebra the dedup family
    builds on)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), PORTABLE_WS_PLUS), lambda t: t != ""
    )
    longs = F.filter(toks, lambda t: F.length(t) > 4)
    upper3 = F.transform(F.slice(toks, 1, 3), lambda t: portable_upper(t))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return d.select(
        "doc_id",
        F.size(longs).cast("long").alias("n_long_tokens"),
        F.array_join(upper3, " ").alias("first3_upper"),
        total_len.alias("total_token_chars"),
    )


from ..functions.portable import sql_portable_upper as _spu  # noqa: E402

SQL_ARRAY_HOF = rf"""
WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks FROM documents)
SELECT doc_id,
       len(list_filter(toks, x -> length(x) > 4)) AS n_long_tokens,
       -- empty-list folds are NULL in DuckDB but ''/0 in Spark; the CASE
       -- keeps NULL-text rows NULL on both engines while empty docs agree
       CASE WHEN toks IS NULL THEN NULL
            ELSE coalesce(array_to_string(
                list_transform(range(1, least(len(toks), 3) + 1),
                               i -> {_spu('toks[i]')}), ' '), '')
       END AS first3_upper,
       CASE WHEN toks IS NULL THEN NULL
            ELSE coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT
       END AS total_token_chars
FROM t
"""


def q_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity on deterministic pairs (doc i vs i+1,
    first 40 chars) — the char-level member of the dedup toolbox."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("tb"))
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("ta", "tb").cast("long").alias("edit_dist"))
    )


SQL_LEVENSHTEIN = """
WITH t AS (SELECT doc_id, substr(text, 1, 40) AS s FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.s, b.s) AS edit_dist
FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
"""


def q_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two dimensions."""
    o = _t(spark, sf_dir, "orders").withColumn(
        # integer-cents contract (see q_eav_pivot)
        "price_c", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("price_c") / F.lit(100.0)).alias("total"),
    )


SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops over two key sets — UNION (distinct), INTERSECT, and set
    EXCEPT (``subtract``; ``exceptAll`` would be bag difference) — tagged
    and stacked into one result. Consolidated from three separate registry
    entries so the driver's 50-entry snapshot window holds every
    oracle-backed query."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    u = c.union(s).distinct().select(F.lit("union").alias("op"), "nk")
    i = c.intersect(s).select(F.lit("intersect").alias("op"), "nk")
    e = c.subtract(s).select(F.lit("except").alias("op"), "nk")
    return u.unionByName(i).unionByName(e)


SQL_SET_OPS = """
SELECT 'union' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'except' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the multi-aggregate scan benchmark
    headline (map-side partial agg, 2-key groupBy)."""
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        # integer-scaled sum contract (see q_eav_pivot): quantities and
        # prices become exact cents-longs, the discounted price an exact
        # scale-4 long (cents x integer percent), so every sum is exact
        # integer arithmetic and the trailing divisions are single
        # correctly-rounded ops mirrored verbatim in the oracle SQL.
        .withColumn("qty_c", F.round(F.col("l_quantity") * 100).cast("long"))
        .withColumn("price_c", F.round(F.col("l_extendedprice") * 100).cast("long"))
        .withColumn("disc_pct", F.round(F.col("l_discount") * 100).cast("long"))
    )
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum("qty_c") / F.lit(100.0)).alias("sum_qty"),
        (F.sum("price_c") / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(F.col("price_c") * (100 - F.col("disc_pct"))) / F.lit(10000.0)).alias(
            "sum_disc_price"
        ),
        (F.sum("qty_c") / F.lit(100.0) / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_AGG_STATS = """
SELECT l_returnflag, l_linestatus,
       sum(qty_c) / 100.0 AS sum_qty,
       sum(price_c) / 100.0 AS sum_base_price,
       sum(price_c * (100 - disc_pct)) / 10000.0 AS sum_disc_price,
       sum(qty_c) / 100.0 / count(*) AS avg_qty,
       count(*) AS count_order
FROM (
    SELECT l_returnflag, l_linestatus,
           CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_pct
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + top-k: the shuffle-join benchmark
    headline (broadcast dim, co-keyed agg)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined
        # integer-scaled revenue (see q_agg_stats): exact scale-4 longs
        .withColumn(
            "rev_c4",
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long")),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum("rev_c4") / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SQL_TOP_REVENUE = """
SELECT l_orderkey, o_orderdate,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks): latest prior click per purchase,
    single-shuffle union+window implementation; oracle is DuckDB's native
    ASOF JOIN."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["event_id", "ts"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("last_click_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("gap_us"),
    )


SQL_ASOF_JOIN = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, c.event_id AS last_click_id,
       CASE WHEN c.event_id IS NOT NULL
            THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-bounded range join: purchases within 10 min after each click."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = range_join_count(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts=F.col("l.ts"),
        right_ts=F.col("r.ts"),
        lower=F.lit(0),
        upper=F.lit(600),
    )
    return out.select("event_id", "user_id", "n_in_range")


SQL_RANGE_JOIN = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, count(p.event_id) AS n_in_range
FROM c LEFT JOIN p ON c.user_id = p.user_id
   AND epoch_us(p.ts) - epoch_us(c.ts) >= 0
   AND epoch_us(p.ts) - epoch_us(c.ts) < 600000000
GROUP BY c.event_id, c.user_id
"""


def q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    l = _t(spark, sf_dir, "lineitem").withColumn(
        # integer-cents contract (see q_eav_pivot)
        "qty_c", F.round(F.col("l_quantity") * 100).cast("long")
    )
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("qty_c") / F.lit(100.0)).alias("sum_qty"),
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (windowed top-k)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice AS price,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
FROM orders
QUALIFY rnk <= 3
"""


def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_DISTINCT_COUNT = """
SELECT count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders FROM orders
"""


def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates (HLL distinct, quantile sketch) — the
    constant-memory path for 100 TB cardinality/quantile questions.
    Rows-only: sketch internals differ engine-to-engine; accuracy vs exact
    is asserted in tests/test_approx.py."""
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("approx_p99_price"),
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — must equal the plain groupBy
    (oracle = same SQL as count_group_by)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        # integer-cents contract (see q_eav_pivot); also makes the
        # two-stage salted recombination itself exact — partial long sums
        # recombine associatively, partial double sums would not.
        "price_c", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    out = salted_agg(
        o,
        ["o_custkey"],
        {
            "order_count": ("sum", F.count(F.lit(1))),
            "total_spend_c": ("sum", F.sum("price_c")),
        },
        # o_orderkey is the table's unique id: the deterministic salt
        # hashes it so even fully-duplicate order payloads would spread.
        unique_cols=["o_orderkey"],
    )
    return out.select(
        "o_custkey",
        "order_count",
        (F.col("total_spend_c") / F.lit(100.0)).alias("total_spend"),
    )


# ---------------------------------------------------------------------------
# Beyond-reference: dedup / text / similarity / multimodal (§2.h north star)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash."""
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


# Canonical cross-engine expression spellings (round 14, review r14a
# #5): the BPE token regex and the normalize_text mirror appear in a
# dozen SQL mirrors; these constants are the single source of truth.
# Existing green mirrors keep their literal spellings for artifact
# stability, but tests/test_sql_shared_expressions.py mechanically
# asserts every occurrence in this module canonicalizes to THESE
# strings — an edit to one spelling fails the suite until all match.
# Both derive from the SPARK-side spellings (ADVICE r14 #1): the token
# regex IS operators.text.TOKEN_RE and the whitespace class IS
# functions.portable.PORTABLE_WS_PLUS, so an edit to either Spark-side
# constant changes these mirrors too (and trips the occurrence tests
# until every literal SQL spelling is updated to match) instead of
# silently diverging the two engines.
_SQL_BPE_TOKEN_RE = tx.TOKEN_RE
_SQL_NORM_TEXT = (
    r"regexp_replace(translate(lower(translate(trim(text, ' '), "
    r"'İ', 'i')), 'ς', 'σ'), '" + PORTABLE_WS_PLUS + r"', ' ', 'g')"
)
# curation_pipeline's quality gate threshold (Spark wrapper + mirror).
_CP_MIN_BPE = 30

SQL_DEDUP_EXACT = r"""
SELECT sha256(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS content_hash,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style duplicate down-weighting
    (operators/dedup.soft_dedup_weights): every copy kept with weight
    1/n_copies — one document's worth of expected training mass per
    content cluster. Weight is one IEEE division of exact integers
    (unrounded-ratio rule)."""
    return dd.soft_dedup_weights(_t(spark, sf_dir, "documents"))


SQL_SOFT_DEDUP_WEIGHTS = r"""
WITH hashed AS (
    SELECT doc_id,
           sha256(coalesce(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g'), '')) AS content_hash
    FROM documents
), counted AS (
    SELECT doc_id, content_hash,
           count(*) OVER (PARTITION BY content_hash) AS n_copies
    FROM hashed
)
SELECT doc_id, content_hash, n_copies,
       CAST(1.0 AS DOUBLE) / n_copies AS weight
FROM counted
"""


def q_expectations_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectations suite with violation EXEMPLARS
    (operators/expectations.run_expectations(exemplar_key=...)): each
    row-level check also reports the violating row's minimum key —
    min(when(violation, key)), map-combinable, FREE inside the same
    single-scan aggregation — so triage ("show me one bad row") needs
    no second pass. Unique-check exemplars are NULL by contract (their
    violators need a per-key group-by). Kept as a separate gate so the
    windowed `expectations` contract stays byte-stable."""
    from ..operators import expectations as ex

    l = _t(spark, sf_dir, "lineitem").withColumn(
        "__row_key",
        F.col("l_orderkey") * F.lit(100).cast("long") + F.col("l_linenumber"),
    )
    return ex.run_expectations(
        l,
        [
            ex.expect_not_null("l_orderkey"),
            ex.expect_between("l_quantity", 1, 50),
            ex.expect_in("l_returnflag", ["A", "N", "R"]),
            ex.expect_between("l_extendedprice", 0, 50000),
            ex.expect_unique("l_orderkey", "l_linenumber"),
        ],
        exemplar_key="__row_key",
    )


SQL_EXPECTATIONS_EXEMPLARS = """
WITH l AS (
    SELECT *, CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS row_key
    FROM lineitem
), t AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS v0,
           CAST(min(row_key) FILTER (l_orderkey IS NULL) AS VARCHAR) AS e0,
           CAST(count(*) FILTER (l_quantity IS NOT NULL
                AND NOT (l_quantity >= 1 AND l_quantity <= 50)) AS BIGINT) AS v1,
           CAST(min(row_key) FILTER (l_quantity IS NOT NULL
                AND NOT (l_quantity >= 1 AND l_quantity <= 50)) AS VARCHAR) AS e1,
           CAST(count(*) FILTER (l_returnflag IS NOT NULL
                AND l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT) AS v2,
           CAST(min(row_key) FILTER (l_returnflag IS NOT NULL
                AND l_returnflag NOT IN ('A', 'N', 'R')) AS VARCHAR) AS e2,
           CAST(count(*) FILTER (l_extendedprice IS NOT NULL
                AND NOT (l_extendedprice >= 0 AND l_extendedprice <= 50000))
                AS BIGINT) AS v3,
           CAST(min(row_key) FILTER (l_extendedprice IS NOT NULL
                AND NOT (l_extendedprice >= 0 AND l_extendedprice <= 50000))
                AS VARCHAR) AS e3,
           CAST(count(*) - (SELECT count(*) FROM (
               SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
           )) AS BIGINT) AS v4
    FROM l
), u AS (
    SELECT 0 AS ord, 'not_null(l_orderkey)' AS check_name, v0 AS nv, n, e0 AS e FROM t
    UNION ALL SELECT 1, 'between(l_quantity,1,50)', v1, n, e1 FROM t
    UNION ALL SELECT 2, 'in_set(l_returnflag)', v2, n, e2 FROM t
    UNION ALL SELECT 3, 'between(l_extendedprice,0,50000)', v3, n, e3 FROM t
    UNION ALL SELECT 4, 'unique(l_orderkey,l_linenumber)', v4, n, NULL FROM t
)
SELECT CAST(ord AS BIGINT) AS ord, check_name AS "check",
       nv AS n_violations, n AS n_rows,
       CAST(CASE WHEN nv = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed,
       e AS exemplar
FROM u
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (operators/layout.compaction_plan):
    a synthetic per-source file manifest (path from zero-padded doc_id,
    bytes = n_chars) is next-fit coalesced into ~4000-byte rewrite
    groups with exact long `div` arithmetic — the OPTIMIZE-style
    metadata pass, planned at metadata scale (one shuffle of
    (partition, path, bytes) triples). Oracle mirrors the window
    arithmetic byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    manifest = d.select(
        "source",
        F.concat(
            F.lit("f"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
        ).alias("path"),
        F.col("n_chars").alias("bytes"),
    )
    out = lay.compaction_plan(
        manifest,
        partition_cols=["source"],
        target_bytes=4000,
        min_group_files=2,
    )
    return out.select(
        "source", "path", "bytes", "group_id", "group_bytes", "group_files"
    )


SQL_COMPACTION_PLAN = r"""
WITH f AS (
    SELECT source,
           'f' || lpad(doc_id::VARCHAR, 8, '0') AS path,
           n_chars::BIGINT AS bytes
    FROM documents
), small AS (
    SELECT * FROM f WHERE bytes < 4000
), s AS (
    SELECT source, path, bytes,
           coalesce(sum(bytes) OVER (
               PARTITION BY source ORDER BY path ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cb
    FROM small
), g AS (
    SELECT source, path, bytes, (cb // 4000)::BIGINT AS group_id FROM s
), a AS (
    SELECT source, path, bytes, group_id,
           sum(bytes) OVER (PARTITION BY source, group_id)::BIGINT AS group_bytes,
           count(*) OVER (PARTITION BY source, group_id)::BIGINT AS group_files
    FROM g
)
SELECT * FROM a WHERE group_files >= 2
"""


def q_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed exact dedup (operators/dedup.windowed_dedup,
    7-day window): content re-keeps once the gap from its previous
    occurrence exceeds the window — one keeper per burst, not one
    forever. Crawl times are synthesized deterministically
    (doc_id % 40 days from 2024-01-01, so the fixture's natural
    duplicate families spread across several windows and every burst
    shape — singleton, intra-window run, cross-window gap — occurs).
    Oracle mirrors the hash + gap-sessionization with integer epochs."""
    d = _t(spark, sf_dir, "documents")
    epoch = F.lit(1_704_067_200).cast("long") + (
        F.col("doc_id") % 40
    ).cast("long") * F.lit(86_400).cast("long")
    out = dd.windowed_dedup(
        d.withColumn("crawl_epoch", epoch),
        epoch_col="crawl_epoch",
        window_seconds=7 * 86_400,
    )
    return out.select(
        "doc_id", "content_hash", "epoch", "burst_id", "is_keeper"
    )


SQL_WINDOWED_DEDUP = r"""
WITH h AS (
    SELECT doc_id,
           sha256(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS content_hash,
           (1704067200 + (doc_id % 40) * 86400)::BIGINT AS epoch
    FROM documents
), g AS (
    SELECT doc_id, content_hash, epoch,
           CASE WHEN lag(epoch) OVER w IS NULL
                     OR epoch - lag(epoch) OVER w > 604800
                THEN 1 ELSE 0 END AS nb
    FROM h
    WINDOW w AS (PARTITION BY content_hash ORDER BY epoch ASC, doc_id ASC)
)
SELECT doc_id, content_hash, epoch,
       sum(nb) OVER (PARTITION BY content_hash ORDER BY epoch ASC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS burst_id,
       nb = 1 AS is_keeper
FROM g
"""


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/strings.html_to_text): the
    step between a WordPress export (post_content is HTML —
    posts.js:151) and every text-analysis operator. The gate wraps each
    document in representative markup — block tags, an inline <br>, a
    script block with angle-bracket code, a comment, and the common
    entity set — and both engines run the identical regex chain, so
    the oracle is byte-for-byte (no regex-engine-divergent constructs:
    no backrefs, no lookarounds)."""
    from ..functions import html_to_text

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div class="post"><h1>Title&nbsp;&amp;amp;</h1><p>'),
        F.col("text"),
        F.lit(
            '</p>line<br>break'
            '<script type="text/javascript">if (1 < 2) { x = "<p>"; }</script>'
            "<!-- draft\nnote --><p>&lt;escaped&gt; &quot;q&#039;</p></div>"
        ),
    )
    return d.select("doc_id", html_to_text(html).alias("clean"))


SQL_HTML_TEXT = r"""
WITH h AS (
    SELECT doc_id,
           '<div class="post"><h1>Title&nbsp;&amp;amp;</h1><p>' || text ||
           '</p>line<br>break<script type="text/javascript">if (1 < 2) { x = "<p>"; }</script><!-- draft' || chr(10) || 'note --><p>&lt;escaped&gt; &quot;q&#039;</p></div>' AS html
    FROM documents
), s AS (
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)</?[a-z][^>]*>', ' ', 'g') AS t
    FROM h
)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#039;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
         '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11) || ']+',
         ' ', 'g')) AS clean
FROM s
"""


def q_html_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED export→analysis gate (VERDICT r8 #6): the same HTML
    wrap as `html_text`, through `functions.html_to_text`, then
    `text.quality_features` over the CLEAN text — the exact two-stage
    path a WordPress corpus takes from `build_posts(clean_description=
    True)` into the curation plane. Both stages are individually
    oracle-gated (`html_text`, `text_quality`); this gate pins their
    COMPOSITION byte-for-byte (the oracle chains the same CTEs).
    Map-only codegen end-to-end — zero shuffles.

    One deliberate difference from `html_text`'s wrap: the comment is
    single-line. The multiline-comment (?s) behavior is already pinned
    by `html_text`; repeating the chr(10) here would put constructed
    multiline text upstream of the oracle's string_split_regex — the
    exact shape oracle-lint hazard family D bans (the newline IS
    stripped before the split, but the ban is mechanical on purpose)."""
    from ..functions import html_to_text

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div class="post"><h1>Title&nbsp;&amp;amp;</h1><p>'),
        F.col("text"),
        F.lit(
            '</p>line<br>break'
            '<script type="text/javascript">if (1 < 2) { x = "<p>"; }</script>'
            "<!-- draft note --><p>&lt;escaped&gt; &quot;q&#039;</p></div>"
        ),
    )
    clean = d.select("doc_id", html_to_text(html).alias("text"))
    out = tx.quality_features(clean)
    return out.select(
        "doc_id",
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_tokens").cast("long").alias("q_tokens"),
        F.col("q_bpe_tokens").cast("long").alias("q_bpe_tokens"),
        "q_punct_ratio",
        "q_stopword_ratio",
        "q_mean_token_len",
    )


SQL_HTML_QUALITY = r"""
WITH h AS (
    SELECT doc_id,
           '<div class="post"><h1>Title&nbsp;&amp;amp;</h1><p>' || text ||
           '</p>line<br>break<script type="text/javascript">if (1 < 2) { x = "<p>"; }</script><!-- draft note --><p>&lt;escaped&gt; &quot;q&#039;</p></div>' AS html
    FROM documents
), s AS (
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)</?[a-z][^>]*>', ' ', 'g') AS t
    FROM h
), c AS (
    -- whitespace class as RE2 escapes, not chr() concatenation: this
    -- oracle ALSO string_split_regex's downstream, and hazard family D
    -- mechanically bans || chr(10) || anywhere upstream of a split
    -- (SQL_TEXT_QUALITY's own convention; semantics identical)
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#039;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
             '[ \t\n\r\f\x0b]+', ' ', 'g')) AS text
    FROM s
), t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks,
           list_filter(string_split_regex(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ltoks
    FROM c
)
SELECT doc_id,
       length(text) AS q_chars,
       CASE WHEN trim(text, ' ') = '' THEN 0 ELSE len(toks) END AS q_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]')) AS q_bpe_tokens,
       CASE WHEN length(text) > 0
            THEN len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE)
            ELSE 0.0 END AS q_punct_ratio,
       CASE WHEN len(toks) > 0 AND trim(text, ' ') <> ''
            THEN len(list_filter(ltoks, x -> x IN ('the', 'and', 'of', 'to', 'in'))) / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS q_stopword_ratio,
       CASE WHEN len(toks) > 0 AND trim(text, ' ') <> ''
            THEN length(text) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS q_mean_token_len
FROM t
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup (operators/manifest.py, VERDICT r7
    #7): a persisted content-hash manifest stands in for "everything a
    prior run already kept" (here bootstrapped from the doc_id%3==0
    third of the corpus — yesterday's batch); today's full batch is
    within-batch deduped (min-id keeper per hash, the exact_dedup rule)
    then LEFT ANTI joined against the manifest. The reference's
    idempotent-skip pattern (assets.js:78-80 — skip what already
    exists) at corpus scale: hashes shuffle, text never does. The
    manifest read/append/idempotency lifecycle is covered in
    tests/test_manifest_dedup.py (file IO has no SQL oracle; the
    relational core is exactly this gate)."""
    from ..operators import manifest as mf

    d = _t(spark, sf_dir, "documents")
    prior = mf.build_manifest(
        d.filter(F.col("doc_id") % 3 == 0), run_id="prior"
    )
    out = mf.manifest_dedup(d, prior)
    return out.select("doc_id", "content_hash")


SQL_INCREMENTAL_DEDUP = r"""
WITH h AS (
    SELECT doc_id,
           sha256(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS content_hash
    FROM documents
), m AS (
    SELECT DISTINCT content_hash FROM h WHERE doc_id % 3 = 0
), b AS (
    SELECT content_hash, min(doc_id) AS doc_id FROM h GROUP BY 1
)
SELECT b.doc_id, b.content_hash
FROM b
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.content_hash = b.content_hash)
"""


def q_incremental_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-layout daily loop (VERDICT r8 #4), same semantics
    and ORACLE as `incremental_dedup` but through the REAL saved-table
    path: the prior-run manifest is written as a `bucketBy(content_hash)`
    table (`manifest.build_manifest_bucketed`), read back through the
    catalog (the only read that keeps the bucket spec), and anti-joined
    with ZERO manifest-side Exchange — at 100 TB the manifest (~70 GB of
    hashes for a trillion docs) never re-shuffles; only the small daily
    batch does. The plan shape is pinned in tests/test_manifest_dedup.py.

    Self-cleaning by construction: the survivor frame is EAGERLY
    checkpointed (the bucketed variant's snapshot-pinning mechanism),
    after which the table and its files are dropped — the returned
    frame reads checkpoint blocks, so repeated invocations are
    idempotent and leak nothing."""
    import shutil
    import tempfile

    from ..operators import manifest as mf

    d = _t(spark, sf_dir, "documents")
    table = "incdedup_bucketed_gate"
    path = tempfile.mkdtemp(prefix="incdedup_bucketed_")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        mf.build_manifest_bucketed(
            d.filter(F.col("doc_id") % 3 == 0),
            table=table,
            path=path,
            buckets=8,
            run_id="prior",
        )
        prior = mf.read_manifest_bucketed(spark, table)
        out = mf.manifest_dedup(
            d, prior, batch_partitions=8
        ).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)
    return out.select("doc_id", "content_hash")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard on deterministic pairs (doc i vs doc i+1) —
    the verify stage of candidate->verify near-dup."""
    d = _t(spark, sf_dir, "documents")
    l = d.select(F.col("doc_id").alias("id_a"), F.col("text"))
    r = d.select((F.col("doc_id")).alias("id_b"), F.col("text"))
    out = dd.ngram_jaccard(
        l, r, F.col("l.id_a") + 1 == F.col("r.id_b"), text_col="text", k=3
    )
    return out.select("id_a", "id_b", "jaccard")


SQL_NGRAM_JACCARD = r"""
WITH sh AS (
    -- empty guard mirrors word_shingles (zero shingles for NULL/empty);
    -- list_slice instead of the version-sensitive [i:i+2] bracket slice
    SELECT doc_id,
           CASE WHEN toks IS NULL OR len(toks) = 0 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(
                    range(1, greatest(len(toks) - 2, 1) + 1),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           END AS shingles
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks
        FROM documents
    )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
            THEN len(list_intersect(a.shingles, b.shingles))
                 / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
            ELSE 0.0 END AS jaccard
FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|
    — the doc-in-doc / quote-detection / eval-inside-train score that
    Jaccard hides (a small doc fully inside a big one has low Jaccard
    but containment 1). Two planted pair families exercise both tails:
    (i, i+1) neighbor pairs (random text → low containment) and
    (i, i+1_000_000) where the variant is the SAME text plus an
    appended tail (appending adds shingles but removes none of A's →
    containment exactly 1). Integer evidence (intersection count,
    |sh(A)|) plus an integer-cross-multiplied 80% flag; the ratio is a
    single int/int division. Verify-stage shape: pre-paired rows only,
    never all-pairs."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    variants = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended tail sentence")).alias("text"),
    )
    corpus = base.unionByName(variants)
    a, b = corpus.alias("a"), corpus.alias("b")
    neighbors = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    supersets = a.join(b, F.col("a.doc_id") + 1_000_000 == F.col("b.doc_id"))
    lsh = dd.word_shingles(F.col("a.text"), 3)
    rsh = dd.word_shingles(F.col("b.text"), 3)
    inter = F.size(F.array_intersect(lsh, rsh)).cast("long")
    na = F.size(lsh).cast("long")

    def proj(j: DataFrame) -> DataFrame:
        return j.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.alias("n_common"),
            na.alias("n_a"),
            F.when(na > 0, inter / na).otherwise(F.lit(0.0)).alias("containment"),
            # zero-shingle docs must not flag: 0*100 >= 0*80 is true,
            # which would mark every empty doc "80% contained" — the
            # exact bug class the word_shingles empty fix closed
            ((na > 0) & ((inter * 100) >= (na * 80))).alias("contained_80"),
        )

    return proj(neighbors).unionByName(proj(supersets))


SQL_CONTAINMENT = r"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' appended tail sentence' FROM documents
), sh AS (
    SELECT doc_id,
           CASE WHEN toks IS NULL OR len(toks) = 0 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(
                    range(1, greatest(len(toks) - 2, 1) + 1),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           END AS shingles
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks
        FROM corpus
    )
), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.shingles AS sa, b.shingles AS sb
    FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
    UNION ALL
    SELECT a.doc_id, b.doc_id, a.shingles, b.shingles
    FROM sh a JOIN sh b ON a.doc_id + 1000000 = b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(sa, sb)) AS n_common,
       len(sa) AS n_a,
       CASE WHEN len(sa) > 0
            THEN len(list_intersect(sa, sb)) / CAST(len(sa) AS DOUBLE)
            ELSE 0.0 END AS containment,
       len(sa) > 0 AND len(list_intersect(sa, sb)) * 100 >= len(sa) * 80 AS contained_80
FROM pairs
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty in ingestion order (doc_id): how many of a
    doc's DISTINCT word-3-grams appear here for the FIRST time in the
    corpus — the marginal-contribution curve a corpus grower reads to
    see which sources still add new content (diminishing novelty =
    stop crawling that source). Window-free formulation: a gram's first
    occurrence is min(doc_id) over its postings, so the numerator is a
    gram-keyed aggregate joined back — two hash aggregations, no
    window, no sort. Gate joins on exact gram strings so the DuckDB
    oracle is bit-exact; the 100 TB variant keys the join on
    xxhash64(gram) (8-byte shuffle keys, the documented 2^-64
    collision wager of the dedup family)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select(
        "doc_id", F.explode(dd.word_shingles(F.col("text"), 3)).alias("gram")
    )
    first = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )


SQL_NGRAM_NOVELTY = r"""
WITH sh AS (
    SELECT doc_id,
           CASE WHEN toks IS NULL OR len(toks) = 0 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(
                    range(1, greatest(len(toks) - 2, 1) + 1),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           END AS shingles
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks
        FROM documents
    )
), g AS (
    SELECT doc_id, unnest(shingles) AS gram FROM sh
), first AS (
    SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       count(*) AS n_grams,
       sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
FROM g JOIN first f USING (gram)
GROUP BY g.doc_id
"""


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact global ranking over the event stream
    (operators/relational.global_rank): value-range bucketing + B-way
    local windows + broadcast bucket offsets — row-for-row equal to
    the naive single-partition ``row_number() OVER (ORDER BY ...)``,
    which is exactly what the DuckDB oracle runs, so the correctness
    gate proves the decomposition. The naive form is the classic
    WindowExec one-reducer scale killer; this is its scale-safe
    replacement."""
    from ..operators.relational import global_rank

    e = _t(spark, sf_dir, "events").select("event_id", "value")
    return global_rank(
        e, value_col="value", tiebreak=["event_id"], n_buckets=64
    ).select("event_id", "rank")


SQL_GLOBAL_RANK = """
SELECT event_id,
       row_number() OVER (
           ORDER BY CAST(round(value * 1000) AS BIGINT) ASC, event_id ASC
       ) AS rank
FROM events WHERE value IS NOT NULL
"""


def q_grouped_topk_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k on the DOMINANT-GROUP skew plan
    (operators/relational.grouped_topk_skew, round 15): per-group
    value-range bucketing + B-way-parallel local top-k (<= B*k
    candidates per group) + a bounded final window — row-for-row equal
    to the naive ``row_number() OVER (PARTITION BY type ORDER BY value
    DESC, id)`` the oracle runs, which serializes each group's sort on
    one reducer. The leaderboard/sampling shape: "top 5 events per
    type" where one type is 90% of a 100 TB stream."""
    from ..operators.relational import grouped_topk_skew

    e = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    out = grouped_topk_skew(
        e,
        keys=["event_type"],
        value_col="value",
        tiebreak=["event_id"],
        k=5,
        n_buckets=64,
    )
    return out.select(
        "event_type", "event_id", "value", F.col("rk").cast("long").alias("rk")
    )


SQL_GROUPED_TOPK_SKEW = """
SELECT event_type, event_id, value, CAST(rk AS BIGINT) AS rk FROM (
    SELECT event_type, event_id, value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id ASC
           ) AS rk
    FROM events WHERE value IS NOT NULL
) WHERE rk <= 5
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet (Gebru et al. 'Datasheets for Datasets'
    motivates shipping a stats card with every corpus): one composed
    query emitting (section, metric, value_long) rows — corpus size,
    portable-token totals, exact-dedup surplus, per-language and
    per-source counts, and quality-span integers (min/max chars). Every
    value is a LONG (counts and exact sums only — no means or ratios,
    which belong to the float-contract queries), so the whole card is a
    hash contract. One scan feeds the global aggregates; the dimension
    breakdowns reuse the same cached projection; the dedup surplus
    reuses the exact-dedup canonical hash."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(portable_lower(F.trim(F.col("text"))), PORTABLE_WS_PLUS),
            lambda t: t != "",
        )
    ).cast("long")
    base = d.select(
        "doc_id", "lang", "source",
        F.col("n_chars").cast("long").alias("nc"),
        toks.alias("nt"),
        F.sha2(F.regexp_replace(portable_lower(F.trim(F.col("text"))), PORTABLE_WS_PLUS, " "), 256).alias("h"),
    )

    global_stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").alias("total_chars"),
        F.sum("nt").alias("total_tokens"),
        F.min("nc").alias("min_chars"),
        F.max("nc").alias("max_chars"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("dup_surplus"),
    )
    g = global_stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("metric"), F.col(m).cast("long").alias("v"))
                    for m in [
                        "n_docs", "total_chars", "total_tokens",
                        "min_chars", "max_chars", "dup_surplus",
                    ]
                ]
            )
        ).alias("s")
    ).select(F.lit("global").alias("section"), F.col("s.metric"), F.col("s.v").alias("value_long"))
    by_lang = base.groupBy(F.col("lang").alias("metric")).agg(
        F.count(F.lit(1)).cast("long").alias("value_long")
    ).select(F.lit("docs_by_lang").alias("section"), "metric", "value_long")
    by_source = base.groupBy(F.col("source").alias("metric")).agg(
        F.sum("nt").cast("long").alias("value_long")
    ).select(F.lit("tokens_by_source").alias("section"), "metric", "value_long")
    return g.unionByName(by_lang).unionByName(by_source)


SQL_DATASET_CARD = r"""
WITH base AS (
    SELECT doc_id, lang, source, n_chars AS nc,
           len(list_filter(string_split_regex(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' '), '[ \t\n\r\f\x0b]+'), x -> x != '')) AS nt,
           sha256(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS h
    FROM documents
)
SELECT 'global' AS section, m.metric, m.value_long FROM (
    SELECT unnest(['n_docs', 'total_chars', 'total_tokens', 'min_chars', 'max_chars', 'dup_surplus']) AS metric,
           unnest([count(*), sum(nc), sum(nt), min(nc), max(nc), count(*) - count(DISTINCT h)])::BIGINT AS value_long
    FROM base
) m
UNION ALL
SELECT 'docs_by_lang', lang, count(*)::BIGINT FROM base GROUP BY lang
UNION ALL
SELECT 'tokens_by_source', source, sum(nt)::BIGINT FROM base GROUP BY source
"""


#: >= 64-char block injected ahead of every third document so the
#: repeated-span detector has verbatim cross-document repeats to find
#: (the fixture's random text has almost none).
_LICENSE_BLOCK = (
    "This document is licensed under the Example Public License "
    "version 2.0; see the project site for the complete terms of use. "
)


def q_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level repeated-span coverage flags
    (operators/text.span_coverage): the decision stage over the same
    planted-license corpus the repeated_spans detector gates — tainted
    variants carry a shared block (repeated anchors) while base docs
    share nothing, so the 5%-coverage integer rule flags exactly the
    tainted family. Shares the anchoring helper with the detector."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tainted = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(_LICENSE_BLOCK), F.col("text")).alias("text"),
    )
    corpus = d.unionByName(tainted)
    return tx.span_coverage(corpus, span=64, min_docs=2, flag_pct=5)


SQL_SPAN_COVERAGE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, '{_LICENSE_BLOCK}' || text
    FROM documents WHERE doc_id % 3 = 0
), pos AS (
    SELECT doc_id, text,
           unnest(list_filter(range(1, greatest(length(text) - 64 + 1, 0) + 1),
                              i -> i = 1 OR substr(text, CAST(i - 1 AS BIGINT), 1) = ' ')) AS p
    FROM corpus WHERE length(text) >= 64
), spans AS (
    SELECT doc_id, substr(text, CAST(p AS BIGINT), 64) AS s FROM pos
), rep AS (
    SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS n_docs FROM spans GROUP BY s)
    WHERE n_docs >= 2
), anchors AS (
    SELECT doc_id, count(*) AS n_anchors FROM spans GROUP BY doc_id
), reps AS (
    SELECT doc_id, count(*) AS n_repeated FROM spans JOIN rep USING (s) GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(a.n_anchors, 0) AS n_anchors,
       coalesce(r.n_repeated, 0) AS n_repeated,
       coalesce(a.n_anchors, 0) > 0
       AND coalesce(r.n_repeated, 0) * 100 >= coalesce(a.n_anchors, 0) * 5 AS span_flagged
FROM (SELECT DISTINCT doc_id FROM corpus) c
LEFT JOIN anchors a ON c.doc_id = a.doc_id
LEFT JOIN reps r ON c.doc_id = r.doc_id
"""


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile-bucket calibration — source-fair quality
    filtering: a global threshold on a raw score wipes out any source
    whose scores run systematically low, so production pipelines keep
    the top X% WITHIN each source instead. Every doc gets its source's
    discrete quantile bucket ``floor((rank-1) * B / n_source)`` over
    ``n_chars`` (stand-in for a quality score), B=256 — integer
    arithmetic end to end, ties broken by doc_id, so the bucket and the
    keep flag (top 20% of each source) are bit-stable cross-engine.

    Plan: ONE per-source window pair (rank + count on the same
    partitioning — a single exchange). Parallelism is |sources|-bounded
    like the rolling family's plain form; the 100x path decomposes the
    rank with range-partition + cumulative-offset (the
    rolling_anomaly_chunked trick applied to ranks), which matters
    only when one source dominates the corpus."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    wc = Window.partitionBy("source")
    # row_number() is IntegerType: widen BEFORE the *256 or a source
    # with >2^31/256 docs overflows int32 while the DuckDB oracle
    # auto-widens and stays correct (round-6 code-review finding).
    # Integer division (`div`), NOT floor(a/b): the double division
    # loses exactness once the numerator passes ~2^52, where
    # floor(fl(a/b)) can shift a bucket by 1 while the oracle's `//`
    # stays exact (round-6 advice finding)
    ranked = d.withColumn(
        "__rk", F.row_number().over(w).cast("long")
    ).withColumn("__n", F.count(F.lit(1)).over(wc))
    bucket = F.expr("((__rk - 1) * 256) div __n")
    return ranked.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        bucket.alias("q_bucket"),
        (bucket >= int(256 * 0.8)).alias("keep_top20"),
    )


SQL_QUANTILE_BUCKETS = """
WITH r AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS rk,
           count(*) OVER (PARTITION BY source) AS n
    FROM documents
)
SELECT doc_id, source, n_chars,
       CAST((rk - 1) * 256 // n AS BIGINT) AS q_bucket,
       (rk - 1) * 256 // n >= 204 AS keep_top20
FROM r
"""


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 64-char spans
    (operators/text.repeated_spans): the ExactSubstr-style boilerplate
    detector with content-defined (word-boundary) anchors, over the
    corpus plus license-block-prefixed variants of every third doc.
    The planted block surfaces as the top spans with n_docs ==
    |variants|; output is the deterministic top-50 by (doc frequency,
    span)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tainted = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(_LICENSE_BLOCK), F.col("text")).alias("text"),
    )
    corpus = d.unionByName(tainted)
    return tx.repeated_spans(corpus, span=64, min_docs=2, top=50)


SQL_REPEATED_SPANS = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, '{_LICENSE_BLOCK}' || text
    FROM documents WHERE doc_id % 3 = 0
), pos AS (
    SELECT doc_id, text,
           unnest(list_filter(range(1, greatest(length(text) - 64 + 1, 0) + 1),
                              i -> i = 1 OR substr(text, CAST(i - 1 AS BIGINT), 1) = ' ')) AS p
    FROM corpus WHERE length(text) >= 64
), spans AS (
    SELECT doc_id, substr(text, CAST(p AS BIGINT), 64) AS s FROM pos
), per_doc AS (
    SELECT s, doc_id, count(*) AS c FROM spans GROUP BY s, doc_id
)
SELECT s AS span, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_total
FROM per_doc GROUP BY s HAVING count(*) >= 2
ORDER BY n_docs DESC, s ASC LIMIT 50
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS -> transitive-closure
    clusters with one keeper each (operators/graph.py connected
    components — the stage the reference pipeline and the pair-emitting
    dedup operators both stop short of). The edge source here is a
    deterministic chain relation (doc i ~ doc i+1 within blocks of 5) so
    DuckDB can mirror it with a recursive CTE; production feeds
    minhash/simhash/embedding pair outputs instead. Iterative operator:
    builds in O(diameter) label-propagation rounds (4 here)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(F.col("a.doc_id") % 5 != 4)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    out = gr.dedup_clusters(pairs, d)
    return out.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.col("is_keeper").cast("boolean").alias("is_keeper"),
    )


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE
e0 AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
    WHERE a.doc_id % 5 != 4
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(id, r) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       coalesce(comp.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(comp.cluster_id, d.doc_id) AS is_keeper
FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates. Run over documents plus perturbed
    copies (id+1_000_000, text with a suffix token) so the fixture —
    which has no natural dups — exercises the full candidate path.
    Rows-only check: xxhash64 signatures are not reproducible in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near-dup-suffix")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(perturbed)
    # bands=2 (8 rows/band): near-identical pairs (J≈0.97) still match with
    # p ≈ 1-(1-0.97^8)^2 ≈ 0.96, but moderate-similarity noise pairs
    # (J≈0.5, common in this small-vocabulary corpus) drop to p ≈ 0.008 —
    # keeps candidate buckets near-linear.
    return dd.minhash_lsh_candidates(both, num_hashes=16, bands=2, shingle_k=3)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over documents + perturbed copies.
    Rows-only check (xxhash64-based), planted-pair recall in the
    evidence block.

    Round 12 unified candidate generation on the EXACT combination
    blocking (VERDICT r11 #3): 8 blocks, pair-of-blocks keys — any pair
    within Hamming 6 is guaranteed a fully-intact key, so candidate
    recall is 1.0 by construction and the output is the TRUE h<=6 pair
    set. Measured A/B at sf0.1 (16 threads, warm): the old rotation
    sweep at the SAME gate returned 45,897 of the true 86,952 pairs
    (planted recall 0.8466) in ~2.0 s; this path returns all 86,952
    (planted recall 0.9578 — the residual is pairs whose true Hamming
    exceeds 6, a property of SimHash, not of the blocking) in ~4.5 s —
    2.3x the wall for 1.9x the pairs and an exactness guarantee; at the
    old h<=8 gate the sweep was missing 2 of every 3 true pairs
    (157k of 474k). Gate moved 8 -> 6 with the scheme change: h<=6 of
    63 bits is the tighter, still-standard near-dup band, and the
    narrower gate is what keeps the exact path's candidate volume (9.1M
    at sf0.1) join-bounded. cap=1000 does not bind on this corpus
    (rows identical with cap off); it guards boilerplate-heavy skew at
    scale."""
    d = _t(spark, sf_dir, "documents")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(perturbed)
    return dd.simhash_neardups_blocked(
        both, max_hamming=6, combo_r=2, max_block_size=1000
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features over documents."""
    d = _t(spark, sf_dir, "documents")
    out = tx.quality_features(d)
    return out.select(
        "doc_id",
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_tokens").cast("long").alias("q_tokens"),
        F.col("q_bpe_tokens").cast("long").alias("q_bpe_tokens"),
        "q_punct_ratio",
        "q_stopword_ratio",
        "q_mean_token_len",
    )


SQL_TEXT_QUALITY = r"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks,
           list_filter(string_split_regex(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ltoks
    FROM documents
)
SELECT doc_id,
       length(text) AS q_chars,
       CASE WHEN trim(text, ' ') = '' THEN 0 ELSE len(toks) END AS q_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]')) AS q_bpe_tokens,
       CASE WHEN length(text) > 0
            THEN len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE)
            ELSE 0.0 END AS q_punct_ratio,
       CASE WHEN len(toks) > 0 AND trim(text, ' ') <> ''
            THEN len(list_filter(ltoks, x -> x IN ('the', 'and', 'of', 'to', 'in'))) / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS q_stopword_ratio,
       CASE WHEN len(toks) > 0 AND trim(text, ' ') <> ''
            THEN length(text) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS q_mean_token_len
FROM t
"""


def _repetition_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared corpus for the repetition gate and its diagnostic
    probes: documents plus tripled-first-line variants at doc_id+1e6.

    NULL-total on BOTH engines (VERDICT r5 #1b): ``coalesce(text, '')``
    happens before the tripling, because Spark's ``concat_ws`` SKIPS
    NULL arguments while DuckDB's ``||`` PROPAGATES them — a NULL text
    row would give Spark ``''`` vs DuckDB ``NULL`` and every downstream
    count would diverge (``size(split(NULL))`` is not ``len(NULL)``).
    With empties the two agree: ``concat_ws('\\n','','','')`` ==
    ``'' || chr(10) || '' || chr(10) || ''`` == ``'\\n\\n'``."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    rep = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            "\n", F.col("text"), F.col("text"), F.col("text")
        ).alias("text"),
    )
    return d.unionByName(rep)


def q_repetition_corpus_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 1/3 for the two-round `repetition` driver red
    (VERDICT r5 #1a): echo the exact corpus both engines build —
    per-row char length and md5 of the text bytes. Green here proves
    both engines see byte-identical corpus rows; a red localizes the
    divergence to corpus construction / parquet decoding, BEFORE any
    line or gram logic runs."""
    both = _repetition_corpus(spark, sf_dir)
    return both.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


SQL_REPETITION_CORPUS_ECHO = r"""
WITH corpus AS (
    SELECT doc_id, coalesce(text, '') AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           coalesce(text, '') || chr(10) || coalesce(text, '')
           || chr(10) || coalesce(text, '')
    FROM documents
)
SELECT doc_id, length(text) AS n_chars, md5(text) AS text_md5
FROM corpus
"""


def q_repetition_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 2/3 (VERDICT r5 #1a): ONLY the line-stage
    outputs of the repetition chain — split on \\n, trim, drop empties,
    count total and distinct. Shares the exact production code path
    (`tx.repetition_features`), just projects the line columns."""
    both = _repetition_corpus(spark, sf_dir)
    return tx.repetition_features(both).select(
        "doc_id", "n_lines", "n_distinct_lines"
    )


SQL_REPETITION_LINES = r"""
WITH corpus AS (
    SELECT doc_id, coalesce(text, '') AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           coalesce(text, '') || chr(10) || coalesce(text, '')
           || chr(10) || coalesce(text, '')
    FROM documents
),
lines AS (
    SELECT doc_id,
           list_filter([trim(l, ' ') for l in string_split(text, chr(10))],
                       l -> l != '') AS ls
    FROM corpus
)
SELECT doc_id, len(ls) AS n_lines,
       len(list_distinct(ls)) AS n_distinct_lines
FROM lines
"""


# Portable tokenizer for the REPETITION family's tripled (multi-newline)
# corpus, built ONLY from driver-proven primitives: `replace` each
# portable-whitespace char with a space, then `string_split` on the
# single space (proven green in `repetition_lines`), then drop empties —
# token-for-token identical to the regex split on every input whose
# whitespace is drawn from {space, \t, \n, \r, \f, \x0b}, which is the
# portable-whitespace contract (functions/portable.py).
#
# History: round 7 first suspected `string_split_regex` on multi-newline
# text for the r6 repetition red (plain-corpus regex splits were all
# green) and swapped in this tokenizer. The DECISIVE evidence then
# surfaced elsewhere: the four r6 driver reds were EXACTLY the four
# window queries emitting a raw HUGEINT `sum(BIGINT)` column, and all 46
# greens emitted none — `n_bigrams` was such a column here (now
# ::BIGINT, lint family F). The portable tokenizer is kept: it is
# strictly more build-independent and locally byte-identical.
_PORTABLE_TOKS_SQL = (
    "list_filter(string_split(translate(lower(translate("
    "replace(replace(replace(replace(replace(text, chr(10), ' '), chr(9), ' '),"
    " chr(13), ' '), chr(12), ' '), chr(11), ' ')"
    ", 'İ', 'i')), 'ς', 'σ'), ' '), x -> x != '')"
)

_REPETITION_CORPUS_CTE = """
WITH corpus AS (
    SELECT doc_id, coalesce(text, '') AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           coalesce(text, '') || chr(10) || coalesce(text, '')
           || chr(10) || coalesce(text, '')
    FROM documents
),
"""


def q_repetition_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 3/4 (VERDICT r6 #1a): ONLY the token-stage
    output of the repetition chain over the TRIPLED corpus — token
    count plus an md5 over the exact token sequence. Sits between the
    driver-green line stage and the driver-red gram stage: green here
    means both engines agree on the tokens of multi-newline text, so
    any remaining `repetition_grams` red is the gram construction;
    red here pins the tokenizer itself."""
    both = _repetition_corpus(spark, sf_dir)
    toks = tx.tokens(tx.normalize_for_rep(F.col("text")))
    return both.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws("\x01", toks)).alias("toks_md5"),
    )


SQL_REPETITION_TOKENS = (
    _REPETITION_CORPUS_CTE
    + f"""
toks AS (
    SELECT doc_id, {_PORTABLE_TOKS_SQL} AS t
    FROM corpus
)
SELECT doc_id, len(t) AS n_tokens,
       md5(array_to_string(t, chr(1))) AS toks_md5
FROM toks
"""
)


def q_repetition_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 4/4 (VERDICT r5 #1a, r6 #1a): ONLY the
    bigram-stage outputs — total word-2-gram count and the top gram's
    count. Same production chain, gram columns only. If `repetition`
    reds again while probes 1-3 stay green, THIS row names the gram
    construction as the divergent stage."""
    both = _repetition_corpus(spark, sf_dir)
    return tx.repetition_features(both).select(
        "doc_id", "n_bigrams", "top_c"
    )


SQL_REPETITION_GRAMS = (
    _REPETITION_CORPUS_CTE
    + f"""
toks AS (
    SELECT doc_id, {_PORTABLE_TOKS_SQL} AS t
    FROM corpus
),"""
    + r"""
grams AS (
    SELECT doc_id, unnest([concat(t[i], ' ', t[i + 1])
                           for i in range(1, greatest(len(t) - 1, 0) + 1)]) AS gram
    FROM toks
),
gram_counts AS (
    SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
),
gram_stats AS (
    SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_c
    FROM gram_counts GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(g.n_bigrams, 0) AS n_bigrams,
       coalesce(g.top_c, 0) AS top_c
FROM (SELECT DISTINCT doc_id FROM corpus) c
LEFT JOIN gram_stats g ON c.doc_id = g.doc_id
"""
)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-family curation rules)
    over documents plus synthesized repetitive variants (the fixture's
    random text has no natural repetition, so exercise both branches:
    doc_id+1_000_000 copies get their first line tripled).

    The cross-engine contract is INTEGER-ONLY: exact line/bigram counts
    and the integer-derived flag. The operator's derived double fracs
    are deliberately excluded — round(a/b, n) doubles are 1-ULP
    sensitive across engines (Spark BigDecimal HALF_UP vs DuckDB
    multiply-round-divide) and made this row flaky in round 4.

    Round-6 portability hardening after a SECOND driver red with
    rows+schema matching (VERDICT r5 #1): (b) the corpus is NULL-total
    on both sides (see `_repetition_corpus`), and (c) the oracle's
    bigram construction no longer uses the DuckDB list-slice
    ``t[i:i+1]`` — slice end-inclusivity is the one construct in this
    chain whose semantics differ across DuckDB builds, and an
    end-EXCLUSIVE build turns every "bigram" into a unigram, changing
    ``top_c``/``rep_flagged`` but neither row count nor schema — the
    exact observed failure signature. Direct 1-based element access
    ``concat(t[i], ' ', t[i+1])`` is version-stable.

    Round-7 root-cause fix (VERDICT r6 #1a): the decisive r6 evidence
    is TYPE-level, not tokenizer-level — the four driver reds
    (`repetition`, `repetition_grams`, `rolling_anomaly`,
    `embedding_centroids`) were exactly the four window queries whose
    oracle emitted a raw HUGEINT ``sum(BIGINT)`` column (``n_bigrams``
    here), and all 46 greens emitted none. An int128's rendering is a
    client/build choice, so the same numbers hash differently in a
    foreign comparator. Fixed with ``sum(c)::BIGINT`` and made
    un-reintroducible by tests/test_oracle_lint.py family F. The
    oracle tokenizer was additionally swapped to `_PORTABLE_TOKS_SQL`
    (driver-proven primitives only) and a `repetition_tokens` probe
    added — the four `repetition_*` probes preceding this entry
    localize any remaining driver-env divergence to a named stage."""
    both = _repetition_corpus(spark, sf_dir)
    return tx.repetition_features(both).select(
        "doc_id", "n_lines", "n_distinct_lines", "n_bigrams", "top_c",
        "rep_flagged",
    )


SQL_REPETITION = r"""
WITH corpus AS (
    SELECT doc_id, coalesce(text, '') AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           coalesce(text, '') || chr(10) || coalesce(text, '')
           || chr(10) || coalesce(text, '')
    FROM documents
),
lines AS (
    SELECT doc_id,
           list_filter([trim(l, ' ') for l in string_split(text, chr(10))],
                       l -> l != '') AS ls
    FROM corpus
),
base AS (
    SELECT doc_id, len(ls) AS n_lines,
           len(list_distinct(ls)) AS n_distinct_lines
    FROM lines
),
toks AS (
    SELECT doc_id, __PORTABLE_TOKS__ AS t
    FROM corpus
),
grams AS (
    -- direct 1-based element access, NOT the t[i:i+1] list slice: slice
    -- end-inclusivity is DuckDB-build-sensitive (an end-exclusive build
    -- yields unigrams here, silently changing top_c only) — VERDICT r5 #1c
    SELECT doc_id, unnest([concat(t[i], ' ', t[i + 1])
                           for i in range(1, greatest(len(t) - 1, 0) + 1)]) AS gram
    FROM toks
),
gram_counts AS (
    SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
),
gram_stats AS (
    SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_c
    FROM gram_counts GROUP BY doc_id
)
SELECT b.doc_id, b.n_lines, b.n_distinct_lines,
       coalesce(g.n_bigrams, 0) AS n_bigrams,
       coalesce(g.top_c, 0) AS top_c,
       (10 * (b.n_lines - b.n_distinct_lines) > 3 * b.n_lines
        OR (100 * coalesce(g.top_c, 0) > 18 * coalesce(g.n_bigrams, 0)
            AND coalesce(g.n_bigrams, 0) >= 20)) AS rep_flagged
FROM base b LEFT JOIN gram_stats g ON b.doc_id = g.doc_id
""".replace("__PORTABLE_TOKS__", _PORTABLE_TOKS_SQL)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic."""
    d = _t(spark, sf_dir, "documents")
    return tx.lang_id(d).select("doc_id", "lang", "lang_pred")


_LANG_HIT = (
    "len(list_filter(ltoks, x -> x IN ({words})))"
)


def _lang_hits_sql(lang_words: list[str]) -> str:
    words = ", ".join(f"'{w}'" for w in lang_words)
    return _LANG_HIT.format(words=words)


SQL_LANG_ID = r"""
WITH t AS (
    SELECT doc_id, lang, text,
           list_filter(string_split_regex(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ltoks
    FROM documents
), h AS (
    SELECT doc_id, lang,
           coalesce({de}, 0) AS h_de, coalesce({en}, 0) AS h_en,
           coalesce({es}, 0) AS h_es, coalesce({fr}, 0) AS h_fr,
           coalesce({zh}, 0) AS h_zh
    FROM t
)
SELECT doc_id, lang,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
            WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
            WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
            WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
            WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM h
""".format(
    de=_lang_hits_sql(tx.LANG_MARKERS["de"]),
    en=_lang_hits_sql(tx.LANG_MARKERS["en"]),
    es=_lang_hits_sql(tx.LANG_MARKERS["es"]),
    fr=_lang_hits_sql(tx.LANG_MARKERS["fr"]),
    # zh: unsegmented script -> substring occurrence counts, mirroring
    # operators/text.substring_hits
    zh=" + ".join(
        f"len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '{m}'))" for m in tx.LANG_MARKERS["zh"]
    ),
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha2-256 document fingerprints."""
    d = _t(spark, sf_dir, "documents")
    return tx.fingerprint(d).select("doc_id", "fp")


SQL_FINGERPRINT = r"""
SELECT doc_id, sha256(regexp_replace(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS fp
FROM documents
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / IPv4 / phone masked, per-category counts).
    The fixture has no organic PII, so the query plants deterministic
    doc_id-derived PII first — the SQL oracle plants identically, so the
    redaction itself is what's compared."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@ex.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" call 555-867-530"), (F.col("doc_id") % 10).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = tx.pii_redact(planted)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "redacted",
    )


SQL_PII_REDACT = r"""
WITH planted AS (
    SELECT doc_id,
           text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com'
                || CASE WHEN doc_id % 3 = 0
                        THEN ' call 555-867-530' || CAST(doc_id % 10 AS VARCHAR)
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 0
                        THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                        ELSE '' END AS text
    FROM documents
)
, r1 AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS n_email,
           regexp_replace(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
    FROM planted
), r2 AS (
    SELECT doc_id, n_email,
           len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
           regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t
    FROM r1
)
SELECT doc_id, n_email, n_ip,
       len(regexp_extract_all(t, '\+?\d{3}[-.]\d{3}[-.]\d{4}')) AS n_phone,
       regexp_replace(t, '\+?\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g') AS redacted
FROM r2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct shared word 3-grams between
    each document and a 'benchmark' corpus (the first 10 docs stand in
    for an eval set; production k is 8-13)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    out = tx.ngram_decontaminate(d, bench, k=3)
    return out.select(
        "doc_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "contaminated",
    )


SQL_DECONTAMINATE = r"""
WITH w AS (
    SELECT doc_id,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ws
    FROM documents
), g AS (
    SELECT doc_id,
           unnest(CASE WHEN ws IS NULL OR len(ws) = 0 THEN []::VARCHAR[]
                       ELSE list_distinct(list_transform(
                           range(1, greatest(len(ws) - 2, 1) + 1),
                           i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                  END) AS g
    FROM w
), b AS (
    SELECT DISTINCT g FROM g WHERE doc_id < 10
), o AS (
    SELECT g.doc_id, count(*) AS n_overlap
    FROM g JOIN b USING (g)
    GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       COALESCE(o.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: per-source keep rates + stable global
    interleave key (md5-based, so the exact sample is reproducible in any
    engine — the DuckDB oracle recomputes it bit-for-bit)."""
    d = _t(spark, sf_dir, "documents")
    out = sampling.domain_mixture(
        d,
        {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25},
        domain_col="source",
        key_col="doc_id",
        default_weight=0.1,
    )
    w = Window.orderBy("mix_key", "doc_id")
    return out.select(
        "doc_id", "source", "mix_key",
        F.row_number().over(w).cast("long").alias("train_order"),
    )


SQL_DOMAIN_MIXTURE = r"""
WITH kept AS (
    SELECT doc_id, source,
           md5('mix#order:' || CAST(doc_id AS VARCHAR)) AS mix_key
    FROM documents
    WHERE substring(md5('mix:' || COALESCE(source, '') || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE COALESCE(source, '')
              WHEN 'src0' THEN 'zzzzzzzz'
              WHEN 'src1' THEN 'bfffffff'
              WHEN 'src2' THEN '7fffffff'
              WHEN 'src3' THEN '3fffffff'
              ELSE '19999999'
            END
)
SELECT doc_id, source, mix_key,
       row_number() OVER (ORDER BY mix_key, doc_id) AS train_order
FROM kept
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (k=5) for query vectors vec_id<5."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = sim.cosine_topk(q, e, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


SQL_ANN_COSINE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), c AS (
    SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), s AS (
    SELECT query_id, neighbor_id,
           list_dot_product(qv, cv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
    FROM q CROSS JOIN c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim AS cos_sim FROM (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM s
) WHERE rank <= 5
"""


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline — the
    DuckDB-checkable correctness oracle (quadratic; fixture scale only).
    Both engines cap to vec_id < 1000 so the deliberately-quadratic
    baseline stays affordable when the fixture grows with sf."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return sim.embedding_neardup_pairs(e, threshold=0.35)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH bucketing — the
    scale path (candidates only from colliding buckets, never all-pairs).
    Rows-only at the driver gate: LSH is approximate by design, so the
    check is the recall floor vs ``q_embedding_neardup_exact`` in
    tests/test_dedup_similarity.py."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")
    # 5 planes/table keeps per-table collision prob at cos=0.35 around
    # 0.61^5≈9%; 16 tables lift pair recall to ~0.75 at the threshold
    # boundary (higher for stronger pairs).
    planes = _lsh_planes(num_tables=16, num_planes=5, dim=dim, seed=7)
    return sim.embedding_neardup_pairs(
        e, threshold=0.35, exact=False, planes_tables=planes
    )


SQL_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 1000)
SELECT * FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos_sim >= 0.35
"""


def _embedding_dim(sf_dir: str) -> int:
    """Vector width of the embeddings fixture via driver-local parquet
    metadata (``catalog.embedding_dim``) — env override or a footer/one-
    batch pyarrow read, never a Spark job; 0 for an empty/all-null table —
    callers short-circuit to an empty result instead of crashing."""
    from ..sources.catalog import embedding_dim

    return embedding_dim(f"{sf_dir}/embeddings.parquet")


def _lsh_planes(num_tables: int = 8, num_planes: int = 4, dim: int = 16, seed: int = 42):
    """Default configuration = the VALIDATED one (VERDICT r10 #2): short
    signatures x many tables (4 planes x 8 tables, seed 42), measured at
    0.9 top-1 agreement / 0.73 recall@5 on the sweep fixture. The old
    2-tables x 8-planes default measured recall@5 = 0.02 there (near-zero
    on a clusterless Gaussian: 8-plane signatures split ~uniform vectors
    into 256 buckets/table, so with 2 tables true neighbors almost never
    collide); it survives only as ``ann_recall_sweep``'s explicitly
    labeled worst-case contrast row."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [[float(x) for x in rng.standard_normal(dim)] for _ in range(num_planes)]
        for _ in range(num_tables)
    ]


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (rows-only: plane literals make the
    SQL oracle impractical; recall vs the exact path is unit-tested).
    Ships ``_lsh_planes()``'s validated 4-planes x 8-tables default — the
    configuration the evidence block and the recall sweep measure."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    q = e.filter(F.col("vec_id") < 5)
    out = sim.lsh_topk(q, e, _lsh_planes(dim=dim), k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


# ---- shared portable-ANN geometry (ADVICE r12 #2: ONE definition
# feeds the q_ wrappers' operator calls AND the SQL generators below,
# so a geometry bump cannot flip a gate red with the two sides silently
# disagreeing — previously 4x8 planes / k=8 / iters=2 / 2^20 / vec_id<5
# were re-spelled as literals inside each hand-written mirror) ----
_ANN_NQ = 5           # queries are vec_id < _ANN_NQ
_ANN_K = 5            # final top-k
_KM_SCALE_BITS = 20   # floor(v * 2^scale_bits) quantization
_KM_SCALE = 1 << _KM_SCALE_BITS
_KM_K = 8             # coarse k-means cells / kmeans_lloyd k
_KM_ITERS = 2         # Lloyd updates in the coarse quantizer
_IVF_NPROBE = 2
_LSH_TABLES = 8
_LSH_PLANES = 4

# The shared verify/rank tail every portable-ANN mirror ends with:
# exact-cosine over the candidate set, key-unique rank window.
_SQL_ANN_VERIFY_TAIL = f"""
, s AS (
    SELECT cand.query_id, cand.neighbor_id,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cos_sim
    FROM cand
    JOIN e a ON a.vec_id = cand.query_id
    JOIN e b ON b.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM s
) WHERE rank <= {_ANN_K}
"""


def q_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with the md5 sign-plane family
    (operators/similarity.lsh_topk_portable) — the first ORACLE-BACKED
    approximate-NN gate: buckets come from exact integer sign sums of
    md5-derived ±1 planes, so DuckDB reproduces the entire approximate
    result (candidate set, cosines, ranks) bit-for-bit. Same validated
    4-planes x 8-tables geometry as ann_lsh_topk; recall vs the exact
    path is measured by the evidence block and unit-pinned."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    q = e.filter(F.col("vec_id") < _ANN_NQ)
    out = sim.lsh_topk_portable(
        q, e, dim=dim, num_tables=_LSH_TABLES, num_planes=_LSH_PLANES,
        k=_ANN_K, scale_bits=_KM_SCALE_BITS,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


# Mirrors lsh_topk_portable symbol-for-symbol: sign = high bit of the
# first hex digit of md5("t:p:d") (t=table, p=plane, d=0-based dim);
# component quantization floor(v * 2^20) (family-A floor form); bucket
# bits from EXACT integer sums; verify with the ann_cosine fold; rank
# window key-unique on (cos_sim DESC, neighbor_id).
SQL_ANN_LSH_PORTABLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p0 AS (
    SELECT vec_id,
           [{{'d': i - 1, 'sv': CAST(floor(v[i] * {_KM_SCALE}) AS BIGINT)}}
            for i in range(1, len(v) + 1)] AS pairs
    FROM e
), ex AS (
    SELECT vec_id, unnest(pairs, recursive := true) FROM p0
), tp AS (
    SELECT t, p, d,
           CASE WHEN substr(md5(CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR)
                                 || ':' || CAST(d AS VARCHAR)), 1, 1)
                     IN ('8','9','a','b','c','d','e','f')
                THEN 1 ELSE -1 END AS sgn
    FROM (SELECT unnest(range(0, {_LSH_TABLES})) AS t),
         (SELECT unnest(range(0, {_LSH_PLANES})) AS p),
         (SELECT DISTINCT d FROM ex) dims
), acc AS (
    SELECT ex.vec_id, tp.t, tp.p, sum(tp.sgn * ex.sv)::BIGINT AS a
    FROM ex JOIN tp USING (d)
    GROUP BY ex.vec_id, tp.t, tp.p
), bkt AS (
    SELECT vec_id, t,
           {" || ".join(f"max(CASE WHEN p = {p} THEN b END)" for p in range(_LSH_PLANES))}
             AS bucket
    FROM (SELECT vec_id, t, p, CASE WHEN a >= 0 THEN '1' ELSE '0' END AS b FROM acc)
    GROUP BY vec_id, t
), cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM bkt q JOIN bkt c ON q.t = c.t AND q.bucket = c.bucket
    WHERE q.vec_id < {_ANN_NQ} AND q.vec_id <> c.vec_id
){_SQL_ANN_VERIFY_TAIL}"""


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means, k=8, 2 update iterations, deterministic
    lowest-id init (operators/similarity.kmeans_lloyd_distributed) — the
    registry's first hash-verified ITERATIVE algorithm: the exact
    integer-sum centroid contract keeps every iteration bit-identical
    across engines and partitionings, so the DuckDB mirror replays the
    same two iterations as a CTE chain and must land on the identical
    final assignment and squared distance."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame([], "vec_id long, cluster long, sq_dist double")
    out = sim.kmeans_lloyd_distributed(
        e, k=_KM_K, iters=_KM_ITERS, scale_bits=_KM_SCALE_BITS
    )
    return out.select(F.col("vec_id").cast("long").alias("vec_id"), "cluster", "sq_dist")


def _kmeans_chain_sql(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """The exact-contract Lloyd WITH-chain, GENERATED per iteration
    from the same constants the operator calls use (ADVICE r12 #2: the
    r12 chain hand-wrote k=8 / iters=2 / 2^20 as literals, so a
    geometry bump would flip the gate red with no lint hint). Mirrors
    kmeans_lloyd_distributed iteration-for-iteration: distance tree
    parenthesized exactly as the Spark expression
    ``(vv - 2.0 * dot(v, c)) + cc``; centroid update is the
    embedding_centroids contract (exact long sums of
    ``floor(v * 2^scale)``, one fixed division order sum/n/scale);
    assignment windows key-unique on (dist, cluster). Ends with
    ``d_final`` = distances to the final centroids — shared by the
    kmeans gate and the portable IVF / IVF+PQ oracles."""
    parts = [f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
    FROM embeddings
), p0 AS (
    SELECT vec_id,
           [{{'d': i - 1, 'sv': CAST(floor(v[i] * {_KM_SCALE}) AS BIGINT)}}
            for i in range(1, len(v) + 1)] AS pairs
    FROM e
), ex AS (
    SELECT vec_id, unnest(pairs, recursive := true) FROM p0
), c0x AS (
    -- seeds are the k SMALLEST ids (mirrors kmeans_centroid_list's
    -- orderBy + limit; ids need not be dense 0-based)
    SELECT CAST(vec_id AS BIGINT) AS cluster, v AS c, vv AS cc
    FROM (SELECT vec_id, v, vv,
                 row_number() OVER (ORDER BY vec_id) AS seed_rn
          FROM e)
    WHERE seed_rn <= {k}
)"""]
    prev = "c0x"
    for i in range(1, iters + 1):
        parts.append(f""", d{i} AS (
    SELECT e.vec_id, {prev}.cluster,
           (e.vv - 2.0 * list_dot_product(e.v, {prev}.c)) + {prev}.cc AS dist
    FROM e CROSS JOIN {prev}
), a{i} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d{i}
    ) WHERE rn = 1
), m{i} AS (
    SELECT a{i}.cluster, ex.d, sum(ex.sv)::BIGINT AS s, count(*) AS n
    FROM a{i} JOIN ex USING (vec_id)
    GROUP BY a{i}.cluster, ex.d
), c{i} AS (
    SELECT cluster, list(CAST(s AS DOUBLE) / n / {_KM_SCALE}.0 ORDER BY d) AS c
    FROM m{i} GROUP BY cluster
), c{i}x AS (
    SELECT cluster, c, list_dot_product(c, c) AS cc FROM c{i}
)""")
        prev = f"c{i}x"
    parts.append(f""", d_final AS (
    SELECT e.vec_id, {prev}.cluster,
           (e.vv - 2.0 * list_dot_product(e.v, {prev}.c)) + {prev}.cc AS dist
    FROM e CROSS JOIN {prev}
)
""")
    return "".join(parts)


_SQL_KMEANS_CHAIN = _kmeans_chain_sql()

SQL_KMEANS_LLOYD = _SQL_KMEANS_CHAIN + """
SELECT vec_id, cluster, dist AS sq_dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d_final
) WHERE rn = 1
"""


def q_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k on the exact-contract coarse quantizer
    (operators/similarity.ivf_topk_portable): kmeans_lloyd's
    bit-identical centroids make the cell assignment, the nprobe=2
    probe set, and hence the whole approximate result oracle-checkable
    — the ANN family's second hash-verified member. Geometry kcells=8 /
    iters=2 / nprobe=2 over the same fixture as ann_ivf_topk."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    q = e.filter(F.col("vec_id") < _ANN_NQ)
    out = sim.ivf_topk_portable(
        q, e, kcells=_KM_K, iters=_KM_ITERS, nprobe=_IVF_NPROBE, k=_ANN_K,
        scale_bits=_KM_SCALE_BITS,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


# Same kmeans chain; cells = rn=1 assignment of the corpus, probes =
# each query's rn<=nprobe nearest cells under the identical
# (dist, cluster) total order, candidates from the cell equi-join,
# ann_cosine verify. The cells/probes block is shared with the IVF+PQ
# composition below.
_SQL_IVF_CELLS_PROBES = f"""
, cells AS (
    SELECT vec_id AS neighbor_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d_final
    ) WHERE rn = 1
), probes AS (
    SELECT vec_id AS query_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d_final WHERE vec_id < {_ANN_NQ}
    ) WHERE rn <= {_IVF_NPROBE}
), ivf_cand AS (
    SELECT DISTINCT probes.query_id, cells.neighbor_id
    FROM probes JOIN cells USING (cluster)
    WHERE cells.neighbor_id <> probes.query_id
)"""
SQL_ANN_IVF_PORTABLE = (
    _SQL_KMEANS_CHAIN
    + _SQL_IVF_CELLS_PROBES
    + ", cand AS (SELECT query_id, neighbor_id FROM ivf_cand)"
    + _SQL_ANN_VERIFY_TAIL
)


# shipped geometry: measured recall@5 0.86/0.77/0.68 (sf0.001/0.01/0.1)
# at m=8 x 16 codes, rerank=64; the authoring-time sweep also measured
# m=4/rerank=32 at 0.56/0.64/0.44 and m=4/rerank=64 at 0.80/0.55 —
# the wider rerank is what pays on the larger fixture
_PQ_M = 8
_PQ_NCODES = 16
_PQ_RERANK = 64
_PQ_ITERS = 1  # Lloyd updates per subspace codebook (ADVICE r12 #2:
# was a loose literal in the q_ wrapper while the SQL hardcoded exactly
# one update block — now both sides expand from this constant)


def q_ann_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k on exact-contract subspace codebooks
    (operators/similarity.pq_topk_portable) — the portable-ANN family's
    third member: subspace k-means codebooks, argmin encoding, ADC
    scoring and the rerank window are all bit-identical cross-engine,
    so the full approximate result hash-matches the generated DuckDB
    mirror. Geometry m=8 x 16 codes, 1 Lloyd update, rerank=64 — a
    coarser codebook than the xxhash-era pq gate (m=16) because every
    subspace chain is mirrored as CTEs; recall rides ann_recall_sweep."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    q = e.filter(F.col("vec_id") < _ANN_NQ)
    out = sim.pq_topk_portable(
        q, e, dim=dim, m=_PQ_M, ncodes=_PQ_NCODES, iters=_PQ_ITERS,
        rerank=_PQ_RERANK, k=_ANN_K, scale_bits=_KM_SCALE_BITS,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def _pq_blocks_sql(m: int = _PQ_M, ncodes: int = _PQ_NCODES,
                   iters: int = _PQ_ITERS) -> str:
    """The per-subspace PQ codebook chains (slice -> seed -> ``iters``
    exact integer-sum Lloyd updates -> encode -> per-query lookup
    table), generated from the SAME geometry constants the operator
    calls use (ADVICE r12 #2: the r12 text hardcoded exactly one update
    while the wrapper passed iters=1 as a loose literal). CTE names are
    chain-safe — the per-dim explode is ``pp{s}``, never the coarse
    chain's ``p0`` — so the blocks compose with ``_kmeans_chain_sql``
    in the IVF+PQ mirror. Subvector slices use explicit-argument
    list_slice (family-B rule); every window ordering carries a
    row-unique tiebreaker (family H: vec_id / neighbor_id, `cluster`
    audited via H_ALLOWED)."""
    blocks = []
    for s in range(m):
        lo = f"{s} * (len(v) // {m}) + 1"
        hi = f"({s} + 1) * (len(v) // {m})"
        head = f"""
es{s} AS MATERIALIZED (
    SELECT vec_id, list_slice(v, {lo}, {hi}) AS sv FROM e
), evs{s} AS MATERIALIZED (
    SELECT vec_id, sv, list_dot_product(sv, sv) AS svv FROM es{s}
), pp{s} AS (
    SELECT vec_id,
           [{{'d': i - 1, 'sv': CAST(floor(sv[i] * {_KM_SCALE}) AS BIGINT)}}
            for i in range(1, len(sv) + 1)] AS pairs
    FROM es{s}
), ex{s} AS MATERIALIZED (
    SELECT vec_id, unnest(pairs, recursive := true) FROM pp{s}
), c0x_{s} AS MATERIALIZED (
    SELECT CAST(vec_id AS BIGINT) AS cluster, sv AS c, svv AS cc
    FROM (SELECT vec_id, sv, svv,
                 row_number() OVER (ORDER BY vec_id) AS seed_rn
          FROM evs{s})
    WHERE seed_rn <= {ncodes}
)""".strip()
        parts = [head]
        prev = f"c0x_{s}"
        for i in range(1, iters + 1):
            parts.append(f""", d{i}_{s} AS (
    SELECT evs{s}.vec_id, {prev}.cluster,
           (evs{s}.svv - 2.0 * list_dot_product(evs{s}.sv, {prev}.c)) + {prev}.cc AS dist
    FROM evs{s} CROSS JOIN {prev}
), a{i}_{s} AS MATERIALIZED (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d{i}_{s}
    ) WHERE rn = 1
), m{i}_{s} AS (
    SELECT a{i}_{s}.cluster, ex{s}.d, sum(ex{s}.sv)::BIGINT AS ssum, count(*) AS n
    FROM a{i}_{s} JOIN ex{s} USING (vec_id)
    GROUP BY a{i}_{s}.cluster, ex{s}.d
), c{i}_{s} AS (
    SELECT cluster, list(CAST(ssum AS DOUBLE) / n / {_KM_SCALE}.0 ORDER BY d) AS c
    FROM m{i}_{s} GROUP BY cluster
), c{i}x_{s} AS MATERIALIZED (
    SELECT cluster, c, list_dot_product(c, c) AS cc FROM c{i}_{s}
)""")
            prev = f"c{i}x_{s}"
        parts.append(f""", d{iters + 1}_{s} AS (
    SELECT evs{s}.vec_id, {prev}.cluster,
           (evs{s}.svv - 2.0 * list_dot_product(evs{s}.sv, {prev}.c)) + {prev}.cc AS dist
    FROM evs{s} CROSS JOIN {prev}
), enc{s} AS MATERIALIZED (
    SELECT vec_id, cluster AS code{s} FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d{iters + 1}_{s}
    ) WHERE rn = 1
), qt{s} AS MATERIALIZED (
    SELECT q.vec_id AS query_id, cb.cluster AS code{s},
           list_dot_product(q.sv, cb.c) AS val{s}
    FROM evs{s} q CROSS JOIN {prev} cb WHERE q.vec_id < {_ANN_NQ}
)""")
        blocks.append("".join(parts))
    return ",".join(blocks)


def _pq_assembly_sql(m: int = _PQ_M, rerank: int = _PQ_RERANK,
                     cand_restrict: str | None = None) -> str:
    """The shared PQ tail: full-corpus encode, relational ADC lookup
    (qt{s} joined on (query_id, code{s})), fixed-parenthesization adc
    sum, rerank window, exact-cosine verify. ``cand_restrict`` injects
    the IVF candidate restriction as an extra join (the IVF+PQ
    composition); None scores every (query, corpus) pair (flat PQ)."""
    qt_joins = "\n    ".join(
        f"JOIN qt{s} ON qt{s}.query_id = qt0.query_id AND qt{s}.code{s} = enc.code{s}"
        for s in range(1, m)
    )
    enc_joins = "\n    ".join(
        f"JOIN enc{s} ON enc{s}.vec_id = e.vec_id" for s in range(m)
    )
    enc_cols = ", ".join(f"enc{s}.code{s}" for s in range(m))
    adc = "qt0.val0"
    for s in range(1, m):
        adc = f"({adc} + qt{s}.val{s})"
    if cand_restrict is None:
        restrict = "WHERE qt0.query_id <> enc.neighbor_id"
    else:
        restrict = (
            f"JOIN {cand_restrict} ON {cand_restrict}.query_id = qt0.query_id"
            f" AND {cand_restrict}.neighbor_id = enc.neighbor_id"
        )
    return f"""
, enc AS MATERIALIZED (
    SELECT e.vec_id AS neighbor_id, {enc_cols}
    FROM e
    {enc_joins}
), scores AS (
    SELECT qt0.query_id, enc.neighbor_id, {adc} AS adc
    FROM enc
    JOIN qt0 ON qt0.code0 = enc.code0
    {qt_joins}
    {restrict}
), cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS rn
        FROM scores
    ) WHERE rn <= {rerank}
)""" + _SQL_ANN_VERIFY_TAIL


def _pq_portable_sql(m: int = _PQ_M, ncodes: int = _PQ_NCODES,
                     rerank: int = _PQ_RERANK, iters: int = _PQ_ITERS) -> str:
    """The flat-PQ DuckDB mirror: subspace chains + full-pairing ADC
    assembly, all expanded from the shared geometry constants so the
    Spark operator call and the mirror cannot drift on slice bounds,
    seed rule, iteration count, tiebreak order, or addition
    parenthesization."""
    return (
        "\nWITH e AS MATERIALIZED "
        "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        + _pq_blocks_sql(m, ncodes, iters)
        + _pq_assembly_sql(m, rerank)
    )


SQL_ANN_PQ_PORTABLE = _pq_portable_sql()


# IVF+PQ composition geometry: the coarse quantizer reuses the IVF
# gate's constants, the codebooks reuse the PQ gate's — the whole point
# of the gate is that the composition adds NO new contract surface.
def q_ann_ivfpq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ approximate top-k (operators/similarity.ivfpq_topk_portable)
    — round 13, the LAST ANN family member without a hash-verified
    variant (VERDICT r12 #3): the exact-contract coarse quantizer
    (ann_ivf_portable's cells/probes) restricts WHICH corpus vectors
    each query scores, the exact-contract subspace codebooks
    (ann_pq_portable's books) decide HOW — raw-vector codes, FAISS
    IndexIVFPQ(by_residual=False) semantics — so the classic two-level
    IVFPQ index (Jégou et al.) reproduces bit-for-bit in DuckDB.
    Lossless composition pinned in tests (nprobe=kcells + rerank>=N
    equals brute force); shipped-geometry recall rides
    ann_recall_sweep's evidence block."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    q = e.filter(F.col("vec_id") < _ANN_NQ)
    out = sim.ivfpq_topk_portable(
        q, e, dim=dim, kcells=_KM_K, coarse_iters=_KM_ITERS,
        nprobe=_IVF_NPROBE, m=_PQ_M, ncodes=_PQ_NCODES, iters=_PQ_ITERS,
        rerank=_PQ_RERANK, k=_ANN_K, scale_bits=_KM_SCALE_BITS,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def _ivfpq_portable_sql() -> str:
    """The IVF+PQ mirror IS the composition of the committed halves:
    the coarse kmeans chain + cells/probes (shared text with
    SQL_ANN_IVF_PORTABLE) provides ``ivf_cand``; the PQ subspace blocks
    (shared generator with SQL_ANN_PQ_PORTABLE) provide codes and
    lookup tables; the assembly restricts ADC scoring to ``ivf_cand``.
    The chain's ``e`` carries (v, vv); the PQ blocks read only ``v``."""
    return (
        _SQL_KMEANS_CHAIN
        + _SQL_IVF_CELLS_PROBES
        + ",\n"
        + _pq_blocks_sql()
        + _pq_assembly_sql(cand_restrict="ivf_cand")
    )


SQL_ANN_IVFPQ_PORTABLE = _ivfpq_portable_sql()


# Shared packing-gate geometry (review r13c #3: the budget and the
# modulo shard were re-spelled as literals in each wrapper AND its
# mirror — the drift hazard the _KM_*/_CHUNK_* constants exist to kill).
_PACK_BUDGET = 512
_PACK_SHARDS = 8


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing of documents into 512-token packs
    (LLM pretraining batch shaping); modulo sharding here so the DuckDB
    oracle can mirror the window exactly (production default shards by
    xxhash64)."""
    d = _t(spark, sf_dir, "documents")
    toks = tx.token_count_ws(F.col("text")).alias("n_tokens")
    with_toks = d.select("doc_id", toks)
    packed = pack_sequences(
        with_toks,
        token_col="n_tokens",
        max_tokens=_PACK_BUDGET,
        key_col="doc_id",
        shard_expr=F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)),
    )
    return packed.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "pack_id")


def q_sequence_packing_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-sorted next-fit packing (first-fit-decreasing idea): shards
    order by descending capped token count, reducing fragmentation on
    heterogeneous corpora. Same shuffle shape as sequence_packing."""
    d = _t(spark, sf_dir, "documents")
    toks = tx.token_count_ws(F.col("text")).alias("n_tokens")
    with_toks = d.select("doc_id", toks)
    packed = pack_sequences(
        with_toks,
        token_col="n_tokens",
        max_tokens=_PACK_BUDGET,
        key_col="doc_id",
        shard_expr=F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)),
        order_by_length=True,
    )
    return packed.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "pack_id"
    )


SQL_SEQUENCE_PACKING_SORTED = rf"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN 0
                ELSE len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '')) END AS n_tokens,
           doc_id % {_PACK_SHARDS} AS shard
    FROM documents
), s AS (
    SELECT doc_id, n_tokens, shard,
           coalesce(sum(least(n_tokens, {_PACK_BUDGET})) OVER (
               PARTITION BY shard
               ORDER BY least(n_tokens, {_PACK_BUDGET}) DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_before
    FROM t
)
SELECT doc_id, n_tokens,
       shard || '-' || CAST(floor(run_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id
FROM s
"""


SQL_SEQUENCE_PACKING = rf"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN 0
                ELSE len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '')) END AS n_tokens,
           doc_id % {_PACK_SHARDS} AS shard
    FROM documents
), s AS (
    SELECT doc_id, n_tokens, shard,
           coalesce(sum(least(n_tokens, {_PACK_BUDGET})) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_before
    FROM t
)
SELECT doc_id, n_tokens,
       shard || '-' || CAST(floor(run_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id
FROM s
"""


def q_sequence_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-FIT-DECREASING packing (operators/sampling.pack_sequences_ffd)
    — true bin packing with multiple open bins per shard, round 13's
    packing-efficiency upgrade over the next-fit family (FFD <= 11/9
    OPT + 2/3; bin-count improvement over both next-fit gates pinned in
    tests). Every decision is integer (capped sums vs the 512 budget,
    first-fit index), so the recursive-CTE mirror — one doc per step per
    shard, carrying the open-bin load list — reproduces the assignment
    bit-for-bit; same modulo sharding as the sibling gates."""
    d = _t(spark, sf_dir, "documents")
    toks = tx.token_count_ws(F.col("text")).alias("n_tokens")
    with_toks = d.select("doc_id", toks)
    packed = pack_sequences_ffd(
        with_toks,
        token_col="n_tokens",
        max_tokens=_PACK_BUDGET,
        key_col="doc_id",
        shard_expr=F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)),
    )
    return packed.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "pack_id"
    )


# The FFD walk: rank per shard by (capped tokens DESC, doc_id), advance
# every shard one doc per recursion step; p = first bin the doc fits
# (list_position over the load list, 0 = none -> open a new bin). All
# integer state, so the assignment hash-matches the Arrow fold.
SQL_SEQUENCE_PACKING_FFD = rf"""
WITH RECURSIVE t AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN 0
                ELSE len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '')) END AS n_tokens,
           doc_id % {_PACK_SHARDS} AS shard
    FROM documents
), ranked AS MATERIALIZED (
    SELECT doc_id, n_tokens, shard, least(n_tokens, {_PACK_BUDGET}) AS ct,
           row_number() OVER (PARTITION BY shard
                              ORDER BY least(n_tokens, {_PACK_BUDGET}) DESC, doc_id) AS rn
    FROM t
), walk(shard, rn, bin_idx, loads) AS (
    SELECT shard, rn, CAST(0 AS BIGINT), [ct] FROM ranked WHERE rn = 1
    UNION ALL
    SELECT d.shard, d.rn,
           CAST(CASE WHEN p = 0 THEN len(w.loads) ELSE p - 1 END AS BIGINT),
           CASE WHEN p = 0 THEN list_append(w.loads, d.ct)
                ELSE list_transform(w.loads,
                         (l, i) -> CASE WHEN i = p THEN l + d.ct ELSE l END)
           END
    FROM walk w
    JOIN ranked d ON d.shard = w.shard AND d.rn = w.rn + 1,
    -- coalesce: list_position's not-found result is 0 in some DuckDB
    -- releases and NULL per the docs — the new-bin branch keys on 0,
    -- so normalize (review r13b #2; duckdb is not version-pinned here)
    LATERAL (SELECT coalesce(list_position(
                 list_transform(w.loads, l -> l + d.ct <= {_PACK_BUDGET}), true), 0) AS p) q
)
SELECT d.doc_id, d.n_tokens,
       d.shard || '-' || CAST(w.bin_idx AS BIGINT) AS pack_id
FROM walk w JOIN ranked d ON d.shard = w.shard AND d.rn = w.rn
"""


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report across the three packing strategies
    (round 13): one row per strategy with pack count, total capped
    tokens, and fill rate — the table a pipeline owner reads to decide
    whether FFD's strict-budget bins are worth the key-order locality
    the next-fit variants keep. fill_permille is an exact integer
    (total*1000 div (n_packs*budget)), so the whole report
    hash-matches; the window-approximation strategies may exceed 1000
    (their packs can overflow the budget by < 1 doc — the documented
    <2x bound), the FFD row cannot."""
    frames = []
    for strategy, fn in (
        ("next_fit", q_sequence_packing),
        ("next_fit_sorted", q_sequence_packing_sorted),
        ("ffd", q_sequence_packing_ffd),
    ):
        packed = fn(spark, sf_dir)
        frames.append(
            packed.agg(
                F.countDistinct("pack_id").alias("n_packs"),
                F.sum(F.least(F.col("n_tokens"), F.lit(_PACK_BUDGET)))
                .cast("long")
                .alias("total_capped_tokens"),
            ).select(
                F.lit(strategy).alias("strategy"),
                F.col("n_packs").cast("long").alias("n_packs"),
                "total_capped_tokens",
                F.expr(f"total_capped_tokens * 1000 div (n_packs * {_PACK_BUDGET})")
                .cast("long")
                .alias("fill_permille"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _packing_efficiency_sql() -> str:
    """One subquery per strategy around the existing (already
    hash-verified) packing mirrors — the report cannot drift from the
    per-doc gates because it aggregates their literal SQL."""
    parts = []
    for strategy, sql in (
        ("next_fit", SQL_SEQUENCE_PACKING),
        ("next_fit_sorted", SQL_SEQUENCE_PACKING_SORTED),
        ("ffd", SQL_SEQUENCE_PACKING_FFD),
    ):
        parts.append(f"""
SELECT '{strategy}' AS strategy,
       count(DISTINCT pack_id)::BIGINT AS n_packs,
       sum(least(n_tokens, {_PACK_BUDGET}))::BIGINT AS total_capped_tokens,
       (sum(least(n_tokens, {_PACK_BUDGET})) * 1000
           // (count(DISTINCT pack_id) * {_PACK_BUDGET}))::BIGINT
           AS fill_permille
FROM ({sql})""")
    return "\nUNION ALL\n".join(parts)


SQL_PACKING_EFFICIENCY = _packing_efficiency_sql()


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based stratified sampling + deterministic train/val/test split.
    Oracle-checkable since round 2: selection moved from xxhash64
    (Spark-only) to md5 hex-prefix thresholds, so DuckDB recomputes the
    EXACT row selection and split assignment, not just proportions."""
    d = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        d,
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0},
        key_col="doc_id",
    )
    return deterministic_split(
        sampled, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id"
    ).select("doc_id", "lang", "split")


SQL_STRATIFIED_SPLIT = r"""
WITH sampled AS (
    SELECT doc_id, lang FROM documents
    WHERE substring(md5('stratified_sample:42:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE lang
              WHEN 'en' THEN '7fffffff'
              WHEN 'de' THEN 'zzzzzzzz'
              WHEN 'fr' THEN 'zzzzzzzz'
              WHEN 'es' THEN 'zzzzzzzz'
              WHEN 'zh' THEN 'zzzzzzzz'
              ELSE ''
            END
)
SELECT doc_id, lang,
       CASE WHEN substring(md5('deterministic_split:42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < 'cccccccc' THEN 'train'
            WHEN substring(md5('deterministic_split:42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < 'e6666665' THEN 'val'
            ELSE 'test'
       END AS split
FROM sampled
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cells + multi-probe) approximate top-k. Rows-only:
    k-means is iterative/non-SQL-expressible; recall vs the exact path is
    unit-tested (tests/test_dedup_similarity.py)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    # max_iter=5: k-means assignments converge in a handful of iterations
    # at any corpus size (measured identical recall vs 10, half the wall);
    # n_probe=6/16 cells lifts recall 0.52 -> 0.76 on the (clusterless
    # Gaussian) fixture while still scanning ~1/3 of the corpus.
    out = sim.ivf_topk(q, e, k=5, n_cells=16, n_probe=6, max_iter=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k with exact re-rank (Jégou et al.
    2011; operators/similarity.pq_topk — the 32x-compressed-scan path).
    Rows-only: codebooks come from iterative k-means; recall vs the
    exact path is unit-tested (tests/test_dedup_similarity.py).
    m=16 sub-spaces on the clusterless Gaussian fixture (finer cells
    compensate for the lack of structure: recall 0.48 @ m=8 -> 0.84)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = sim.pq_topk(q, e, k=5, m=16, n_codes=16, rerank=32)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (coarse cells x residual-PQ ADC scan x exact
    re-rank; operators/similarity.ivfpq_topk, by_residual=True —
    standard FAISS IVFPQ). Rows-only: k-means. Residual encoding
    (VERDICT r4 ask #4) lifted recall 0.68 -> 0.80 at unchanged
    n_probe=8/16 cells; the remaining gap to PQ-only (0.84) is the IVF
    routing miss on the clusterless Gaussian fixture — exactly the
    contrast the two gate entries document."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = sim.ivfpq_topk(q, e, k=5, n_cells=16, n_probe=8, m=16, rerank=32)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def q_ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality gate for the ANN family (VERDICT r8 #8): one
    row per approximate method (lsh / ivf / pq / ivfpq, each at its
    production gate parameters) with measured recall@5 against the
    brute-force exact top-5 over a 20-query probe set — the
    `threshold_sweep` pattern applied to ANN, so the recall numbers in
    the individual gates' docstrings are re-MEASURED every correctness
    run instead of asserted once in a unit test. Rows-only (k-means is
    iterative; the exact baseline is the in-frame ground truth);
    the quantitative evidence block in CORRECTNESS_local.json carries
    the per-method recalls. The exact frame is checkpointed once — it
    feeds all four method joins and the possible-count."""
    e = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [],
            "method string, returned long, hits long, possible long, "
            "recall_at_k double",
        )
    k = 5
    q = e.filter(F.col("vec_id") < 20)
    exact = (
        sim.cosine_topk(q, e, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    methods = {
        # TWO LSH rows on purpose: ``lsh_gate`` measures the parameters
        # ``q_ann_lsh_topk`` actually ships (the ``_lsh_planes()``
        # default — 4 planes x 8 tables since VERDICT r10 #2, recall@5
        # ~0.73 here), and ``lsh_2x8_contrast`` keeps the old
        # long-signature x few-tables configuration as the explicitly
        # labeled worst-case contrast (recall@5 ~0.02 on this
        # clusterless Gaussian fixture) so the structure-sensitivity of
        # hyperplane LSH stays in the per-round record.
        "lsh_gate": sim.lsh_topk(q, e, _lsh_planes(dim=dim), k=k),
        "lsh_2x8_contrast": sim.lsh_topk(
            q, e, _lsh_planes(num_tables=2, num_planes=8, dim=dim, seed=42), k=k
        ),
        "ivf": sim.ivf_topk(q, e, k=k, n_cells=16, n_probe=6, max_iter=5),
        "pq": sim.pq_topk(q, e, k=k, m=16, n_codes=16, rerank=32),
        "ivfpq": sim.ivfpq_topk(
            q, e, k=k, n_cells=16, n_probe=8, m=16, rerank=32
        ),
        # round-12 portable members at their shipped gate geometry —
        # their recall rides the same per-round record even though
        # their CORRECTNESS gate is the stronger hash match
        "lsh_portable": sim.lsh_topk_portable(
            q, e, dim=dim, num_tables=_LSH_TABLES, num_planes=_LSH_PLANES,
            k=k, scale_bits=_KM_SCALE_BITS,
        ),
        "ivf_portable": sim.ivf_topk_portable(
            q, e, kcells=_KM_K, iters=_KM_ITERS, nprobe=_IVF_NPROBE, k=k,
            scale_bits=_KM_SCALE_BITS,
        ),
        "pq_portable": sim.pq_topk_portable(
            q, e, dim=dim, m=_PQ_M, ncodes=_PQ_NCODES, iters=_PQ_ITERS,
            rerank=_PQ_RERANK, k=k, scale_bits=_KM_SCALE_BITS,
        ),
        # round 13: the IVF+PQ composition at its shipped gate geometry
        "ivfpq_portable": sim.ivfpq_topk_portable(
            q, e, dim=dim, kcells=_KM_K, coarse_iters=_KM_ITERS,
            nprobe=_IVF_NPROBE, m=_PQ_M, ncodes=_PQ_NCODES,
            iters=_PQ_ITERS, rerank=_PQ_RERANK, k=k,
            scale_bits=_KM_SCALE_BITS,
        ),
    }
    return sim.recall_sweep(
        exact,
        {n: df.select("query_id", "neighbor_id") for n, df in methods.items()},
    )


def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: approximate frequent items (Karp et al. via
    DataFrame.freqItems). Rows-only: sketch output is support-dependent;
    containment of true heavy hitters is unit-tested."""
    l = _t(spark, sf_dir, "lineitem")
    freq = l.freqItems(["l_returnflag", "l_linestatus"], support=0.2)
    # Stay lazy: sort/join the sketch arrays as column expressions so the
    # registry's (spark, sf_dir) -> unexecuted-DataFrame contract holds —
    # no job runs until the caller acts (VERDICT r3 #4; the previous
    # .first() + createDataFrame ran two jobs at build time and hid the
    # real plan from bench/explain tooling).
    return freq.select(
        F.array_join(F.array_sort("l_returnflag_freqItems"), ",").alias(
            "frequent_returnflags"
        ),
        F.array_join(F.array_sort("l_linestatus_freqItems"), ",").alias(
            "frequent_linestatuses"
        ),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched decode/featurize stage (decode
    stubbed; Spark plumbing real). Oracle covers the deterministic columns."""
    d = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_documents(d)
    feats = mm.decode_stub(media)
    return feats.select("media_id", "n_bytes", "content_sha256")


SQL_MULTIMODAL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature stage over synthesized binary media
    (operators/multimodal.audio_features, decoder pinned to "stub" so
    parity never depends on installed codecs — the wav/auto tier's REAL
    PCM decode is covered by non-skipped tests instead). The stub's
    outputs are sha256-byte-derived integers, which DuckDB reproduces
    exactly from the hex digest — so unlike most codec plumbing this
    gate is fully oracle-backed."""
    d = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_documents(d)
    return mm.audio_features(media, decoder="stub")


SQL_AUDIO_FEATURES = """
SELECT doc_id AS media_id,
       CASE WHEN text IS NULL THEN NULL ELSE 8000 END AS sample_rate,
       CASE WHEN text IS NULL THEN NULL ELSE 1 END AS n_channels,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(strlen(text) AS BIGINT) END AS n_samples,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(strlen(text) * 1000 // 8000 AS BIGINT) END AS duration_ms,
       CAST(('0x' || substr(sha256(text), 1, 2)) AS BIGINT) AS peak,
       CAST(('0x' || substr(sha256(text), 3, 2)) AS BIGINT) AS energy_ms,
       CAST(('0x' || substr(sha256(text), 5, 2)) AS BIGINT) AS zero_crossings
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.sample_frames,
    stub decoder): the flat-map 1-row-in-N-frames-out shape with
    metadata-driven counts — frames = min(4, duration_ms // 1000 + 1),
    duration synthesized deterministically from n_chars. The frame
    payloads are codec-dependent and excluded; the sampled row set
    (media_id, frame_idx, ts_ms) is exact integers, so the EXPLODE
    ARITHMETIC — the part that must be right at any scale — is fully
    oracle-backed. Real frame extraction (Y4M tier) is covered by
    non-skipped tests."""
    d = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_documents(d).select(
        "media_id",
        "content",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            ((F.col("media_id") * 977) % 5000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    out = mm.sample_frames(media, every_ms=1000, max_frames=4, decoder="stub")
    return out.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )


SQL_FRAME_SAMPLE = """
WITH m AS (
    SELECT doc_id AS media_id, (doc_id * 977) % 5000 AS duration_ms FROM documents
), n AS (
    SELECT media_id,
           CASE WHEN duration_ms > 0
                THEN least(4, duration_ms // 1000 + 1) ELSE 1 END AS n_frames
    FROM m
)
SELECT media_id,
       CAST(unnest(range(0, n_frames)) AS BIGINT) AS frame_idx,
       CAST(unnest(range(0, n_frames)) * 1000 AS BIGINT) AS ts_ms
FROM n
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (Lee et al. 2022-style
    span dedup; operators/dedup.paragraph_dedup). Every third document
    gets a shared boilerplate footer appended so the fixture — whose
    documents share no natural lines — exercises the remove-all-but-
    first-occurrence path; the oracle applies the same perturbation."""
    d = _t(spark, sf_dir, "documents")
    with_footer = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\nshared boilerplate footer")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dd.paragraph_dedup(with_footer)


SQL_PARAGRAPH_DEDUP = r"""
WITH docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || chr(10) || 'shared boilerplate footer'
                ELSE text END AS text
    FROM documents
), p0 AS (
    SELECT doc_id,
           [ {'pos': i, 'para': trim(lines[i], ' ')} for i in range(1, len(lines)+1) ] AS ps
    FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM docs2)
), p AS (
    SELECT doc_id, unnest(ps, recursive := true) FROM p0
), np AS (
    SELECT doc_id, pos, para FROM p WHERE para != ''
), surv AS (
    SELECT doc_id, pos, para FROM np
    QUALIFY row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1
), rebuilt AS (
    SELECT doc_id AS rid,
           string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
           count(*) AS n_kept
    FROM surv GROUP BY doc_id
), totals AS (
    SELECT doc_id AS tid, count(*) AS n_paras FROM np GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_paras, 0) AS n_paras,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.text_dedup, '') AS text_dedup
FROM docs2 d
LEFT JOIN totals t ON d.doc_id = t.tid
LEFT JOIN rebuilt r ON d.doc_id = r.rid
"""


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 tokens by occurrence count with doc
    frequencies (operators/text.token_topk)."""
    return tx.token_topk(_t(spark, sf_dir, "documents"), k=50)


SQL_TOKEN_TOPK = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '')) AS token
    FROM documents
), nz AS (
    SELECT doc_id, token FROM toks WHERE token != ''
), per AS (
    SELECT token, doc_id, count(*) AS c FROM nz GROUP BY 1, 2
)
SELECT token,
       sum(c)::BIGINT AS n_occurrences,
       count(*) AS n_docs
FROM per GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 50
"""


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/text.tfidf_top_terms);
    rank cast to long for cross-engine schema parity."""
    out = tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), top=3)
    return out.select(
        "doc_id", F.col("rank").cast("long").alias("rank"), "term", "tf", "df_docs"
    )


SQL_TFIDF_TOPTERMS = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '')) AS term
    FROM documents
), nz AS (
    SELECT doc_id, term FROM toks WHERE term != ''
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM nz GROUP BY 1, 2
), dfq AS (
    SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
)
SELECT doc_id, rank, term, tf, df_docs FROM (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
           row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf::DOUBLE / dfq.df_docs DESC, tf.term ASC
           ) AS rank
    FROM tf JOIN dfq USING (term)
) WHERE rank <= 3
"""


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction (functions/urls.py) over URLs synthesized
    deterministically from documents — five shapes covering userinfo,
    ports, cc-SLD registrable domains, schemeless junk, and missing
    components (absent = '' in both engines)."""
    from wordpress_sql_to_contentstack_exporter_spark.functions import urls as U

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("https://www.example.co.uk/articles/"), sid,
                        F.lit("?ref=abc&utm_source=feed#top")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("http://blog.test.com/"), sid))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("https://user:pw@sub.site.org:8443/p/q/"), sid,
                       F.lit("?x=1")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("ftp://files.example.net/pub/"), sid, F.lit("#frag")))
        .otherwise(F.concat(F.lit("not a url "), sid))
    )
    with_url = d.select("doc_id", url.alias("url"))
    host = U.url_host(F.col("url"))
    return with_url.select(
        "doc_id",
        U.url_scheme(F.col("url")).alias("scheme"),
        host.alias("host"),
        U.url_port(F.col("url")).alias("port"),
        U.url_path(F.col("url")).alias("path"),
        U.url_query(F.col("url")).alias("query"),
        U.url_fragment(F.col("url")).alias("fragment"),
        U.registrable_domain(host).alias("reg_domain"),
        U.query_param(F.col("url"), "utm_source").alias("utm_source"),
    )


SQL_URL_PARSE = r"""
WITH u AS (
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'https://www.example.co.uk/articles/' || doc_id || '?ref=abc&utm_source=feed#top'
             WHEN 1 THEN 'http://blog.test.com/' || doc_id
             WHEN 2 THEN 'https://user:pw@sub.site.org:8443/p/q/' || doc_id || '?x=1'
             WHEN 3 THEN 'ftp://files.example.net/pub/' || doc_id || '#frag'
             ELSE 'not a url ' || doc_id
           END AS url
    FROM documents
), parts AS (
    SELECT doc_id,
           regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1) AS scheme,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1) AS host,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?[^:/?#]+:([0-9]+)', 1) AS port,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query,
           regexp_extract(url, '#(.*)$', 1) AS fragment,
           regexp_extract(url, '[?&]utm_source=([^&#]*)', 1) AS utm_source
    FROM u
), dom AS (
    SELECT doc_id, scheme, host, port, path, query, fragment, utm_source,
           string_split(lower(host), '.') AS ls
    FROM parts
)
SELECT doc_id, scheme, host, port, path, query, fragment,
       CASE WHEN host = '' THEN ''
            WHEN len(ls) >= 3 AND length(ls[len(ls)]) = 2
                 AND ls[len(ls)-1] IN ('co','com','net','org','ac','gov','edu')
              THEN ls[len(ls)-2] || '.' || ls[len(ls)-1] || '.' || ls[len(ls)]
            WHEN len(ls) >= 2 THEN ls[len(ls)-1] || '.' || ls[len(ls)]
            ELSE lower(host) END AS reg_domain,
       utm_source
FROM dom
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step conversion funnel (view -> click within 24 h ->
    purchase within 24 h) — the event-analytics shape that needs
    sequential constraints between per-user aggregates.

    Plan: ONE shuffle on user_id; the three "first qualifying event"
    timestamps are stacked full-partition windows over the same
    partitioning (Catalyst reuses the exchange), then a tiny distinct +
    conditional-count aggregate. No self-joins of the event table.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    win = 24 * 3600 * 1_000_000  # conversion window, micros
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    staged = (
        e.withColumn(
            "v_us", F.min(F.when(F.col("event_type") == "view", us)).over(w)
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (us > F.col("v_us"))
                    & (us <= F.col("v_us") + win),
                    us,
                )
            ).over(w),
        )
        .withColumn(
            "p_us",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (us > F.col("c_us"))
                    & (us <= F.col("c_us") + win),
                    us,
                )
            ).over(w),
        )
        .select("user_id", "v_us", "c_us", "p_us")
        .distinct()
    )
    return staged.agg(
        F.count(F.col("v_us")).alias("viewed"),
        F.count(F.col("c_us")).alias("clicked_24h"),
        F.count(F.col("p_us")).alias("purchased_24h"),
    )


SQL_FUNNEL = """
WITH v AS (
    SELECT user_id, min(epoch_us(ts)) AS v_us
    FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click'
      AND epoch_us(e.ts) > v.v_us
      AND epoch_us(e.ts) <= v.v_us + 86400000000
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND epoch_us(e.ts) > c.c_us
      AND epoch_us(e.ts) <= c.c_us + 86400000000
    GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS viewed,
       (SELECT count(*) FROM c) AS clicked_24h,
       (SELECT count(*) FROM p) AS purchased_24h
"""


def q_row_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table checksum for migration validation: per status
    group, row count + order-independent XOR of md5-derived 60-bit row
    digests. bit_xor is overflow-free and commutative (no sort, full
    map-side combine), and md5 renders identically everywhere, so
    source and target engines can verify a copied table's CONTENT with
    one scan each — the check a user migrating off the reference's
    MySQL needs. Doubles enter the digest as exact cent integers; dates
    as ISO strings (both render identically across engines)."""
    o = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderdate").cast("string"),
    )
    digest = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(digest).alias("content_xor"),
        )
    )


SQL_ROW_CHECKSUM = """
SELECT o_orderstatus,
       count(*) AS n_rows,
       bit_xor(('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || '|' ||
           CAST(o_custkey AS VARCHAR) || '|' ||
           o_orderstatus || '|' ||
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
           CAST(o_orderdate AS VARCHAR)
       ), 1, 15))::BIGINT) AS content_xor
FROM orders GROUP BY o_orderstatus
"""


def q_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot + unpivot roundtrip: events pivot to one count column per
    event_type, then unpivot back to long form. Zero-count cells exist
    as columns mid-plan but are dropped on unpivot to match the
    plain-aggregation oracle.

    The pivot is expressed as conditional aggregation over the PINNED
    value list (one ``count(when(type = t))`` per column) rather than
    ``DataFrame.pivot``: with explicit values the two are semantically
    identical, but Spark's pivot operator always compiles to a two-phase
    plan — partial agg on (group, pivot) then re-agg on group = TWO
    shuffles of the fact table — while conditional aggregation is ONE
    map-side-combined shuffle on the group key (explain_audit pins
    this). Pinning the value list is required on a real cluster anyway:
    value discovery is an extra collect job over 100 TB."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in types
        ]
    )
    long = wide.unpivot("user_id", types, "event_type", "n")
    return long.filter(F.col("n") > 0)


SQL_PIVOT_UNPIVOT = """
SELECT user_id, event_type, count(*) AS n
FROM events GROUP BY user_id, event_type
"""


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving average per user — the time-based RANGE
    window frame (``rangeBetween`` over epoch seconds), distinct from the
    row-count frames in ``window_suite``. Peers at the same second share
    a frame in both engines, so the oracle is exact."""
    e = _t(spark, sf_dir, "events")
    es = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)).cast(
        "long"
    )
    base = e.select(
        "event_id",
        "user_id",
        # integer-milli contract (see q_eav_pivot): windowed double sums
        # are frame-walk-order-dependent (sliding add/remove vs segment
        # tree differ engine to engine); an exact long sum in the frame,
        # divided back once, is bit-stable. round-to-integer of a double
        # is the one decimal op both engines agree on.
        F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
        es.alias("epoch_sec"),
    )
    # r15: the trailing RANGE frame is computed as the difference of two
    # GROWING range frames instead of one sliding frame. Spark's
    # SlidingWindowFunctionFrame cannot retract rows, so the direct
    # ``RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW`` aggregate re-sums
    # the whole frame every time it moves — O(frame) per row, which on a
    # dense key is O(events-per-hour) per event. Growing frames
    # (UNBOUNDED PRECEDING upper-bound-moving) are maintained
    # incrementally — O(1) amortized — and
    # frame(-3599..0) == {t <= cur} minus {t <= cur-3600} exactly
    # (integer seconds, RANGE peers included at both ends in both
    # forms). NULL semantics preserved without relying on the fixture
    # (r15 review fix): a windowed sum is NULL iff the frame holds no
    # non-NULL value, so the difference of running non-null COUNTS of
    # v_milli gates the sum-difference to NULL — otherwise an all-NULL
    # hour after earlier non-NULL rows would read 0.0 instead of NULL.
    # n_1h needs no guard (the frame always contains the current row).
    # Measured on a dense probe
    # (1M rows, 100 keys, ~60 rows/frame; interleaved medians):
    # 4.0 -> 2.6 s — the gap grows with frame density, which is the
    # 100 TB case; fixture frames are tiny so the sf0.1 wall is
    # unchanged. Exact equality pinned (exceptAll 0/0 on the dense
    # probe); oracle hash-match re-verified at sf0.01 and sf0.1 (the
    # mirror keeps the direct sliding spelling — plan-independence of
    # the result IS the gate).
    wo = Window.partitionBy("user_id").orderBy("epoch_sec")
    w_cur = wo.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    w_old = wo.rangeBetween(Window.unboundedPreceding, -3600)
    zero = F.lit(0).cast("long")
    cv_1h = F.count("v_milli").over(w_cur) - F.count("v_milli").over(w_old)
    s_diff = F.coalesce(F.sum("v_milli").over(w_cur), zero) - F.coalesce(
        F.sum("v_milli").over(w_old), zero
    )
    s_1h = F.when(cv_1h == 0, F.lit(None).cast("long")).otherwise(s_diff)
    n_1h = F.count(F.lit(1)).over(w_cur) - F.count(F.lit(1)).over(w_old)
    return base.select(
        "event_id",
        "user_id",
        "epoch_sec",
        (s_1h / F.lit(1000.0) / n_1h).alias("ma_1h"),
        n_1h.alias("n_1h"),
    )


SQL_MOVING_AVERAGE = """
WITH base AS (
    SELECT event_id, user_id,
           CAST(round(value * 1000) AS BIGINT) AS v_milli,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec
    FROM events
)
SELECT event_id, user_id, epoch_sec,
       sum(v_milli) OVER (PARTITION BY user_id ORDER BY epoch_sec
                          RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) / 1000.0
         / count(*) OVER (PARTITION BY user_id ORDER BY epoch_sec
                          RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS ma_1h,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_sec
                      RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS n_1h
FROM base
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement with
    the LOG-FREE integer score
    (operators/sampling.weighted_sample_wor_exact): 50 docs per
    language, selection probability proportional to a small integer
    weight (n_chars % 59 + 1, within the operator's weight cap). The
    score is array_max of w pinned md5 60-bit integers — u^(1/w) is
    the max of w iid uniforms — so the DuckDB oracle reproduces the
    EXACT selection with no transcendental anywhere in the contract
    (VERDICT r5 #6 retired the former ln(u)/w score's ulp-tie caveat;
    weighted_sample_wor keeps the 1-hash ln path for heavy-tailed
    continuous weights at scale)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", ((F.col("n_chars") % 59) + 1).cast("long").alias("w")
    )
    out = sampling.weighted_sample_wor_exact(
        d,
        key_col="doc_id",
        weight_col="w",
        n=50,
        strata=["lang"],
        seed=42,
        weight_cap=64,
    )
    return out.select("doc_id", "lang", "w")


SQL_WEIGHTED_SAMPLE = """
WITH s AS (
    SELECT doc_id, lang, (n_chars % 59) + 1 AS w,
           list_max([('0x' || substr(md5('wsx:42:' || CAST(doc_id AS VARCHAR)
                                          || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                     for j in range(1, greatest(least((n_chars % 59) + 1, 64), 1) + 1)]) AS score
    FROM documents WHERE (n_chars % 59) + 1 > 0
)
SELECT doc_id, lang, w FROM s
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) <= 50
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (first-order Markov edges,
    the path-analysis primitive): one lag window over (user_id, ts),
    then a global (from, to) aggregate with transition probabilities.
    Ties on ts are broken by event_id so the sequence is deterministic."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    return (
        steps.groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            # unrounded long/long division: bit-exact cross-engine
            "p",
            F.col("n") / F.sum("n").over(Window.partitionBy("from_type")),
        )
    )


SQL_EVENT_TRANSITIONS = """
WITH steps AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events
), pairs AS (
    SELECT from_type, to_type, count(*) AS n
    FROM steps WHERE from_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
FROM pairs
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by signup week,
    counted distinct in each later activity week. The companion shape to
    ``funnel`` — activity aggregates to (user, week) BEFORE the join, so
    the shuffled volume is bounded by users x active-weeks, not raw
    events. The cohort side is one row per user: small enough to
    broadcast on this fixture but NOT in general (billions of users), so
    the join strategy is left to AQE rather than hinted."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    wk = (
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(7 * 24 * 3600 * 1_000_000)
        )
    ).cast("long")
    cohort = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(wk).alias("cohort_wk"))
    )
    active = e.select("user_id", wk.alias("act_wk")).distinct()
    return (
        active.join(cohort, "user_id")
        .filter(F.col("act_wk") >= F.col("cohort_wk"))
        .groupBy("cohort_wk", (F.col("act_wk") - F.col("cohort_wk")).alias("weeks_since"))
        .agg(F.count_distinct(F.col("user_id")).alias("active_users"))
    )


SQL_RETENTION = """
WITH wk AS (
    SELECT user_id, event_type,
           CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
    FROM events
), cohort AS (
    SELECT user_id, min(w) AS cohort_wk FROM wk
    WHERE event_type = 'signup' GROUP BY user_id
), active AS (
    SELECT DISTINCT user_id, w AS act_wk FROM wk
)
SELECT c.cohort_wk, a.act_wk - c.cohort_wk AS weeks_since,
       count(DISTINCT a.user_id) AS active_users
FROM active a JOIN cohort c ON a.user_id = c.user_id
WHERE a.act_wk >= c.cohort_wk
GROUP BY 1, 2
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-family keep/drop verdict per document (Rae et
    al. 2021 §A1.1 rule shapes, thresholds tuned to the fixture so both
    outcomes occur): length bounds, mean-token-length band, punctuation
    density, and within-doc repetition, each surfaced as a named flag so
    downstream filtering is explainable. Map-only over the quality and
    repetition feature pipelines joined on doc_id."""
    d = _t(spark, sf_dir, "documents")
    q = tx.quality_features(d).select(
        "doc_id", "q_tokens", "q_mean_token_len", "q_punct_ratio"
    )
    r = tx.repetition_features(d.select("doc_id", "text")).select(
        "doc_id", "rep_flagged"
    )
    out = q.join(r, "doc_id")
    too_short = F.col("q_tokens") < 25
    too_long = F.col("q_tokens") > 10_000
    odd_tok = (F.col("q_mean_token_len") < 3.0) | (F.col("q_mean_token_len") > 6.0)
    punct_heavy = F.col("q_punct_ratio") > 0.10
    return out.select(
        "doc_id",
        too_short.alias("too_short"),
        too_long.alias("too_long"),
        odd_tok.alias("odd_token_len"),
        punct_heavy.alias("punct_heavy"),
        F.col("rep_flagged").alias("repetitive"),
        (~(too_short | too_long | odd_tok | punct_heavy | F.col("rep_flagged"))).alias(
            "keep"
        ),
    )


SQL_QUALITY_FILTER = r"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') AS toks
    FROM documents
), q AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN 0 ELSE len(toks) END AS n_toks,
           CASE WHEN len(toks) > 0 AND trim(text, ' ') <> ''
                THEN length(text) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mtl,
           CASE WHEN length(text) > 0
                THEN len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS pr
    FROM t
), lines AS (
    SELECT doc_id,
           list_filter([trim(l, ' ') for l in string_split(text, chr(10))],
                       l -> l != '') AS ls
    FROM documents
), base AS (
    SELECT doc_id, len(ls) AS n_lines,
           len(list_distinct(ls)) AS n_distinct_lines
    FROM lines
), dtoks AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN []
                ELSE list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '')
           END AS tk
    FROM documents
), grams AS (
    -- direct element access, not the tk[i:i+1] bracket slice (slice
    -- end-inclusivity is DuckDB-build-sensitive — the repetition-red
    -- hazard class, VERDICT r5 #1c)
    SELECT doc_id, unnest([concat(tk[i], ' ', tk[i + 1])
                           for i in range(1, greatest(len(tk) - 1, 0) + 1)]) AS gram
    FROM dtoks
), gram_counts AS (
    SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
), gram_stats AS (
    SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_c
    FROM gram_counts GROUP BY doc_id
), rep AS (
    SELECT b.doc_id,
           (10 * (b.n_lines - b.n_distinct_lines) > 3 * b.n_lines
            OR (100 * coalesce(g.top_c, 0) > 18 * coalesce(g.n_bigrams, 0)
                AND coalesce(g.n_bigrams, 0) >= 20)) AS rep_flagged
    FROM base b LEFT JOIN gram_stats g ON b.doc_id = g.doc_id
)
SELECT q.doc_id,
       q.n_toks < 25 AS too_short,
       q.n_toks > 10000 AS too_long,
       (q.mtl < 3.0 OR q.mtl > 6.0) AS odd_token_len,
       q.pr > 0.10 AS punct_heavy,
       rep.rep_flagged AS repetitive,
       NOT (q.n_toks < 25 OR q.n_toks > 10000 OR q.mtl < 3.0 OR q.mtl > 6.0
            OR q.pr > 0.10 OR rep.rep_flagged) AS keep
FROM q JOIN rep ON q.doc_id = rep.doc_id
"""


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket gap-fill with LOCF
    (operators/temporal.gapfill_buckets): dense 10-minute spine per
    event_type, gap buckets carry a 0 count and the last observed
    rounded bucket-average. Oracle: DuckDB range()+unnest spine with an
    IGNORE NULLS window."""
    e = _t(spark, sf_dir, "events").withColumn(
        # integer-milli contract (see q_eav_pivot): per-bucket double avgs
        # are combine-order-dependent; exact long sum / 1000.0 / n is not.
        "v_milli", F.round(F.col("value") * 1000).cast("long")
    )
    out = gapfill_buckets(
        e.select("event_type", "ts", "v_milli"),
        keys=["event_type"],
        ts_col="ts",
        bucket_seconds=600,
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": F.sum("v_milli") / F.lit(1000.0) / F.count(F.lit(1)),
        },
        locf_cols=["avg_value"],
    )
    return out.select(
        "event_type",
        "bucket_epoch",
        F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
        F.col("avg_value_locf").alias("value_locf"),
    )


SQL_GAPFILL = """
WITH b AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 600) AS BIGINT) AS idx,
           count(*) AS n,
           sum(CAST(round(value * 1000) AS BIGINT)) / 1000.0 / count(*) AS av
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT event_type, min(idx) AS mn, max(idx) AS mx FROM b GROUP BY 1
), spine AS (
    SELECT event_type, unnest(range(mn, mx + 1)) AS idx FROM bounds
)
SELECT s.event_type,
       s.idx * 600 AS bucket_epoch,
       coalesce(b.n, 0) AS n_events,
       last_value(b.av IGNORE NULLS)
           OVER (PARTITION BY s.event_type ORDER BY s.idx) AS value_locf
FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.idx = b.idx
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles, DISCRETE lower-rank definition: the
    value at 0-indexed rank ``floor(q * (n - 1))`` of the sorted group —
    an actual element of the data, so the cross-engine contract is
    bit-exact with no interpolation arithmetic. (Linear interpolation —
    Spark ``percentile`` / DuckDB ``quantile_cont`` — computes
    ``lo + (hi-lo)*frac`` with engine-private expression order and a
    non-dyadic 0.9 factor, then the round-4-documented ``round(x, 6)``
    divergence on top; the discrete rank is pure integer selection.)
    The rank index is integer arithmetic on both sides:
    p25=(n-1)//4, p50=(n-1)//2, p75=(3*(n-1))//4, p90=(9*(n-1))//10.

    Scale note: sort_array(collect_list) materializes each group's values
    on one executor — same memory shape as Spark's own exact
    ``percentile`` aggregate (it also buffers the group); groups here are
    event types. For unbounded groups the EXACT answer is
    ``percentiles_scalable`` (round 14); approx_aggs' KLL/HLL path
    remains the sketch option.

    NULL values are excluded explicitly (round 14, review r14a #2):
    collect_list drops them silently while DuckDB ``list()`` keeps
    them, so without the filter the two engines would count ranks over
    DIFFERENT multisets the moment a null value appears — the fixture
    has none, which is exactly how such a divergence stays latent."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arr = F.sort_array(F.collect_list("value"))
    n1 = F.count(F.lit(1)) - 1
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.element_at(arr, (F.floor(n1 / 4) + 1).cast("int")).alias("p25"),
        F.element_at(arr, (F.floor(n1 / 2) + 1).cast("int")).alias("p50"),
        F.element_at(arr, (F.floor(n1 * 3 / 4) + 1).cast("int")).alias("p75"),
        F.element_at(arr, (F.floor(n1 * 9 / 10) + 1).cast("int")).alias("p90"),
    )


def q_percentiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME discrete lower-rank percentile contract as
    ``percentiles``, on the UNBOUNDED-group-size plan
    (operators/stats.grouped_quantiles_scalable, round 14): rank-select
    via a spillable window sort + same-exchange count window — no
    ``collect_list`` group materialization, so the one scale caveat the
    sibling gate documents ("for unbounded groups use approx") now has
    an EXACT answer. Shares the sibling's oracle verbatim: identical
    results by contract, different physical plan — that equality is the
    point of the gate."""
    from ..operators.stats import grouped_quantiles_scalable

    e = _t(spark, sf_dir, "events")
    return grouped_quantiles_scalable(
        e.select("event_type", "value"), keys=["event_type"], value_col="value"
    )


def q_percentiles_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME discrete lower-rank percentile contract, on the
    DOMINANT-GROUP skew plan (operators/stats.grouped_quantiles_skewed,
    round 15 — VERDICT r14 #2): per-group value-range bucketing +
    B-way-parallel (keys, bucket) window sort + broadcast cumulative
    offsets, the device relational.global_rank already ships, applied
    per group. Third physical plan over the verbatim-shared
    ``SQL_PERCENTILES`` oracle — result identity across ALL THREE plans
    (collect_list / spillable single window / sharded bucket windows)
    IS the gate. At 100 TB with a handful of event types this is the
    plan you actually run: the sibling's per-group sort serializes on
    the reducer holding the dominant group; here it shards across
    n_buckets."""
    from ..operators.stats import grouped_quantiles_skewed

    e = _t(spark, sf_dir, "events")
    return grouped_quantiles_skewed(
        e.select("event_type", "value"), keys=["event_type"], value_col="value"
    )


def q_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers per event type
    (operators/stats.mad_outliers): Hampel's rule over integer-milli
    values with discrete lower-rank medians — zero floats anywhere in
    the decision, so the flag is a bit-stable cross-engine contract.
    Complements rolling_anomaly (windowed mean/std): the MAD flags
    survive the outliers' own influence on the baseline."""
    from ..operators.stats import mad_outliers

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = mad_outliers(e, keys=["event_type"], value_col="value", k=5)
    return out.select("event_id", "event_type", "vm", "med", "mad", "is_outlier")


SQL_ROBUST_ANOMALY = """
WITH e AS (
    SELECT event_id, event_type, CAST(round(value * 1000) AS BIGINT) AS vm
    FROM events WHERE value IS NOT NULL
), m AS (
    SELECT event_type,
           (list_sort(list(vm)))[CAST((count(*) - 1) // 2 AS BIGINT) + 1] AS med
    FROM e GROUP BY event_type
), d AS (
    SELECT e.event_id, e.event_type, e.vm, m.med, abs(e.vm - m.med) AS dev
    FROM e JOIN m USING (event_type)
), md AS (
    SELECT event_type,
           (list_sort(list(dev)))[CAST((count(*) - 1) // 2 AS BIGINT) + 1] AS mad
    FROM d GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.vm, d.med, md.mad,
       d.dev > 5 * md.mad AS is_outlier
FROM d JOIN md USING (event_type)
"""


SQL_PERCENTILES = """
WITH s AS (
    SELECT event_type, count(*) AS n, list_sort(list(value)) AS vs
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_type, n,
       vs[CAST((n - 1) // 4 AS BIGINT) + 1] AS p25,
       vs[CAST((n - 1) // 2 AS BIGINT) + 1] AS p50,
       vs[CAST((n - 1) * 3 // 4 AS BIGINT) + 1] AS p75,
       vs[CAST((n - 1) * 9 // 10 AS BIGINT) + 1] AS p90
FROM s
"""


def q_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users per event_type, 1-day slide
    (operators/stats.sliding_hll_distinct): per-day HLL sketches built
    in ONE event pass, exploded to the 7 windows each day feeds, merged
    with hll_union_agg — the post-scan cost is |types| x |days| x 7
    sketch merges regardless of event count, vs the exact form's 7x
    event re-scan. Rows-only (estimates are engine-specific); evidence
    is the measured relative error vs the exact windowed COUNT(DISTINCT)
    in tools/oracle_check.py's quantitative block."""
    e = _t(spark, sf_dir, "events")
    out = stats_ops.sliding_hll_distinct(
        e,
        ts_col="ts",
        value_col="user_id",
        bucket_seconds=86_400,
        window_buckets=7,
        keys=["event_type"],
    )
    return out.orderBy("event_type", "window_end_epoch")


def q_hll_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL,
    built into Spark 3.5+): per-type user sketches re-aggregated with
    ``hll_union_agg`` into an __all__ row — the shape that lets a
    100 TB job compute per-partition partials once and merge them at
    any rollup level without rescanning. Rows-only: estimates are
    engine-specific; the <2% error bound vs exact distinct is pinned
    by test_approx."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    per_out = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est_users")
    )
    union_out = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    return per_out.unionByName(union_out).orderBy("event_type")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window document chunking (operators/text.chunk_documents):
    overlapping token windows (max 32, overlap 8 at gate scale), the
    cleaning→packing bridge of a pretraining pipeline. Pure flat-map —
    JVM sequence/explode/slice, no shuffle. Oracle reproduces the
    stride arithmetic with DuckDB list slicing."""
    d = _t(spark, sf_dir, "documents")
    return tx.chunk_documents(
        d.select("doc_id", "text"), max_tokens=32, overlap=8
    )


SQL_DOC_CHUNKS = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text, ' ') = '' THEN []
                ELSE list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '') END AS toks
    FROM documents
), c AS (
    SELECT doc_id, toks, len(toks) AS n,
           CASE WHEN len(toks) > 0
                THEN 1 + (greatest(len(toks) - 32, 0) + 23) // 24
                ELSE 0 END AS n_chunks
    FROM t
)
SELECT doc_id,
       -- list_slice(), not the bracket slice: end-inclusivity of the
       -- bracket form is DuckDB-build-sensitive (the repetition-red
       -- hazard class, VERDICT r5 #1c); the function form's documented
       -- 1-based inclusive bounds with clamping match Spark F.slice
       unnest(range(0, n_chunks)) AS chunk_idx,
       len(list_slice(toks, unnest(range(0, n_chunks)) * 24 + 1,
                      unnest(range(0, n_chunks)) * 24 + 32)) AS n_chunk_tokens,
       array_to_string(list_slice(toks, unnest(range(0, n_chunks)) * 24 + 1,
                       unnest(range(0, n_chunks)) * 24 + 32), ' ') AS chunk_text
FROM c WHERE n_chunks > 0
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the migration-validation
    companion to ``row_checksum`` for the reference's MySQL exodus: per
    FK relation, total child rows and orphans (child keys with no parent
    row). Plan: one broadcast-able anti-join per relation on the parent
    key, stacked with unionByName; the child fact tables are each
    scanned once and never shuffled (anti-join builds on the parent
    side). NULL FKs count as rows, not orphans (SQL FK semantics)."""
    rels = [
        ("orders.o_custkey->customer.c_custkey",
         _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("fk")),
         _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("pk"))),
        ("lineitem.l_orderkey->orders.o_orderkey",
         _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("fk")),
         _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("pk"))),
        ("customer.c_nationkey->nation.n_nationkey",
         _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("fk")),
         _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("pk"))),
        ("nation.n_regionkey->region.r_regionkey",
         _t(spark, sf_dir, "nation").select(F.col("n_regionkey").alias("fk")),
         _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("pk"))),
    ]
    parts = []
    for name, child, parent in rels:
        orphans = child.filter(F.col("fk").isNotNull()).join(
            parent, F.col("fk") == F.col("pk"), "left_anti"
        )
        parts.append(
            child.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_FK_INTEGRITY = """
SELECT 'orders.o_custkey->customer.c_custkey' AS relation,
       (SELECT count(*) FROM orders) AS n_rows,
       (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders.o_orderkey',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'customer.c_nationkey->nation.n_nationkey',
       (SELECT count(*) FROM customer),
       (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'nation.n_regionkey->region.r_regionkey',
       (SELECT count(*) FROM nation),
       (SELECT count(*) FROM nation na WHERE na.n_regionkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = na.n_regionkey))
"""


def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-FREE range join via time-bucket blocking
    (operators/temporal.bucketed_range_join_count): per purchase event,
    how many error events ANYWHERE (no shared key) happened in the next
    10 minutes. No equi-key exists, so a naive plan is a cartesian
    product; bucketing time into the join key makes it an integer-key
    shuffle join (explain_audit pins no-nested-loop). Counts are exact
    integers — ULP-free oracle via DuckDB's inequality join."""
    from ..operators.temporal import bucketed_range_join_count

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    errors = e.filter(F.col("event_type") == "error").select("ts")
    out = bucketed_range_join_count(
        purchases,
        errors,
        left_ts="ts",
        right_ts="ts",
        lower_seconds=0,
        upper_seconds=600,
        count_alias="n_errors_10m",
    )
    return out.select("event_id", "n_errors_10m")


SQL_RANGE_JOIN_BUCKETED = """
SELECT p.event_id,
       (SELECT count(*) FROM events x
        WHERE x.event_type = 'error'
          AND epoch_us(x.ts) - epoch_us(p.ts) >= 0
          AND epoch_us(x.ts) - epoch_us(p.ts) < 600 * 1000000) AS n_errors_10m
FROM events p WHERE p.event_type = 'purchase'
"""


def q_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins snapshot upsert (operators/relational.upsert_latest):
    a deterministic synthetic update batch (every 10th customer changes
    segment and account balance at version 2) merged into the customer
    base (version 1). One shuffle, no join — MERGE semantics with
    update-wins ties. Oracle: DuckDB union + QUALIFY mirror."""
    from ..operators.relational import upsert_latest

    c = _t(spark, sf_dir, "customer").withColumn("version", F.lit(1).cast("long"))
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_mktsegment", F.lit("MIGRATED"))
        .withColumn(
            "c_acctbal",
            # integer-cents arithmetic: ULP-proof (see q_eav_pivot)
            (F.round(F.col("c_acctbal") * 100).cast("long") + F.lit(100))
            / F.lit(100.0),
        )
        .withColumn("version", F.lit(2).cast("long"))
    )
    out = upsert_latest(c, updates, keys=["c_custkey"], order_col="version")
    return out.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        # re-express base-side balances identically in both engines
        (F.round(F.col("c_acctbal") * 100).cast("long") / F.lit(100.0)).alias(
            "c_acctbal"
        ),
        "version",
    )


SQL_UPSERT_SNAPSHOT = """
WITH base AS (
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c, 1 AS version
    FROM customer
), upd AS (
    SELECT c_custkey, c_name, 'MIGRATED' AS c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) + 100 AS bal_c, 2 AS version
    FROM customer WHERE c_custkey % 10 = 0
), u AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd
)
SELECT c_custkey, c_name, c_mktsegment, bal_c / 100.0 AS c_acctbal, version
FROM u
QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) = 1
"""


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level version diff (operators/relational.table_diff): customer
    base vs a deterministically perturbed version (every 7th row's
    segment changed, every 13th dropped, 20 new synthetic keys) —
    per-status counts. One full-outer join co-keyed on c_custkey;
    oracle mirrors with a FULL OUTER JOIN + CASE."""
    from ..operators.relational import table_diff

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    v2 = (
        c.filter(F.col("c_custkey") % 13 != 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionByName(
            spark.range(1, 21).select(
                (F.col("id") + 10_000_000).alias("c_custkey"),
                F.concat(F.lit("new#"), F.col("id").cast("string")).alias("c_name"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    out = table_diff(c, v2, keys=["c_custkey"])
    return (
        out.groupBy("diff_status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("diff_status")
    )


SQL_TABLE_DIFF = """
WITH a AS (
    SELECT c_custkey, c_name, c_mktsegment FROM customer
), b AS (
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer WHERE c_custkey % 13 <> 0
    UNION ALL
    SELECT c_custkey + 10000000, 'new#' || CAST(c_custkey AS VARCHAR), 'NEW'
    FROM range(1, 21) t(c_custkey)
), d AS (
    SELECT CASE WHEN a.c_custkey IS NOT NULL AND b.c_custkey IS NULL THEN 'removed'
                WHEN a.c_custkey IS NULL AND b.c_custkey IS NOT NULL THEN 'added'
                WHEN a.c_name IS NOT DISTINCT FROM b.c_name
                 AND a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment THEN 'unchanged'
                ELSE 'changed' END AS diff_status
    FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
)
SELECT diff_status, count(*) AS n FROM d GROUP BY diff_status ORDER BY diff_status
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths: gap-sessionize (the same 30-min
    rule as `sessionize`), render each session's ordered event-type
    sequence as a path string, count paths globally — the path-mining
    query behind "how do users actually move through the product".

    Plan: the sessionize window partitioning is REUSED by the ordered
    per-session collect (same (user) shuffle serves both), then one
    tiny aggregation over path strings. Ordered collection uses
    sort_array over (ts, event_id, type) structs — deterministic under
    parallel collection (collect_list order is otherwise unspecified).
    Counts are integers; ordering (n desc, path) total — ULP-free."""
    sessioned = _sessionized(_t(spark, sf_dir, "events"))
    paths = (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"), F.col("event_type")
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


SQL_SESSION_PATHS = """
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessioned GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 20
"""


def q_rolling_values_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 1/2 for the round-6 `rolling_anomaly` driver red
    (same playbook as the repetition probes, VERDICT r5 #1): echo the
    exact INPUTS the window stage consumes — the floor-scaled long and
    the integer-microsecond order key — with no window anywhere. Green
    here proves both engines decode identical (value, ts) rows; a red
    localizes the divergence to scalar decode/scaling, BEFORE any
    window mechanics run."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1024).cast("long").alias("vm"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


SQL_ROLLING_VALUES_ECHO = """
SELECT event_id, event_type,
       CAST(floor(value * 1024) AS BIGINT) AS vm,
       epoch_us(ts) AS ts_us
FROM events
"""


def q_rolling_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic probe 2/2 for the `rolling_anomaly` driver red: ONLY
    the window stage — trailing-100 count and sum per event_type over
    the integer-micros order, ALL rows, no flag arithmetic, no sum of
    squares. With probe 1 green, a red here pins the window mechanics
    (partitioning/ordering/frame); green pushes any remaining
    `rolling_anomaly` red into the sumsq/flag arithmetic."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    vm = F.floor(F.col("value") * 1024).cast("long")
    return e.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum(vm).over(w).alias("w_sum"),
    )


SQL_ROLLING_WINDOW_SUMS = """
WITH v AS (
    SELECT event_id, event_type, epoch_us(ts) AS ts_us,
           CAST(floor(value * 1024) AS BIGINT) AS x
    FROM events
)
SELECT event_id, event_type,
       count(*) OVER win AS w_n,
       (sum(x) OVER win)::BIGINT AS w_sum
FROM v
WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
"""


def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outlier flags (operators/stats.rolling_anomaly):
    per event_type over the trailing 100 events, integer-only decision
    rule ``(n*x - s)^2 > 9*(n*sq - s^2)`` — no float in the flag, so
    the oracle (and any rerun) agrees bit-for-bit. Emits only anomalous
    rows plus their integer window evidence.

    Round-7 fix for the r6 driver red (VERDICT r6 #1b) — root cause:
    the oracle emitted ``sum(x) OVER`` / ``sum(x*x) OVER`` as raw
    HUGEINT columns (w_sum/w_sumsq); int128 rendering is a
    client/build choice, so identical numbers hash differently in a
    foreign comparator (the reds/greens of the whole r6 window split
    exactly on this type — lint family F). Fixed with ``::BIGINT``.
    Defense-in-depth hardenings kept from the investigation: (a)
    values scale by exact floor(x*1024) instead of round(x*1000) —
    power-of-two multiply and floor leave no rounding mode to disagree
    on; (b) the window orders by INTEGER microseconds + event_id on
    both engines instead of the raw timestamp — identical even if one
    engine reads parquet timestamps at a different precision. The two
    `rolling_*` probes preceding this entry localize any remaining
    driver-env divergence to a named stage."""
    from ..operators.stats import rolling_anomaly

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    out = rolling_anomaly(
        e,
        keys=["event_type"],
        order_by=["ts_us", "event_id"],
        value_col="value",
        window_rows=100,
        min_points=30,
        n_sigma=3,
    )
    return out.filter(F.col("is_anomaly")).select(
        "event_id", "event_type", "w_n", "w_sum", "w_sumsq"
    )


SQL_ROLLING_ANOMALY = """
WITH v AS (
    -- floor of a power-of-two-scaled double: multiply is exact, floor is
    -- an unambiguous function of the bits — no rounding mode to disagree
    -- on (round(value*1000) was suspected in the r6 driver env, VERDICT
    -- r6 #1b); integer-micros ordering for the same build-independence
    SELECT event_id, event_type, epoch_us(ts) AS ts_us,
           CAST(floor(value * 1024) AS BIGINT) AS x
    FROM events
), w AS (
    SELECT event_id, event_type, x,
           count(*) OVER win AS w_n,
           sum(x) OVER win AS w_sum,
           sum(x * x) OVER win AS w_sumsq
    FROM v
    WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id
                   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, w_n,
       w_sum::BIGINT AS w_sum, w_sumsq::BIGINT AS w_sumsq
FROM w
WHERE w_n >= 30
  AND (w_n * x - w_sum) * (w_n * x - w_sum) > 9 * (w_n * w_sumsq - w_sum * w_sum)
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals
    (operators/stats.equi_width_histogram, 20 bins): integer-cents bin
    arithmetic — bin edges cannot disagree between engines because no
    float division decides a bin. One scan + tiny broadcast bounds row."""
    from ..operators.stats import equi_width_histogram

    o = _t(spark, sf_dir, "orders")
    return equi_width_histogram(o, value_col="o_totalprice", n_bins=20)


SQL_HISTOGRAM = """
WITH v AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
    WHERE o_totalprice IS NOT NULL
), b AS (
    SELECT min(x) AS mn, max(x) AS mx FROM v
), binned AS (
    SELECT ((x - mn) * 20) // (mx - mn + 1) AS bin, mn, mx
    FROM v CROSS JOIN b
)
SELECT bin,
       mn + (bin * (mx - mn + 1) + 19) // 20 AS lo,
       mn + ((bin + 1) * (mx - mn + 1) - 1) // 20 AS hi,
       count(*) AS n
FROM binned GROUP BY bin, mn, mx ORDER BY bin
"""


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing
    (operators/temporal.merge_intervals): each event spans
    ``[ts, ts+300s)``; overlapping-or-touching spans per user merge into
    maximal activity intervals. All boundaries are long epoch micros —
    the island decision is an integer comparison, never a float."""
    from ..operators.temporal import merge_intervals

    us = F.lit(1_000_000).cast("long")
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
            (F.unix_micros(F.col("ts").cast("timestamp")) + 300 * us).alias("e"),
        )
    )
    return merge_intervals(
        e, keys=["user_id"], start_col="s", end_col="e", count_alias="n_events"
    )


SQL_MERGE_INTERVALS = """
WITH iv AS (
    SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
    FROM events WHERE ts IS NOT NULL
), m AS (
    SELECT user_id, s, e,
           max(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM iv
), f AS (
    SELECT user_id, s, e,
           CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag
    FROM m
), g AS (
    SELECT user_id, s, e,
           sum(flag) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM f
)
SELECT user_id, min(s) AS interval_start, max(e) AS interval_end,
       count(*) AS n_events
FROM g GROUP BY user_id, island
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/relational.scd2_history):
    per customer, the o_orderpriority change log collapsed to versioned
    ``[valid_from, valid_to)`` intervals with no-op updates removed.
    o_orderkey tie-breaks same-date changes deterministically; validity
    bounds are long epoch micros."""
    from ..operators.relational import scd2_history

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t"),
        "o_orderpriority",
    )
    out = scd2_history(
        o,
        keys=["o_custkey"],
        ts_col="t",
        attrs=["o_orderpriority"],
        tiebreak=["o_orderkey"],
    )
    return out.select(
        "o_custkey", "o_orderpriority", "valid_from", "valid_to", "is_current"
    )


SQL_SCD2_HISTORY = """
WITH ordered AS (
    SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS t, o_orderpriority
    FROM orders
), ch AS (
    SELECT o_custkey, o_orderkey, t, o_orderpriority,
           lag(o_orderpriority) OVER w AS prev_attr,
           lag(o_orderkey) OVER w AS prev_key
    FROM ordered
    WINDOW w AS (PARTITION BY o_custkey ORDER BY t, o_orderkey)
), kept AS (
    -- first-row detection via the never-NULL key, so a NULL previous
    -- ATTRIBUTE can't masquerade as "no previous row" (mirrors the
    -- Spark side's lag-of-struct null test)
    SELECT * FROM ch
    WHERE prev_key IS NULL OR prev_attr IS DISTINCT FROM o_orderpriority
), v AS (
    SELECT o_custkey, o_orderpriority, t AS valid_from,
           lead(t) OVER (PARTITION BY o_custkey ORDER BY t, o_orderkey) AS valid_to
    FROM kept
)
SELECT o_custkey, o_orderpriority, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM v
"""


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate line removal
    (operators/text.remove_boilerplate_lines): every third document gets
    a shared footer (df ~ 33% of the corpus >= the 5% threshold), which
    must vanish from ALL documents — the zero-instances-kept complement
    of paragraph_dedup's keep-first policy. Membership is an integer
    cross-multiplied ratio; no float decides a removal."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with_footer = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws("\n", F.col("text"), F.lit("shared boilerplate footer")),
        ).otherwise(F.col("text")),
    )
    return tx.remove_boilerplate_lines(
        with_footer, min_docs=2, max_doc_ratio_pct=5
    )


SQL_BOILERPLATE = r"""
WITH docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || chr(10) || 'shared boilerplate footer'
                ELSE text END AS text
    FROM documents
), p0 AS (
    SELECT doc_id,
           [ {'pos': i, 'line': trim(lines[i], ' ')} for i in range(1, len(lines)+1) ] AS ls
    FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM docs2)
), p AS (
    SELECT doc_id, unnest(ls, recursive := true) FROM p0
), nl AS (
    SELECT doc_id, pos, line FROM p WHERE line != ''
), dfq AS (
    SELECT line, count(DISTINCT doc_id) AS df_docs FROM nl GROUP BY line
), total AS (
    SELECT count(*) AS n_docs FROM docs2
), bp AS (
    SELECT line FROM dfq, total
    WHERE df_docs >= 2 AND df_docs * 100 >= n_docs * 5
), kept AS (
    SELECT doc_id, pos, line FROM nl
    WHERE line NOT IN (SELECT line FROM bp)
), rebuilt AS (
    SELECT doc_id AS rid,
           string_agg(line, chr(10) ORDER BY pos) AS text_clean,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id
), totals AS (
    SELECT doc_id AS tid, count(*) AS n_lines FROM nl GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_lines, 0) AS n_lines,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.text_clean, '') AS text_clean
FROM docs2 d
LEFT JOIN totals t ON d.doc_id = t.tid
LEFT JOIN rebuilt r ON d.doc_id = r.rid
"""


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 string pair mining over customer names
    (operators/dedup.fuzzy_pairs_d1, FastSS/SymSpell deletion
    neighborhoods): blocking is hash-of-variant equi-joins, never an
    all-pairs scan; the oracle IS the quadratic form DuckDB can afford
    at gate scale, so the blocking's exact-recall claim is verified,
    not asserted. Both engines cap to c_custkey < 2000 so the ORACLE's
    quadratic cost stays bounded at larger sf (the setsim_join
    precedent; the Spark side needs no cap)."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select("c_name")
    )
    return dd.fuzzy_pairs_d1(c, text_col="c_name")


SQL_FUZZY_PAIRS = """
WITH d AS (SELECT DISTINCT c_name AS s FROM customer
           WHERE c_name IS NOT NULL AND c_custkey < 2000)
SELECT a.s AS s_a, b.s AS s_b, 1::BIGINT AS dist
FROM d a, d b
WHERE a.s < b.s
  AND abs(length(a.s) - length(b.s)) <= 1
  AND levenshtein(a.s, b.s) = 1
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations over the documents corpus
    (operators/text.pmi_collocations): rank by the exact rational
    ``c_xy * N / (c_x * c_y)`` — monotone in PMI, no log — with
    min_count 5. The score double is a fixed-order product/quotient of
    longs, bit-identical across engines; c-columns are the auditable
    integer evidence."""
    return tx.pmi_collocations(
        _t(spark, sf_dir, "documents").select("text"), min_count=5, top=100
    )


SQL_PMI_COLLOCATIONS = r"""
WITH toks AS (
    SELECT list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM documents
), p0 AS (
    SELECT [ {'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts)) ] AS bs
    FROM toks
), p AS (
    SELECT unnest(bs, recursive := true) FROM p0
), big AS (
    SELECT w1, w2, count(*) AS c_xy FROM p GROUP BY w1, w2
), uni AS (
    SELECT unnest(ts) AS w FROM toks
), uc AS (
    SELECT w, count(*) AS c FROM uni GROUP BY w
), nb AS (
    SELECT sum(c_xy)::BIGINT AS n_big FROM big
)
SELECT b.w1, b.w2, b.c_xy, x.c AS c_x, y.c AS c_y, nb.n_big,
       CAST(b.c_xy AS DOUBLE) * nb.n_big / x.c / y.c AS score
FROM big b
JOIN uc x ON b.w1 = x.w
JOIN uc y ON b.w2 = y.w
CROSS JOIN nb
WHERE b.c_xy >= 5
ORDER BY score DESC, b.w1 ASC, b.w2 ASC
LIMIT 100
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids
    (operators/similarity.embedding_centroids): dimension-wise means
    with exact 2^20-scaled integer sums — float addition is
    order-dependent, so the SUM contract is integers.

    Round-7 fix (VERDICT r6 #1c) — root cause: the oracle emitted
    ``sum_scaled`` as a raw HUGEINT (DuckDB sum(BIGINT) promotes);
    int128 rendering is a client/build choice, so identical numbers
    hash differently in a foreign comparator (the r6 window's
    reds/greens split exactly on this type — lint family F). Fixed
    with ``::BIGINT``. Hardenings kept from the investigation: (a) the
    gate compares ONLY the exact-integer evidence (label, dim,
    sum_scaled, n) — the derived ``centroid`` double stays available
    on the operator for in-engine consumers; (b) the oracle unnests a
    single list of (dim, v) structs (the `range()` comprehension shape
    `pmi_collocations` proved driver-green) instead of zipping
    ``generate_subscripts`` with a same-SELECT ``unnest``, whose
    pairing is version-sensitive."""
    e = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    return sim.embedding_centroids(
        e, group_col="label", vec_col="embedding"
    ).select("label", "dim", "sum_scaled", "n")


SQL_EMBEDDING_CENTROIDS = """
WITH p0 AS (
    SELECT label,
           [{'dim': i - 1, 'v': embedding[i]}
            for i in range(1, len(embedding) + 1)] AS pairs
    FROM embeddings
), e AS (
    SELECT label, unnest(pairs, recursive := true) FROM p0
)
SELECT label, CAST(dim AS BIGINT) AS dim,
       sum(CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT))::BIGINT AS sum_scaled,
       count(*) AS n
FROM e GROUP BY label, dim
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents corpus
    (operators/text.inverted_index): per-token df / total tf / sorted
    ``doc:tf`` posting string, stopword lists deterministically
    truncated at 50 postings (df_docs still counts everything, so the
    cap is auditable)."""
    return tx.inverted_index(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), max_postings=50
    )


SQL_INVERTED_INDEX = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '')) AS token
    FROM documents
), nz AS (
    SELECT doc_id, token FROM toks WHERE token != ''
), per AS (
    SELECT token, doc_id, count(*) AS tf FROM nz GROUP BY token, doc_id
)
SELECT token,
       count(*) AS df_docs,
       sum(tf)::BIGINT AS total_tf,
       least(count(*), 50)::BIGINT AS n_postings,
       array_to_string(
           list_slice(list(doc_id || ':' || tf ORDER BY doc_id), 1, 50), ','
       ) AS postings
FROM per GROUP BY token
"""


def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch domain mixing (operators/sampling.epoch_upsample):
    src0 runs 2.5 epochs (2 copies + md5-coin third), src1 0.4 (md5
    keep), src2 exactly 3, everything else 1.0. The md5 draw makes the
    exact replica multiset engine-reproducible — DuckDB regenerates
    copy-for-copy, not just in expectation."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_upsample(
        d,
        domain_col="source",
        id_col="doc_id",
        epochs={"src0": 2.5, "src1": 0.4, "src2": 3.0},
        default_epochs=1.0,
        seed=7,
    )


# thresholds interpolated from the SAME helper the Spark side uses —
# a hand-transcribed hex literal was off by one ulp-of-hex ('66666665'
# vs the computed '66666666'), a latent ~2^-32/row copy-for-copy parity
# break (ADVICE r5 #1)
SQL_EPOCH_UPSAMPLE = f"""
WITH f(source, whole, thresh) AS (
    VALUES ('src0', 2, '{sampling._hex_threshold(0.5)}'),
           ('src1', 0, '{sampling._hex_threshold(0.4)}'),
           ('src2', 3, '00000000')
), base AS (
    SELECT d.doc_id, d.source,
           coalesce(f.whole, 1)
           + CASE WHEN substring(md5('epoch_upsample:7:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                       < coalesce(f.thresh, '00000000')
                  THEN 1 ELSE 0 END AS n
    FROM documents d LEFT JOIN f USING (source)
)
SELECT doc_id, source, CAST(unnest(range(0, n)) AS BIGINT) AS copy_idx
FROM base WHERE n > 0
"""


#: Fixed merge table for the bpe_tokenize gate — pinned (not learned at
#: build time) so the registry entry stays lazy and the output is a
#: stable contract; bpe_learn is exercised by its own tests. Common
#: English letter-pair merges, priority order.
BPE_GATE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("e", "r"), ("an", "d"), ("r", "e"), ("o", "r"), ("e", "n"),
    ("a", "t"), ("e", "s"), ("o", "u"), ("i", "s"), ("i", "t"),
    ("the", "m"), ("in", "g"), ("t", "o"),
]


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (operators/text.bpe_apply): greedy
    lowest-rank merge encoding of every document under the pinned
    BPE_GATE_MERGES table — the tokenizer-apply stage of an LLM
    pipeline, run as the designed Arrow ``mapInPandas`` path with a
    per-batch word memo (greedy merge loops are not expressible in
    Column algebra; DuckDB cannot mirror them either, so this entry is
    rows-only). Quantitative evidence in CORRECTNESS_local: bit-exact
    agreement with an INDEPENDENT sequential-replace reference
    implementation over the whole corpus, plus the n_words <=
    n_bpe_tokens <= n_chars sandwich."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.bpe_apply(d, BPE_GATE_MERGES)


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/skew.salted_join — the join
    counterpart to salted_agg): events(user_id) x customer, hot user
    keys salted across 8 reducer slots on the fact side and replicated
    8x on the dim side, cold keys untouched. The oracle contract IS the
    correctness guarantee: the salted plan's output is row-for-row
    identical to the plain inner join (every pair appears on exactly
    one salt), so DuckDB runs the PLAIN join. The low hot_threshold
    exercises both the hot (salted) and cold (salt-0) paths at fixture
    scale."""
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
    )
    out = salted_join(
        ev, cust, "user_id", n_salts=8, hot_threshold=20,
        unique_cols=["event_id"],  # deterministic salt from the row id
    )
    return out.select("event_id", "user_id", "event_type", "c_name", "c_nationkey")


SQL_SALTED_JOIN = """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_name, CAST(c.c_nationkey AS BIGINT) AS c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def q_join_blowup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew pre-flight profile for orders(o_custkey) x
    events(user_id) (operators/relational.join_blowup_profile): per key
    both sides' counts and the exact pair fan-out, top-20 by blow-up.
    Input rows never meet — the join runs on pre-aggregated (key,count)
    frames."""
    from ..operators.relational import join_blowup_profile

    return join_blowup_profile(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "events"),
        left_key="o_custkey",
        right_key="user_id",
        top=20,
    )


SQL_JOIN_BLOWUP = """
WITH cl AS (
    SELECT o_custkey AS key, count(*) AS c_left FROM orders GROUP BY 1
), cr AS (
    SELECT user_id AS key, count(*) AS c_right FROM events GROUP BY 1
)
SELECT cl.key, cl.c_left, cr.c_right, cl.c_left * cr.c_right AS pairs
FROM cl JOIN cr USING (key)
ORDER BY pairs DESC, key ASC
LIMIT 20
"""


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall set-similarity self-join at Jaccard >= 0.6 over
    word-bigram shingle sets (operators/dedup.setsim_join, PPJoin-style
    prefix filtering): the oracle is the exhaustive quadratic scan, so
    the prefix filter's zero-miss guarantee is checked, not asserted.
    Both engines cap to doc_id < 1000 so the ORACLE stays affordable at
    larger sf (the Spark side needs no cap — its work scales with
    prefix-bucket density)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    return dd.setsim_join(d, id_col="doc_id", text_col="text", tau_num=6, tau_den=10)


SQL_SETSIM_JOIN = r"""
WITH d AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 1000
), toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM d
), sets AS (
    SELECT doc_id,
           list_distinct([ ts[i] || ' ' || ts[i+1] for i in range(1, len(ts)) ]) AS s
    FROM toks
), nz AS (
    SELECT * FROM sets WHERE len(s) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s))::BIGINT AS inter_size,
       (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::BIGINT AS union_size
FROM nz a, nz b
WHERE a.doc_id < b.doc_id
  AND 10 * len(list_intersect(a.s, b.s))
      >= 6 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
"""


def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (operators/stats.fd_profile) over
    three candidate dependencies a WordPress-style migration would key
    target tables on: orderkey->custkey (a real key, holds),
    custkey->mktsegment (holds), custkey->orderpriority across their
    orders (breaks — customers change priorities). Exact integer
    verdicts; one two-level aggregation per spec."""
    from ..operators.stats import fd_profile

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return fd_profile(
        [
            ("orders.o_orderkey->o_custkey", o, "o_orderkey", "o_custkey"),
            ("customer.c_custkey->c_mktsegment", c, "c_custkey", "c_mktsegment"),
            ("orders.o_custkey->o_orderpriority", o, "o_custkey", "o_orderpriority"),
        ]
    )


SQL_FD_PROFILE = """
WITH s1 AS (
    SELECT 'orders.o_orderkey->o_custkey' AS relation, l, count(*) AS n_rhs
    FROM (SELECT DISTINCT o_orderkey AS l, o_custkey AS r FROM orders) GROUP BY 1, 2
), s2 AS (
    SELECT 'customer.c_custkey->c_mktsegment' AS relation, l, count(*) AS n_rhs
    FROM (SELECT DISTINCT c_custkey AS l, c_mktsegment AS r FROM customer) GROUP BY 1, 2
), s3 AS (
    SELECT 'orders.o_custkey->o_orderpriority' AS relation, l, count(*) AS n_rhs
    FROM (SELECT DISTINCT o_custkey AS l, o_orderpriority AS r FROM orders) GROUP BY 1, 2
), u AS (
    SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
)
SELECT relation,
       count(*) AS n_lhs,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating_lhs,
       max(n_rhs) AS max_rhs_per_lhs
FROM u GROUP BY relation
"""


def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus trigrams with Kneser-Ney continuation evidence
    (operators/text.ngram_lm_counts): exact integer counts only; every
    derived quantity aggregates the already-aggregated trigram frame
    (one corpus scan, one trigram shuffle)."""
    return tx.ngram_lm_counts(
        _t(spark, sf_dir, "documents").select("text"), min_count=2, top=200
    )


SQL_NGRAM_LM = r"""
WITH toks AS (
    SELECT list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM documents
), t0 AS (
    SELECT [ {'w1': ts[i], 'w2': ts[i+1], 'w3': ts[i+2]}
             for i in range(1, len(ts)-1) ] AS gs
    FROM toks
), g AS (
    SELECT unnest(gs, recursive := true) FROM t0
), tri AS (
    SELECT w1, w2, w3, count(*) AS c_xyz FROM g GROUP BY w1, w2, w3
), prefix AS (
    SELECT w1, w2, sum(c_xyz)::BIGINT AS c_xy, count(*) AS n_right
    FROM tri GROUP BY w1, w2
), lft AS (
    SELECT w2, w3, count(*) AS n_left FROM tri GROUP BY w2, w3
)
SELECT tri.w1, tri.w2, tri.w3, tri.c_xyz, prefix.c_xy, prefix.n_right, lft.n_left
FROM tri
JOIN prefix USING (w1, w2)
JOIN lft USING (w2, w3)
WHERE tri.c_xyz >= 2
ORDER BY tri.c_xyz DESC, tri.w1 ASC, tri.w2 ASC, tri.w3 ASC
LIMIT 200
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL normalization (functions/urls.url_normalize) over
    six synthesized shapes: case-folded scheme/host, default-port strip
    (:80/:443 kept for non-defaults), userinfo drop, empty-path -> '/',
    tracking-param drop + byte-sorted query, fragment drop; non-URLs
    normalize to ''."""
    from wordpress_sql_to_contentstack_exporter_spark.functions import urls as U

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("HTTP://Blog.Example.COM:80/a/"), sid,
                        F.lit("?utm_source=x&b=2&a=1#frag")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("https://site.org:443/p/"), sid))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("https://user:pw@shop.net:8443"), F.lit("?z=9&ref=feed&y="), sid))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("http://www.example.co.uk/x/"), sid,
                       F.lit("?gclid=123&q=spark&fbclid=9")))
        .when(F.col("doc_id") % 6 == 4,
              F.concat(F.lit("ftp://Files.net:21/pub/"), sid))
        .otherwise(F.concat(F.lit("no scheme here "), sid))
    )
    with_url = d.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id", "url", U.url_normalize(F.col("url")).alias("url_norm")
    )


SQL_URL_NORMALIZE = r"""
WITH u AS (
    SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'HTTP://Blog.Example.COM:80/a/' || doc_id || '?utm_source=x&b=2&a=1#frag'
             WHEN 1 THEN 'https://site.org:443/p/' || doc_id
             WHEN 2 THEN 'https://user:pw@shop.net:8443' || '?z=9&ref=feed&y=' || doc_id
             WHEN 3 THEN 'http://www.example.co.uk/x/' || doc_id || '?gclid=123&q=spark&fbclid=9'
             WHEN 4 THEN 'ftp://Files.net:21/pub/' || doc_id
             ELSE 'no scheme here ' || doc_id
           END AS url
    FROM documents
), parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1)) AS host,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?[^:/?#]+:([0-9]+)', 1) AS port,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query
    FROM u
), norm AS (
    SELECT doc_id, url, scheme, host, port,
           CASE WHEN path = '' THEN '/' ELSE path END AS path,
           array_to_string(
               list_sort(
                   list_filter(string_split(query, '&'),
                       p -> p != '' AND NOT starts_with(p, 'utm_')
                            AND NOT starts_with(p, 'ref=')
                            AND NOT starts_with(p, 'fbclid=')
                            AND NOT starts_with(p, 'gclid=')
                            AND NOT starts_with(p, 'mc_cid=')
                            AND NOT starts_with(p, 'mc_eid='))),
               '&') AS qnorm,
           (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443') AS defport
    FROM parts
)
SELECT doc_id, url,
       CASE WHEN scheme = '' OR host = '' THEN ''
            ELSE scheme || '://' || host
                 || CASE WHEN port != '' AND NOT defport THEN ':' || port ELSE '' END
                 || path
                 || CASE WHEN qnorm != '' THEN '?' || qnorm ELSE '' END
       END AS url_norm
FROM norm
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression permille
    (operators/text.compression_signals) — rows-only by necessity
    (DuckDB has no zlib); tools/oracle_check.py records signal-validity
    evidence: repetition-flagged docs must compress below unflagged
    ones. Arrow mapInPandas, zero shuffles."""
    return tx.compression_signals(_t(spark, sf_dir, "documents"))


def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per (user, day), encode the ordered event
    stream as a character string (v/c/p/s/e) and pattern-match with a
    plain regex — view, then click, then purchase, with NO error
    anywhere between (``v[^e]*c[^e]*p``). The CEP-style sequence
    pattern engines bolt on as MATCH_RECOGNIZE is, in Spark, a
    collect-sort-concat plus a codegen'd ``rlike``/``regexp_extract``
    over bounded per-group strings.

    Plan: ONE shuffle on (user_id, day); the per-group string is
    deterministic (sort_array over (ts, event_id) structs) and bounded
    by the day cut + a 1000-event slice (documented cap — a runaway
    session cannot blow group state). Integer/boolean outputs only.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp"))
        / F.lit(86400 * 1_000_000).cast("long")
    ).cast("long")
    base = e.select(
        "user_id",
        day.alias("day"),
        # integer-micros sort key, not the raw timestamp: identical
        # cross-engine even if one engine decodes parquet timestamps at
        # a different precision (rolling_anomaly hardening, r7)
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("event_id"),
            code.alias("c"),
        ).alias("s"),
    )
    seqs = base.groupBy("user_id", "day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.slice(F.array_sort(F.collect_list("s")), 1, 1000),
                lambda s: s["c"],
            ),
        ).alias("seq")
    )
    pat = "v[^e]*c[^e]*p"
    return seqs.select(
        "user_id",
        "day",
        F.length("seq").cast("long").alias("seq_len"),
        F.col("seq").rlike(pat).alias("matched"),
        F.regexp_extract("seq", pat, 0).alias("first_match"),
    )


SQL_EVENT_PATTERN = """
WITH e AS (
    SELECT user_id,
           CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
           ts, event_id,
           CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                           WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                           ELSE 'e' END AS c
    FROM events WHERE ts IS NOT NULL
), seqs AS (
    SELECT user_id, day,
           substring(string_agg(c, '' ORDER BY epoch_us(ts), event_id), 1, 1000) AS seq
    FROM e GROUP BY user_id, day
)
SELECT user_id, day,
       length(seq)::BIGINT AS seq_len,
       regexp_matches(seq, 'v[^e]*c[^e]*p') AS matched,
       coalesce(regexp_extract(seq, 'v[^e]*c[^e]*p', 0), '') AS first_match
FROM seqs
"""


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution: a synthesized dirty copy of
    the customer table (every 3rd name gets a one-char typo, every 5th
    nation drifts) is matched back to the reference via
    operators/dedup.fuzzy_join_d1 (deletion-neighborhood blocking —
    never an all-pairs scan), then scored with integer field weights
    (name distance 20/10, nation +5, segment +3) and resolved to the
    best reference row per dirty record (score desc, custkey asc).
    Both engines cap to c_custkey < 2000 to bound the ORACLE's
    quadratic form."""
    ref = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    )
    p = (F.col("c_custkey") % 8 + 11).cast("int")
    mutated = F.concat(
        F.substring(F.col("c_name"), F.lit(1), p - 1),
        F.lit("z"),
        F.substring(F.col("c_name"), p + 1, F.length(F.col("c_name"))),
    )
    dirty = ref.select(
        (F.col("c_custkey") + 100000).alias("dirty_id"),
        F.when(F.col("c_custkey") % 3 == 0, mutated)
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_nationkey") + 1)
        .otherwise(F.col("c_nationkey"))
        .alias("d_nationkey"),
        F.col("c_mktsegment").alias("d_mktsegment"),
    )
    pairs = dd.fuzzy_join_d1(
        dirty, ref, left_id="dirty_id", right_id="c_custkey", text_col="c_name"
    )
    scored = (
        pairs.join(
            dirty.select("dirty_id", "d_nationkey", "d_mktsegment"), "dirty_id"
        )
        .join(ref.select("c_custkey", "c_nationkey", "c_mktsegment"), "c_custkey")
        .withColumn(
            "score",
            F.when(F.col("dist") == 0, 20).otherwise(10)
            + F.when(F.col("d_nationkey") == F.col("c_nationkey"), 5).otherwise(0)
            + F.when(F.col("d_mktsegment") == F.col("c_mktsegment"), 3).otherwise(0),
        )
    )
    w = Window.partitionBy("dirty_id").orderBy(
        F.col("score").desc(), F.col("c_custkey").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dirty_id", "c_custkey", "dist", F.col("score").cast("long").alias("score"))
    )


SQL_RECORD_LINKAGE = """
WITH ref AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey < 2000
), dirty AS (
    SELECT c_custkey + 100000 AS dirty_id,
           CASE WHEN c_custkey % 3 = 0
                THEN substring(c_name, 1, (c_custkey % 8 + 11) - 1) || 'z'
                     || substring(c_name, (c_custkey % 8 + 11) + 1, length(c_name))
                ELSE c_name END AS c_name,
           CASE WHEN c_custkey % 5 = 0 THEN c_nationkey + 1
                ELSE c_nationkey END AS d_nationkey,
           c_mktsegment AS d_mktsegment
    FROM ref
), pairs AS (
    SELECT d.dirty_id, r.c_custkey,
           levenshtein(d.c_name, r.c_name)::BIGINT AS dist,
           d.d_nationkey, d.d_mktsegment, r.c_nationkey, r.c_mktsegment
    FROM dirty d, ref r
    WHERE abs(length(d.c_name) - length(r.c_name)) <= 1
      AND levenshtein(d.c_name, r.c_name) <= 1
), scored AS (
    SELECT dirty_id, c_custkey, dist,
           (CASE WHEN dist = 0 THEN 20 ELSE 10 END
            + CASE WHEN d_nationkey = c_nationkey THEN 5 ELSE 0 END
            + CASE WHEN d_mktsegment = c_mktsegment THEN 3 ELSE 0 END)::BIGINT AS score
    FROM pairs
)
SELECT dirty_id, c_custkey, dist, score FROM scored
QUALIFY row_number() OVER (PARTITION BY dirty_id ORDER BY score DESC, c_custkey ASC) = 1
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped winsorization: per market segment, order totals (integer
    cents) are clipped to the segment's exact discrete [p05, p95]
    (q_percentiles' lower-rank definition — pure integer selection, no
    interpolation) and re-aggregated. The outlier-taming pass feature
    pipelines run before scaling; every output is a long.

    Plan: percentile bounds come from ONE per-segment aggregation
    (sort of the segment's aggregated value list); the clip is the
    fact scan joined to those few bound rows (broadcast) — map-only on
    the fact side; the final rollup is a second small aggregation."""
    o = _t(spark, sf_dir, "orders").join(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v = o.select(F.col("c_mktsegment").alias("seg"), cents.alias("v"))
    arr = F.sort_array(F.collect_list("v"))
    n1 = F.count(F.lit(1)) - 1
    bounds = v.groupBy("seg").agg(
        F.element_at(arr, (F.floor(n1 / 20) + 1).cast("int")).alias("lo"),
        F.element_at(arr, (F.floor(n1 * 19 / 20) + 1).cast("int")).alias("hi"),
    )
    clipped = v.join(F.broadcast(bounds), "seg").select(
        "seg",
        "v",
        "lo",
        "hi",
        F.greatest(F.least(F.col("v"), F.col("hi")), F.col("lo")).alias("w"),
    )
    return clipped.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_high"),
        F.sum("w").alias("sum_winsorized_cents"),
        F.min("lo").alias("p05_cents"),
        F.min("hi").alias("p95_cents"),
    )


SQL_WINSORIZE = """
WITH v AS (
    SELECT c.c_mktsegment AS seg,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), b AS (
    SELECT seg,
           vs[CAST((n - 1) // 20 AS BIGINT) + 1] AS lo,
           vs[CAST((n - 1) * 19 // 20 AS BIGINT) + 1] AS hi
    FROM (SELECT seg, count(*) AS n, list_sort(list(v)) AS vs FROM v GROUP BY seg)
), c AS (
    SELECT v.seg, v.v, b.lo, b.hi,
           greatest(least(v.v, b.hi), b.lo) AS w
    FROM v JOIN b USING (seg)
)
SELECT seg,
       count(*) AS n,
       sum(CASE WHEN v < lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_low,
       sum(CASE WHEN v > hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_high,
       sum(w)::BIGINT AS sum_winsorized_cents,
       min(lo) AS p05_cents,
       min(hi) AS p95_cents
FROM c GROUP BY seg
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup in ONE scan: per event type,
    counts and integer-milli value sums at hour, day and week
    granularity simultaneously — the continuous-aggregate ladder
    hypertables maintain. Instead of three scans (UNION ALL of three
    GROUP BYs) or GROUPING SETS (which still replicates rows
    internally), each event explodes to its three (granularity,
    bucket_epoch) pairs — JVM-side array explode — and ONE partial-
    agg'd shuffle on (type, gran, bucket) does the rest. 3× map-side
    rows, one exchange, zero extra scans (pinned by explain_audit).
    All outputs are longs (epoch seconds / counts / milli sums)."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    sec = F.floor(us / F.lit(1_000_000).cast("long")).cast("long")
    v_milli = F.round(F.col("value") * 1000).cast("long")

    def bucket(width: int, name: str):
        return F.struct(
            F.lit(name).alias("gran"),
            (F.floor(sec / F.lit(width)) * width).cast("long").alias("bucket_epoch"),
        )

    exploded = e.select(
        "event_type",
        v_milli.alias("vm"),
        F.explode(
            F.array(bucket(3600, "hour"), bucket(86400, "day"), bucket(604800, "week"))
        ).alias("g"),
    )
    return exploded.groupBy(
        "event_type", F.col("g.gran").alias("gran"), F.col("g.bucket_epoch").alias("bucket_epoch")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vm").alias("sum_value_milli"),
    )


SQL_TIME_ROLLUP = """
WITH e AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
           CAST(round(value * 1000) AS BIGINT) AS vm
    FROM events WHERE ts IS NOT NULL
), x AS (
    SELECT event_type, vm, 'hour' AS gran, (sec // 3600) * 3600 AS bucket_epoch FROM e
    UNION ALL
    SELECT event_type, vm, 'day', (sec // 86400) * 86400 FROM e
    UNION ALL
    SELECT event_type, vm, 'week', (sec // 604800) * 604800 FROM e
)
SELECT event_type, gran, bucket_epoch,
       count(*) AS n_events,
       sum(vm)::BIGINT AS sum_value_milli
FROM x GROUP BY event_type, gran, bucket_epoch
"""


def q_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-cluster keeper selection
    (operators/graph.cluster_representatives): the q_dedup_clusters
    chain clusters re-resolved to keep each cluster's LONGEST document
    (n_chars desc, doc_id asc tie) — the real curation policy, vs the
    min-id placeholder. Argmax is a map-combinable max(struct) — no
    per-cluster window sort."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ids = d.select("doc_id")
    a, b = ids.alias("a"), ids.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(F.col("a.doc_id") % 5 != 4)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    clusters = gr.dedup_clusters(pairs, ids).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    return gr.cluster_representatives(
        clusters, d, id_col="doc_id", quality_col="n_chars"
    )


SQL_CLUSTER_KEEPERS = """
WITH RECURSIVE
e0 AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
    WHERE a.doc_id % 5 != 4
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(id, r) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
assign AS (
    SELECT d.doc_id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id, d.n_chars
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
),
winners AS (
    SELECT cluster_id, doc_id AS keeper_id FROM assign
    QUALIFY row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id ASC) = 1
)
SELECT a.doc_id, a.cluster_id, w.keeper_id,
       a.doc_id = w.keeper_id AS is_keeper
FROM assign a JOIN winners w USING (cluster_id)
"""


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid cosine matrix: class prototypes from
    embedding_centroids (exact integer sums -> bit-identical centroid
    doubles) rebuilt into per-label vectors, then all label pairs
    scored with the proven-bit-exact cosine formula (sequential fold
    dot, correctly-rounded sqrt/divide — the embedding_neardup_exact
    contract). The pair frame is |labels|² of AGGREGATED rows — the
    cross join is the tiny-frame pattern, never touching input rows.
    The embedding-space diagnostic for label bleed / near-duplicate
    classes."""
    cents = sim.embedding_centroids(
        _t(spark, sf_dir, "embeddings").select("label", "embedding"),
        group_col="label",
        vec_col="embedding",
    )
    vecs = cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda s: s["centroid"],
        ).alias("v")
    )
    a = vecs.select(F.col("label").alias("label_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("label").alias("label_b"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a", "label_b", sim.cosine(F.col("va"), F.col("vb")).alias("cos_sim")
    )


SQL_CENTROID_SIMILARITY = """
WITH p0 AS (
    -- single struct-list unnest, NOT the generate_subscripts+unnest
    -- same-SELECT zip, whose pairing is DuckDB-version-sensitive
    -- (embedding_centroids hardening, VERDICT r6 #1c)
    SELECT label,
           [{'dim': i - 1, 'v': embedding[i]}
            for i in range(1, len(embedding) + 1)] AS pairs
    FROM embeddings
), e AS (
    SELECT label, unnest(pairs, recursive := true) FROM p0
), s AS (
    SELECT label, dim,
           sum(CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS sum_scaled,
           count(*) AS n
    FROM e GROUP BY label, dim
), c AS (
    SELECT label, dim, CAST(sum_scaled AS DOUBLE) / n / 1048576 AS centroid
    FROM s
), vecs AS (
    SELECT label, list(centroid ORDER BY dim) AS v FROM c GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
            THEN list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            ELSE 0.0 END AS cos_sim
FROM vecs a, vecs b
WHERE a.label < b.label
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: per source pair, how many
    distinct word 3-grams they share (dedup-family canonical
    tokenization) plus each side's distinct-gram total and the
    containment ratio vs the smaller side (one fixed-order division —
    bit-exact). The corpus-health diagnostic that finds mirrored /
    syndicated content BETWEEN sources before per-doc dedup runs.

    Plan: distinct (source, gram) rows once (hash-keyed aggregation),
    pair counts from a gram-keyed self-join — fan-out is bounded by
    |sources|² per gram, never document-quadratic; totals join on as
    a |sources|-row broadcast.

    The distinct-gram frame feeds THREE consumers (totals, and both
    sides of the self-join), so it is lazily localCheckpoint-ed —
    without it the corpus scan + tokenize + shingle + distinct pass
    runs three times (the triple-recompute class first fixed in
    ``setsim_join``; VERDICT r8 #5 measured this query at 9.5x DuckDB
    where the family norm is 2-4x, entirely the re-derivation).

    Plan rework (round 9): the original shape — distinct (src, gk)
    rows checkpointed, then a gk-keyed SELF-JOIN — re-shuffled the full
    distinct-gram frame twice more, because a localCheckpoint's
    ``Scan ExistingRDD`` reports UnknownPartitioning: the join cannot
    see the exchange it sits on (measured 7.3 s at sf0.1, ratio stuck
    at ~10x DuckDB across two rounds). The self-join is gone entirely:
    ONE ``groupBy(gk).collect_set(src)`` aggregation (map-side partial
    set union, so the exchange carries ~|distinct (gk, src)| rows —
    the same volume the old distinct shuffled once) produces each
    gram's source set, pair counts come from an IN-ARRAY combination
    expansion (JVM transform/slice/flatten — fan-out |sources|² per
    gram, as before), and per-source totals from exploding the same
    sets. The checkpointed per-gram frame is |distinct grams| rows;
    everything downstream shuffles only |sources|-scale aggregates.
    Measured: 6.0 s → 2.1 s warm at sf0.1 (plan pin in
    explain_audit)."""
    from ..sources.catalog import spread_small_scan

    # spread: the shingle pass is the wall here (measured 6.3 s of the
    # 6.9 s total ran on ONE task off the single-row-group fixture file)
    d = spread_small_scan(_t(spark, sf_dir, "documents"))
    per_gram = (
        d.select(
            F.col("source").alias("src"),
            F.explode(dd.word_shingles(F.col("text"), 3)).alias("g"),
        )
        .select("src", F.xxhash64("g").alias("gk"))
        .groupBy("gk")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .localCheckpoint(eager=False)
    )
    totals = (
        per_gram.select(F.explode("srcs").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nsrc = F.size(F.col("srcs"))
    combos = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, nsrc),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    pairs = (
        per_gram.select(F.explode(combos).alias("p"))
        .select(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
    )
    return (
        pairs.join(
            F.broadcast(totals.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(totals.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "overlap_grams",
            "n_a",
            "n_b",
            (
                F.col("overlap_grams").cast("double")
                / F.least("n_a", "n_b")
            ).alias("containment"),
        )
    )


SQL_SOURCE_OVERLAP = r"""
WITH w AS (
    SELECT source AS src,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ws
    FROM documents
), g0 AS (
    SELECT src,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS g
    FROM w
), g AS (
    SELECT DISTINCT src, g FROM g0
), totals AS (
    SELECT src, count(*) AS n FROM g GROUP BY src
), pairs AS (
    SELECT a.src AS src_a, b.src AS src_b, count(*) AS overlap_grams
    FROM g a JOIN g b ON a.g = b.g AND a.src < b.src
    GROUP BY a.src, b.src
)
SELECT p.src_a, p.src_b, p.overlap_grams, ta.n AS n_a, tb.n AS n_b,
       CAST(p.overlap_grams AS DOUBLE) / least(ta.n, tb.n) AS containment
FROM pairs p
JOIN totals ta ON p.src_a = ta.src
JOIN totals tb ON p.src_b = tb.src
"""


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two table snapshots: all orders vs
    the pre-cutoff snapshot, binned into 20 SHARED equal-width bins
    (bounds from the union — both sides bin identically, the
    comparability histogram_drift exists for), with per-bin counts and
    an INTEGER drift rule: bin proportions differing by more than one
    percentage point flag, decided by cross-multiplication
    ``100*|n_a*N_b - n_b*N_a| > N_a*N_b`` — no float proportion ever
    compared. The distribution-shift monitor a migration runs between
    source pulls. Overflow budget: n*N products stay under 2^63 up to
    ~3e9-row snapshots; beyond that, pre-scale counts (the documented
    trade).

    Plan: TWO scans total (the audit's pinned budget): one for the
    1-row bounds+totals aggregate (min/max/count/sum share one pass —
    a separate totals re-aggregation would re-derive per_bin and scan
    the table twice more, the defect the plan audit caught in its
    first version), one for the binning aggregation; the 1-row frame
    broadcasts into both consumers."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    both = o.select(
        cents.alias("v"),
        F.when(F.col("o_orderdate") < cutoff, 1).otherwise(0).alias("in_b"),
    ).filter(F.col("v").isNotNull())
    bounds = both.agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("tot_a"),
        F.sum("in_b").cast("long").alias("tot_b"),
    )
    span = F.col("mx") - F.col("mn") + 1
    binned = both.join(F.broadcast(bounds)).select(
        F.floor(((F.col("v") - F.col("mn")) * 20) / span).cast("long").alias("bin"),
        "in_b",
        "tot_a",
        "tot_b",
    )
    per_bin = binned.groupBy("bin", "tot_a", "tot_b").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
    )
    return per_bin.select(
        "bin",
        "n_a",
        "n_b",
        (
            100 * F.abs(F.col("n_a") * F.col("tot_b") - F.col("n_b") * F.col("tot_a"))
            > F.col("tot_a") * F.col("tot_b")
        ).alias("drifted"),
    )


SQL_HISTOGRAM_DRIFT = """
WITH v AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
           CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END AS in_b
    FROM orders WHERE o_totalprice IS NOT NULL
), b AS (
    SELECT min(v) AS mn, max(v) AS mx FROM v
), binned AS (
    SELECT ((v.v - b.mn) * 20) // (b.mx - b.mn + 1) AS bin, v.in_b
    FROM v CROSS JOIN b
), per_bin AS (
    SELECT bin, count(*) AS n_a, sum(in_b)::BIGINT AS n_b
    FROM binned GROUP BY bin
), t AS (
    SELECT sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b FROM per_bin
)
SELECT p.bin, p.n_a, p.n_b,
       100 * abs(p.n_a * t.tot_b - p.n_b * t.tot_a) > t.tot_a * t.tot_b AS drifted
FROM per_bin p CROSS JOIN t
"""


def q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation modal market segment. Two-level: (nation, segment)
    counts first (map-side combined), then max-count per nation joined
    back and ties resolved to the lexicographically smallest segment —
    a struct-argmax can't express "max count then MIN string" without
    fragile string-inversion tricks, so the deterministic form is the
    join-back over the aggregated |nations x segments| frame (tiny).
    Output: nation name, modal segment, its count."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = counts.groupBy("n_name").agg(F.max("cnt").alias("best"))
    return (
        counts.join(best, "n_name")
        .filter(F.col("cnt") == F.col("best"))
        .groupBy("n_name")
        .agg(
            F.min("c_mktsegment").alias("modal_segment"),
            F.min("cnt").alias("n"),
        )
    )


SQL_GROUPED_MODE = """
WITH counts AS (
    SELECT n.n_name, c.c_mktsegment, count(*) AS cnt
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, c.c_mktsegment
), best AS (
    SELECT n_name, max(cnt) AS best FROM counts GROUP BY n_name
)
SELECT c.n_name, min(c.c_mktsegment) AS modal_segment, min(c.cnt) AS n
FROM counts c JOIN best b ON c.n_name = b.n_name AND c.cnt = b.best
GROUP BY c.n_name
"""


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation SUFFICIENT STATISTICS per market segment for
    (order total, customer balance): exact integer-cents sums
    (n, Σx, Σy, Σxy, Σx², Σy²) — everything Pearson r needs, with
    zero floats in the contract (a derived r would drag sqrt-of-big-
    product ULP questions into the hash; the sufficient statistics ARE
    the mergeable artifact a monitoring pipeline stores and combines).
    One join + one map-combined aggregation.

    The squared-term sums accumulate as DECIMAL(38,0): cents² is
    ~4e15 per row, so a long Σx² overflows around 2,000 rows of
    top-end prices — ANSI mode surfaced exactly that at sf0.1 (the
    overflow the silent-wraparound default would have turned into
    corrupt statistics). DuckDB reaches the same values via its
    HUGEINT sum promotion, and the contract EMITS the three product
    sums as STRINGS: the r6 blanket ::BIGINT fix applied here turned
    out to be its own overflow at sf0.1 (Σx² ≈ 2.5e19 > 2^63 — the
    round-7 both-scales sweep caught the ConversionException), and
    plain-integer stringification is the one rendering of a >64-bit
    exact integer every engine/client agrees on (and the type gate
    accepts)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    x = F.round(F.col("o_totalprice") * 100).cast("long")
    y = F.round(F.col("c_acctbal") * 100).cast("long")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", x.alias("x"), y.alias("y")
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(xd * yd).cast("decimal(38,0)").cast("string").alias("sum_xy"),
        F.sum(xd * xd).cast("decimal(38,0)").cast("string").alias("sum_xx"),
        F.sum(yd * yd).cast("decimal(38,0)").cast("string").alias("sum_yy"),
    )


SQL_CORR_STATS = """
WITH j AS (
    SELECT c.c_mktsegment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS x,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, count(*) AS n,
       sum(x)::BIGINT AS sum_x, sum(y)::BIGINT AS sum_y,
       sum(x * y)::VARCHAR AS sum_xy,
       sum(x * x)::VARCHAR AS sum_xx,
       sum(y * y)::VARCHAR AS sum_yy
FROM j GROUP BY c_mktsegment
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition: the whole training-data curation
    pipeline as ONE lazy DAG — quality gate -> exact dedup -> MinHash
    near-dup clustering -> quality-aware keeper selection -> corpus
    accounting. Every stage is an operator this engine ships
    (quality_features, exact_dedup, minhash_lsh_candidates,
    dedup_clusters, cluster_representatives); Catalyst sees the whole
    graph at once, so filters prune before signatures are computed and
    nothing materializes between stages.

    Corpus: documents + perturbed near-dup copies (+1M ids, the
    minhash gate's construction) so every stage has real work. Output:
    one row of exact stage counts — n_input, n_quality (>= 30 BPE
    tokens), n_after_exact (content-hash keepers), n_pairs (portable
    MinHash candidates among survivors), n_clusters, n_final (near-dup
    cluster keepers by n_chars; one keeper per cluster, so n_final ==
    n_clusters in both engines by construction).

    ORACLE-BACKED since round 14 (VERDICT r13 #6, the census's last
    convertible row): the near-dup stage moved from the xxhash64 LSH
    to the PORTABLE md5 MinHash family at the shared 16x4 geometry
    (min_agree 15 ~ the old min_est_jaccard 0.9 as an integer gate),
    the same upstream swap dedup_calibration made in round 13 — so
    every stage now has a DuckDB mirror: the text_quality BPE-regex
    gate, the sha256 exact-dedup keeper join, the shared
    _MH_PAIR_CHAIN signature/band/candidate CTEs over the SURVIVOR
    corpus, and connected components as a recursive-CTE min-label
    transitive closure (exact fixpoint — UNION-dedup recursion, no
    fixed-round approximation needed at fixture cluster sizes).
    Determinism + the monotone ladder remain pinned by test."""
    d = _t(spark, sf_dir, "documents")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near-dup-suffix")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(perturbed)

    quality = tx.quality_features(corpus).filter(
        F.col("q_bpe_tokens") >= _CP_MIN_BPE
    )
    survivors = quality.select("doc_id", "text", F.length("text").alias("n_chars"))

    exact = dd.exact_dedup(survivors)  # (content_hash, keeper_id, n_copies)
    exact_kept = survivors.join(
        exact.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
    )

    pairs = dd.minhash_portable_pairs(
        exact_kept, num_hashes=_MH_NUM_HASHES, bands=_MH_BANDS,
        shingle_k=_MH_SHINGLE_K, min_agree=_CP_MIN_AGREE,
        max_bucket_size=_MH_BUCKET_CAP,
    ).select(F.col("doc_id_a").alias("id_a"), F.col("doc_id_b").alias("id_b"))
    clusters = gr.dedup_clusters(
        pairs.select("id_a", "id_b"), exact_kept.select("doc_id")
    ).select(F.col("id").alias("doc_id"), "cluster_id")
    keepers = gr.cluster_representatives(
        clusters, exact_kept.select("doc_id", "n_chars"),
        id_col="doc_id", quality_col="n_chars",
    ).filter(F.col("is_keeper"))

    n_input = corpus.agg(F.count(F.lit(1)).alias("n_input"))
    n_quality = quality.agg(F.count(F.lit(1)).alias("n_quality"))
    n_exact = exact_kept.agg(F.count(F.lit(1)).alias("n_after_exact"))
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    n_clusters = clusters.agg(
        F.countDistinct("cluster_id").alias("n_clusters")
    )
    n_final = keepers.agg(F.count(F.lit(1)).alias("n_final"))
    return (
        n_input.join(n_quality)
        .join(n_exact)
        .join(n_pairs)
        .join(n_clusters)
        .join(n_final)
    )


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus halves (doc_id parity as the
    deterministic snapshot split): per token appearing >= 5 times
    total, occurrence counts in each half and the integer drift rule
    ``100*|n_a*N_b - n_b*N_a| > N_a*N_b`` (token share moved by more
    than a percentage point — histogram_drift's rule applied to
    token distributions; no float proportion ever compared). The
    data-shift monitor for text pipelines: tokenizer/vocab rot shows
    up here before it shows up in model metrics.

    Plan: one scan, one token hash aggregation with conditional sums,
    1-row totals fused into a broadcast (the two-scan budget
    histogram_drift pinned)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(F.split(portable_lower(F.trim(F.col("text"))), PORTABLE_WS_PLUS)).alias("token"),
    ).filter(F.col("token") != "")
    per_tok = toks.groupBy("token").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("n_b"),
    )
    totals = per_tok.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    return (
        per_tok.filter(F.col("n_a") + F.col("n_b") >= 5)
        .join(F.broadcast(totals))
        .select(
            "token",
            "n_a",
            "n_b",
            (
                100
                * F.abs(
                    F.col("n_a") * F.col("tot_b") - F.col("n_b") * F.col("tot_a")
                )
                > F.col("tot_a") * F.col("tot_b")
            ).alias("drifted"),
        )
    )


SQL_VOCAB_DRIFT = r"""
WITH toks AS (
    SELECT doc_id % 2 = 0 AS in_a,
           unnest(list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '')) AS token
    FROM documents
), nz AS (
    SELECT in_a, token FROM toks WHERE token != ''
), per_tok AS (
    SELECT token,
           sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
           sum(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS n_b
    FROM nz GROUP BY token
), t AS (
    SELECT sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b FROM per_tok
)
SELECT p.token, p.n_a, p.n_b,
       100 * abs(p.n_a * t.tot_b - p.n_b * t.tot_a) > t.tot_a * t.tot_b AS drifted
FROM per_tok p CROSS JOIN t
WHERE p.n_a + p.n_b >= 5
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (operators/graph.triangle_count) over a
    deterministic synthetic graph on document ids: chain edges
    (i, i+1) plus jump edges (i, i+2) within blocks of 10, so every
    interior triple (i, i+1, i+2) closes a triangle. Degree-ordered
    orientation bounds wedge fan-out; the oracle counts the same
    triangles with a 3-way self-join in DuckDB."""
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    a = ids.alias("a")
    b = ids.alias("b")
    chain = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(F.col("a.doc_id") % 10 != 9)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    jump = (
        a.join(b, F.col("a.doc_id") + 2 == F.col("b.doc_id"))
        .filter(F.col("a.doc_id") % 10 < 8)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    return gr.triangle_count(chain.unionByName(jump))


SQL_TRIANGLE_COUNT = """
WITH ids AS (SELECT doc_id FROM documents),
chain AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM ids a JOIN ids b ON a.doc_id + 1 = b.doc_id
    WHERE a.doc_id % 10 != 9
),
jump AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM ids a JOIN ids b ON a.doc_id + 2 = b.doc_id
    WHERE a.doc_id % 10 < 8
),
e AS (SELECT DISTINCT u, v FROM (SELECT * FROM chain UNION ALL SELECT * FROM jump)),
nodes AS (
    SELECT count(DISTINCT n) AS n_nodes
    FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
),
tris AS (
    SELECT count(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3
         ON e3.u = e1.u AND e3.v = e2.v
)
SELECT nodes.n_nodes, (SELECT count(*) FROM e) AS n_edges, tris.n_triangles
FROM nodes, tris
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank, 3 iterations
    (operators/graph.pagerank_int) over a deterministic 2-out-degree
    graph on doc ids (< 500 for sf-independence): chain edges
    (i -> i+1 mod 500) plus scatter edges (i -> 7i+3 mod 500). The
    oracle UNROLLS the same three steps as chained CTEs — recursive
    CTEs cannot aggregate per level — and matches bit-for-bit because
    every step is long arithmetic with floor division."""
    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        F.col("doc_id").alias("node")
    )
    e = (
        ids.select(
            F.col("node").alias("src"), ((F.col("node") + 1) % 500).alias("dst")
        )
        .unionByName(
            ids.select(
                F.col("node").alias("src"),
                ((F.col("node") * 7 + 3) % 500).alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return gr.pagerank_int(e, ids, iterations=3)


def _pagerank_sql_steps(k: int = 3, scale: int = 10**12) -> str:
    base = f"({15 * scale} // 100)"
    steps = []
    for i in range(1, k + 1):
        steps.append(f"""
step{i} AS (
    SELECT e.dst AS node, sum(p.r // od.outdeg) AS in_sum
    FROM pr{i-1} p JOIN od ON p.node = od.src JOIN e ON e.src = p.node
    GROUP BY e.dst
),
pr{i} AS (
    SELECT n.node,
           CAST({base} + (85 * coalesce(s.in_sum, 0)) // 100 AS BIGINT) AS r
    FROM nodes n LEFT JOIN step{i} s ON n.node = s.node
)""")
    return ",".join(steps)


SQL_PAGERANK = f"""
WITH nodes AS (
    SELECT doc_id AS node FROM documents WHERE doc_id < 500
), e0 AS (
    SELECT node AS src, (node + 1) % 500 AS dst FROM nodes
    UNION ALL
    SELECT node, (node * 7 + 3) % 500 FROM nodes
), e AS (
    SELECT DISTINCT src, dst FROM e0 WHERE src != dst
), od AS (
    SELECT src, count(*) AS outdeg FROM e GROUP BY src
), pr0 AS (
    SELECT node, CAST({10**12} AS BIGINT) AS r FROM nodes
),{_pagerank_sql_steps()}
SELECT node, r AS rank_scaled FROM pr3
"""


def q_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order->ship lag analytics per priority class with CALENDAR-EXACT
    integer arithmetic: plain day lags from epoch-day longs, BUSINESS-
    day lags via functions/dates.weekdays_before (a prefix-table
    formula over epoch days — engine dayofweek() builtins disagree on
    week-start conventions, so none is used), discrete-rank p50/p90,
    late counts, and the ships-before-ordered count (a migration data-
    quality signal the synthetic dates deliberately contain)."""
    from ..functions.dates import epoch_day, weekdays_before

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_orderpriority",
        (epoch_day(F.col("l_shipdate")) - epoch_day(F.col("o_orderdate"))).alias("lag"),
        (
            weekdays_before(epoch_day(F.col("l_shipdate")))
            - weekdays_before(epoch_day(F.col("o_orderdate")))
        ).alias("busdays"),
    )
    arr = F.sort_array(F.collect_list("lag"))
    n1 = F.count(F.lit(1)) - 1
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("lag") < 0, 1).otherwise(0)).cast("long").alias("n_negative"),
        F.sum(F.when(F.col("lag") > 90, 1).otherwise(0)).cast("long").alias("n_late"),
        F.element_at(arr, (F.floor(n1 / 2) + 1).cast("int")).alias("p50_lag"),
        F.element_at(arr, (F.floor(n1 * 9 / 10) + 1).cast("int")).alias("p90_lag"),
        F.sum("busdays").alias("sum_busdays"),
    )


SQL_SHIP_LAG = """
WITH j AS (
    SELECT o.o_orderpriority,
           CAST(floor(epoch_us(l.l_shipdate) / 86400000000) AS BIGINT)
             - CAST(floor(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT) AS lag,
           ( (CAST(floor(epoch_us(l.l_shipdate) / 86400000000) AS BIGINT) // 7) * 5
             + [0,1,2,2,2,3,4,5][CAST(CAST(floor(epoch_us(l.l_shipdate) / 86400000000) AS BIGINT) % 7 AS INT) + 1] )
           - ( (CAST(floor(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT) // 7) * 5
             + [0,1,2,2,2,3,4,5][CAST(CAST(floor(epoch_us(o.o_orderdate) / 86400000000) AS BIGINT) % 7 AS INT) + 1] )
           AS busdays
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), s AS (
    SELECT o_orderpriority, count(*) AS n,
           sum(CASE WHEN lag < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
           sum(CASE WHEN lag > 90 THEN 1 ELSE 0 END)::BIGINT AS n_late,
           list_sort(list(lag)) AS ls,
           sum(busdays)::BIGINT AS sum_busdays
    FROM j GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, n_negative, n_late,
       ls[CAST((n - 1) // 2 AS BIGINT) + 1] AS p50_lag,
       ls[CAST((n - 1) * 9 // 10 AS BIGINT) + 1] AS p90_lag,
       sum_busdays
FROM s
"""


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-50 part pairs purchased in the
    same order, with each part's order frequency and the exact-rational
    lift evidence (pair_orders * n_orders as numerator, c_a * c_b as
    denominator, plus the fixed-order double — PMI's discipline applied
    to baskets). The self-join is ORDER-keyed: fan-out per order is
    C(items,2) with items ~ a handful, never catalog-quadratic."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    part_freq = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    scored = (
        pairs.join(part_freq.select(F.col("p").alias("pa"), F.col("c").alias("c_a")), "pa")
        .join(part_freq.select(F.col("p").alias("pb"), F.col("c").alias("c_b")), "pb")
        .join(F.broadcast(n_orders))
        .withColumn(
            "lift",
            F.col("pair_orders").cast("double")
            * F.col("n_orders")
            / F.col("c_a")
            / F.col("c_b"),
        )
    )
    return scored.select(
        "pa", "pb", "pair_orders", "c_a", "c_b", "n_orders", "lift"
    ).orderBy(
        F.col("pair_orders").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(50)


SQL_BASKET_PAIRS = """
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
    SELECT count(DISTINCT l_orderkey) AS n_orders FROM li
), pf AS (
    SELECT l_partkey AS p, count(*) AS c FROM li GROUP BY l_partkey
), pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS pair_orders
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.pa, p.pb, p.pair_orders, x.c AS c_a, y.c AS c_b, n.n_orders,
       CAST(p.pair_orders AS DOUBLE) * n.n_orders / x.c / y.c AS lift
FROM pairs p
JOIN pf x ON p.pa = x.p
JOIN pf y ON p.pb = y.p
CROSS JOIN n
ORDER BY p.pair_orders DESC, p.pa ASC, p.pb ASC
LIMIT 50
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm distribution WITHOUT sqrt: the scaled
    SQUARED norm is exact long arithmetic (floor(v*2^20)² summed — v in
    [-1,1] keeps the per-vector sum under 2^47), and squared norm is
    monotone in norm, so discrete-rank percentiles of it ARE the norm
    percentiles squared. The norm-collapse / scale-drift diagnostic for
    embedding pipelines, with a zero-transcendental contract."""
    e = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    sq = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * F.lit(float(1 << 20))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, s: acc + s * s,
    )
    v = e.select("label", sq.alias("nsq"))
    arr = F.sort_array(F.collect_list("nsq"))
    n1 = F.count(F.lit(1)) - 1
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("nsq").alias("min_nsq"),
        F.element_at(arr, (F.floor(n1 / 2) + 1).cast("int")).alias("p50_nsq"),
        F.element_at(arr, (F.floor(n1 * 9 / 10) + 1).cast("int")).alias("p90_nsq"),
        F.max("nsq").alias("max_nsq"),
    )


SQL_EMBEDDING_NORMS = """
WITH v AS (
    SELECT label,
           CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                    * CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)))
                AS BIGINT) AS nsq
    FROM embeddings
), s AS (
    SELECT label, count(*) AS n, min(nsq) AS min_nsq, max(nsq) AS max_nsq,
           list_sort(list(nsq)) AS ls
    FROM v GROUP BY label
)
SELECT label, n, min_nsq,
       ls[CAST((n - 1) // 2 AS BIGINT) + 1] AS p50_nsq,
       ls[CAST((n - 1) * 9 // 10 AS BIGINT) + 1] AS p90_nsq,
       max_nsq
FROM s
"""


def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS blast radius (operators/graph.bfs_levels) over
    the pagerank graph (chain + scatter edges on doc ids < 500),
    sources = nodes divisible by 100, 4 hops. The oracle is a DuckDB
    recursive CTE (traversal carries the depth; min per node taken
    OUTSIDE the recursion, where aggregates are legal)."""
    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        F.col("doc_id").alias("node")
    )
    e = (
        ids.select(
            F.col("node").alias("src"), ((F.col("node") + 1) % 500).alias("dst")
        )
        .unionByName(
            ids.select(
                F.col("node").alias("src"),
                ((F.col("node") * 7 + 3) % 500).alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    srcs = ids.filter(F.col("node") % 100 == 0)
    return gr.bfs_levels(e, srcs, max_hops=4)


SQL_BFS_LEVELS = """
WITH RECURSIVE nodes AS (
    SELECT doc_id AS node FROM documents WHERE doc_id < 500
), e0 AS (
    SELECT node AS src, (node + 1) % 500 AS dst FROM nodes
    UNION ALL
    SELECT node, (node * 7 + 3) % 500 FROM nodes
), e1 AS (
    SELECT DISTINCT src, dst FROM e0 WHERE src != dst
), und AS (
    SELECT src AS a, dst AS b FROM e1 UNION SELECT dst, src FROM e1
), walk(node, hops) AS (
    SELECT node, 0 FROM nodes WHERE node % 100 = 0
    UNION
    SELECT und.b, walk.hops + 1
    FROM walk JOIN und ON walk.node = und.a
    WHERE walk.hops < 4
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exponentially-weighted moving average over the ordered
    event stream — with a DYADIC smoothing factor (alpha = 1/2), which
    makes the float fold deterministic: inputs are integer-milli longs
    cast to double (exact <= 2^53), and ``0.5*x + 0.5*acc`` is one
    halving and one addition of dyadic rationals. Early intermediates
    are exactly representable; after ~30+ folds the dyadic tail exceeds
    53 mantissa bits and IEEE rounds — but both engines round the SAME
    fixed-order fold identically, which is what the hash contract
    actually rests on (a generic alpha like 0.3 has no such shared
    order-free form; the dyadic choice keeps the rounding minimal and
    engine-agnostic). Rows with NULL ts are excluded on BOTH sides
    before ordering — Spark's array_sort puts null struct fields first
    while DuckDB ORDER BY defaults NULLS LAST, so a NULL ts would
    change the fold order cross-engine (ADVICE r5 #2). EWMA is
    inherently sequential, so it folds a per-group SORTED array — the
    percentiles memory shape (bounded by group size; event types
    here), documented as such.

    Output: (event_type, n, ewma_milli) — the final smoothed level."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * 1000).cast("long").alias("vm"),
        )
    )
    ordered = F.transform(
        F.array_sort(
            # integer-micros sort key (not the raw timestamp): identical
            # cross-engine even under differing parquet timestamp
            # decode precision (rolling_anomaly hardening, r7)
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                    F.col("event_id"),
                    F.col("vm"),
                )
            )
        ),
        lambda s: s["vm"].cast("double"),
    )
    fold = F.aggregate(
        F.slice(ordered, 2, F.size(ordered)),
        F.element_at(ordered, 1),
        lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), fold.alias("ewma_milli")
    )


SQL_EWMA = """
WITH e AS (
    SELECT event_type, ts, event_id,
           CAST(round(value * 1000) AS BIGINT) AS vm
    FROM events WHERE ts IS NOT NULL
), g AS (
    SELECT event_type, count(*) AS n,
           list_transform(
               list(vm ORDER BY epoch_us(ts), event_id),
               x -> CAST(x AS DOUBLE)) AS vs
    FROM e GROUP BY event_type
)
SELECT event_type, n,
       list_reduce(vs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma_milli
FROM g
"""


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: each event holds a 300 s
    half-open interval; the classic sweep (+1 at start, -1 at end,
    running sum over the merged timeline) yields the maximum number of
    simultaneously-open intervals and the first instant it is reached —
    the capacity-planning / connection-pool-sizing analysis. Half-open
    tie rule: an interval ENDING at t frees its slot before one
    STARTING at t (delta -1 sorts first), so back-to-back intervals
    never double-count. One shuffle (the per-type ordered window over
    2x-exploded rows); all integers."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    span = F.lit(300 * 1_000_000).cast("long")
    pts = e.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(us.alias("t"), F.lit(1).alias("delta")),
                F.struct((us + span).alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("p"),
    ).select("event_type", "event_id", F.col("p.t").alias("t"), F.col("p.delta").alias("delta"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("t").asc(), F.col("delta").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = pts.withColumn("conc", F.sum("delta").over(w)).withColumn(
        "pk", F.max("conc").over(Window.partitionBy("event_type"))
    )
    return run.groupBy("event_type").agg(
        F.min("pk").cast("long").alias("peak_concurrency"),
        F.min(F.when(F.col("conc") == F.col("pk"), F.col("t"))).alias(
            "first_peak_us"
        ),
    )


SQL_MAX_CONCURRENCY = """
WITH pts AS (
    SELECT event_type, event_id, epoch_us(ts) AS t, 1 AS delta
    FROM events WHERE ts IS NOT NULL
    UNION ALL
    SELECT event_type, event_id, epoch_us(ts) + 300000000, -1
    FROM events WHERE ts IS NOT NULL
), run AS (
    SELECT event_type, t,
           sum(delta) OVER (PARTITION BY event_type
                            ORDER BY t, delta, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
    FROM pts
), peak AS (
    SELECT event_type, max(conc) AS p FROM run GROUP BY event_type
)
SELECT r.event_type,
       CAST(peak.p AS BIGINT) AS peak_concurrency,
       min(CASE WHEN r.conc = peak.p THEN r.t END) AS first_peak_us
FROM run r JOIN peak ON r.event_type = peak.event_type
GROUP BY r.event_type, peak.p
"""


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 document pairs by sparse TF-IDF dot product — the
    ranked-similarity complement to the set-based joins (setsim ranks
    nothing; minhash approximates): pair scores come from a TOKEN-keyed
    join of per-doc weights, so only docs sharing a token ever meet,
    and terms with df > 20 are excluded (the stopword guard — a
    common term joins every doc pair and is similarity-meaningless;
    the cap is the standard sparse-similarity discipline and is part
    of the defined contract). The term unit is the WORD TRIGRAM (the
    fixture's 31-word vocabulary makes every unigram common; trigrams
    discriminate). Weights are INTEGER idf approximations
    ``tf * (n_docs // df)`` so scores are exact longs, hashable
    cross-engine — ranking quality trades a little idf resolution for
    a bit-exact contract (documented)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks0 = F.filter(
        F.split(portable_lower(F.trim(F.col("text"))), PORTABLE_WS_PLUS), lambda t: t != ""
    )
    tok_df = d.select("doc_id", toks0.alias("__toks"))
    n = F.size(F.col("__toks"))
    tris = F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(F.col("__toks"), F.lit(1), n - 2),
                F.slice(F.col("__toks"), F.lit(2), n - 2),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(F.col("__toks"), F.lit(3), n - 2),
            lambda p, c: F.concat_ws(" ", p, c),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = tok_df.select("doc_id", F.explode(tris).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq.filter(F.col("df") <= 20), "token")
        .join(F.broadcast(n_docs))
        .select(
            "token",
            "doc_id",
            (F.col("tf") * F.floor(F.col("n_docs") / F.col("df")).cast("long")).alias("w"),
        )
    )
    a = w.select("token", F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    b = w.select("token", F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    return (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(50)
    )


SQL_TFIDF_PAIRS = r"""
WITH w0 AS (
    SELECT doc_id,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM documents
), t0 AS (
    SELECT doc_id,
           [ ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             for i in range(1, len(ts)-1) ] AS gs
    FROM w0
), nz AS (
    SELECT doc_id, unnest(gs) AS token FROM t0
), tf AS (
    SELECT doc_id, token, count(*) AS tf FROM nz GROUP BY doc_id, token
), dfq AS (
    SELECT token, count(*) AS df FROM tf GROUP BY token
), n AS (
    SELECT count(*) AS n_docs FROM documents
), w AS (
    SELECT tf.token, tf.doc_id, tf.tf * (n.n_docs // dfq.df) AS w
    FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n
    WHERE dfq.df <= 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w)::BIGINT AS score
FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY score DESC, id_a ASC, id_b ASC
LIMIT 50
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data layout vs natural insertion order, audited
    by the min/max file-skipping rule (operators/layout.py). The output
    is the per-file stats table a lakehouse scan planner consults —
    row count, per-dimension [min,max] envelope, and the scan/skip
    decision for a 2-D box predicate — for BOTH layouts over the same
    rows, so the skipping win of the interleave is in the result
    itself. File assignment is exact global-rank arithmetic (reusing
    the value-bucketed global_rank, no one-reducer window, no sampled
    repartitionByRange boundaries), which is what makes the layout
    oracle-able cross-engine."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 1024).alias("px"),
        (F.col("l_orderkey") % 1024).alias("oy"),
    )
    box = {"px": (128, 255), "oy": (256, 383)}
    z = l.withColumn("zv", lay.zorder_key(["px", "oy"], bits=10))
    fz = lay.assign_files(
        z, order_col="zv", tiebreak=["l_orderkey", "l_linenumber"], n_files=64
    )
    stats_z = lay.file_stats(fz, dim_cols=["px", "oy"], layout="zorder")
    n = l.withColumn("ov", F.col("l_orderkey"))
    fn = lay.assign_files(
        n, order_col="ov", tiebreak=["l_linenumber"], n_files=64
    )
    stats_n = lay.file_stats(fn, dim_cols=["px", "oy"], layout="natural")
    out = lay.skip_audit(stats_z.unionByName(stats_n), box)
    return out.select(
        "layout",
        "file_id",
        "n_rows",
        "min_px",
        "max_px",
        "min_oy",
        "max_oy",
        "scanned",
    )


_ZORDER_SQL_EXPR = lay.zorder_sql_expr(["px", "oy"], bits=10)

SQL_ZORDER_LAYOUT = f"""
WITH d AS (
    SELECT l_orderkey, l_linenumber,
           l_partkey % 1024 AS px, l_orderkey % 1024 AS oy
    FROM lineitem
), tot AS (SELECT count(*) AS total FROM d),
z AS (
    SELECT px, oy,
           row_number() OVER (
               ORDER BY {_ZORDER_SQL_EXPR}, l_orderkey, l_linenumber
           ) AS rk
    FROM d
), fz AS (
    SELECT 'zorder' AS layout, ((rk - 1) * 64) // total AS file_id, px, oy
    FROM z CROSS JOIN tot
), nr AS (
    SELECT px, oy,
           row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rk
    FROM d
), fn AS (
    SELECT 'natural' AS layout, ((rk - 1) * 64) // total AS file_id, px, oy
    FROM nr CROSS JOIN tot
), u AS (SELECT * FROM fz UNION ALL SELECT * FROM fn)
SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(px) AS BIGINT) AS min_px, CAST(max(px) AS BIGINT) AS max_px,
       CAST(min(oy) AS BIGINT) AS min_oy, CAST(max(oy) AS BIGINT) AS max_oy,
       CAST(CASE WHEN max(px) >= 128 AND min(px) <= 255
                  AND max(oy) >= 256 AND min(oy) <= 383
                 THEN 1 ELSE 0 END AS BIGINT) AS scanned
FROM u GROUP BY layout, file_id
"""


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter probe-side join pruning (operators/bloom.py): the
    lineitem probe is tested against a packed-long Bloom filter of the
    filtered orders' keys via k=4 chained BROADCAST joins — map-side,
    zero added shuffles — before the real equi-join. No false negatives
    by construction, so the gate's oracle is simply the PLAIN inner
    join: equality proves the pruning never drops a match, and the
    false-positive tail is resolved by the join itself (fp rate and
    pruning factor are asserted quantitatively in tests/test_bloom.py).
    m_bits=8192 for ~300 build keys at sf0.01 ≈ 28 bits/key,
    fp ≈ 3e-4."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .select("o_orderkey", "o_totalprice")
    )
    out = bl.bloom_prune_join(
        l, o, probe_key="l_orderkey", build_key="o_orderkey", m_bits=1 << 13, k=4
    )
    return out.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("o_totalprice").alias("price"),
    )


SQL_BLOOM_PRUNE_JOIN = """
SELECT l.l_orderkey AS orderkey,
       CAST(l.l_linenumber AS BIGINT) AS linenumber,
       o.o_totalprice AS price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 490000
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic publish-time sharding manifest: every document is
    assigned to one of 16 shards by a PORTABLE content-independent hash
    of its id (sha256 hex prefix → integer, the engine-agnostic
    pattern this registry already trusts for weighted sampling), and
    each shard row carries the integrity evidence a dataset release
    needs — doc count, total chars, an order-free bit_xor checksum of
    per-doc content digests, and the id range. Reproducible anywhere:
    rerunning the export on any engine yields byte-identical manifests,
    which is the point of hash sharding over round-robin (whose
    assignment depends on partitioning/run order). One partial agg on a
    16-value key; the checksum is bit_xor so it is combine-order-free
    and never overflows."""
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    chk = F.conv(F.substring(F.sha2(F.col("text"), 256), 1, 15), 16, 10).cast("long")
    return (
        d.select(
            shard.alias("shard_id"),
            "doc_id",
            "n_chars",
            chk.alias("__chk"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.bit_xor("__chk").alias("checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


SQL_SHARD_MANIFEST = """
WITH s AS (
    SELECT CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 16 AS shard_id,
           doc_id, n_chars,
           CAST(('0x' || substr(sha256(text), 1, 15)) AS BIGINT) AS chk
    FROM documents
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(bit_xor(chk) AS BIGINT) AS checksum,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY shard_id
"""


def q_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-snapshot manifest diff (operators/manifest.manifest_diff,
    round 15): two manifest snapshots built from overlapping corpus
    slices (doc_id % 7 != 0 vs doc_id % 5 != 0 — chosen so all three
    lifecycle states occur), full-outer-joined on content_hash into
    one (content_hash, status) row per hash: added / removed /
    retained. The release-audit step over the cross-run manifest
    family: an append-only loop must never yield ``removed`` rows, and
    a compaction signs off exactly this diff. Hash-keyed exchanges
    only; document text never shuffles."""
    from ..operators import manifest as mf

    d = _t(spark, sf_dir, "documents")
    old = mf.build_manifest(d.filter(F.col("doc_id") % 7 != 0))
    new = mf.build_manifest(d.filter(F.col("doc_id") % 5 != 0))
    return mf.manifest_diff(old, new)


SQL_MANIFEST_DIFF = """
WITH o AS (
    SELECT DISTINCT sha256(__NORM_TEXT__) AS content_hash
    FROM documents WHERE doc_id % 7 <> 0
), n AS (
    SELECT DISTINCT sha256(__NORM_TEXT__) AS content_hash
    FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(o.content_hash, n.content_hash) AS content_hash,
       CASE WHEN o.content_hash IS NULL THEN 'added'
            WHEN n.content_hash IS NULL THEN 'removed'
            ELSE 'retained' END AS status
FROM o FULL OUTER JOIN n ON o.content_hash = n.content_hash
""".replace("__NORM_TEXT__", _SQL_NORM_TEXT)


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs over a real-PNG corpus
    (operators/image_dedup.py): stdlib PNG decode → dHash-64 →
    4x16-bit band blocking → exact popcount verify at Hamming <= 6.
    Rows-only: the pixel pipeline is not SQL-expressible; quantitative
    evidence is the planted-pair recall (every 17th doc gets a
    one-pixel-perturbed copy at id+10_000_000) recorded by
    tools/oracle_check.py, plus the recall/precision unit tests."""
    d = _t(spark, sf_dir, "documents")
    corpus = imd.synthesize_png_corpus(d)
    return imd.image_neardup(corpus, bands=4, max_hamming=6)


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier operating-curve sweep (operators/stats.threshold_sweep):
    confusion counts at every quantized score threshold over the events
    stream (score = value, positive label = 'purchase'). The
    data-bearing work is ONE map-combinable aggregation into <= 256
    buckets; the cumulative tp/fp window runs over the 256 aggregated
    rows (global_rank's offsets pattern), never the events. Bucket
    arithmetic is exact integers (floor(x*1024) power-of-two scaling +
    the overflow-safe span//B+1 width), so the curve is bit-identical
    cross-engine."""
    e = _t(spark, sf_dir, "events")
    return stats_ops.threshold_sweep(
        e.select(
            F.col("value").alias("score"),
            (F.col("event_type") == "purchase").alias("label"),
        ),
        score_col="score",
        label_col="label",
        n_buckets=256,
    )


def _threshold_sweep_sql(src_d_cte: str, n_buckets: int) -> str:
    """The sweep mirror, generated from a source CTE body that yields
    ``d (sv BIGINT, y BOOLEAN)`` — one definition serves the events
    gate (256 buckets) and the dedup-calibration composition (32
    buckets over portable MinHash scores), so the bucket arithmetic
    (floor-scaled score, overflow-safe span // B + 1 width, DESC
    cumulative confusion windows) cannot drift between them."""
    return f"""
WITH {src_d_cte}, bounds AS (SELECT min(sv) AS lo, max(sv) AS hi FROM d),
b AS (
    SELECT (sv - lo) // (((hi - lo) // {n_buckets}) + 1) AS bucket,
           ((hi - lo) // {n_buckets}) + 1 AS width, lo, y
    FROM d CROSS JOIN bounds
), pb AS (
    SELECT bucket, min(lo) AS lo, min(width) AS width,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
    FROM b GROUP BY bucket
), c AS (
    SELECT bucket, lo, width, pos, neg,
           CAST(sum(pos) OVER (ORDER BY bucket DESC) AS BIGINT) AS tp,
           CAST(sum(neg) OVER (ORDER BY bucket DESC) AS BIGINT) AS fp,
           CAST(sum(pos) OVER () AS BIGINT) AS tot_pos,
           CAST(sum(neg) OVER () AS BIGINT) AS tot_neg
    FROM pb
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(lo + bucket * width AS BIGINT) AS threshold_scaled,
       tp, fp,
       CAST(tot_pos - tp AS BIGINT) AS fn,
       CAST(tot_neg - fp AS BIGINT) AS tn
FROM c
"""


SQL_THRESHOLD_SWEEP = _threshold_sweep_sql(
    """d AS (
    SELECT CAST(floor(value * 1024) AS BIGINT) AS sv,
           (event_type = 'purchase') AS y
    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
)""",
    256,
)


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist flags (operators/blocklist.py) over
    hosts synthesized deterministically from documents — five shapes
    including the adversarial 'blocked domain embedded mid-host'
    (example.co.uk.evil.com must NOT match) that LIKE-pattern
    implementations get wrong with leading-anchor mistakes. The suffix
    explode + broadcast equi-join replaces the nested-loop LIKE join;
    the oracle states the SPEC (host = domain OR host LIKE
    '%.' || domain) directly."""
    d = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("www.example.co.uk"))
        .when(F.col("doc_id") % 5 == 1, F.lit("blog.test.com"))
        .when(F.col("doc_id") % 5 == 2, F.lit("sub.site.org"))
        .when(F.col("doc_id") % 5 == 3, F.lit("files.example.net"))
        .otherwise(F.lit("example.co.uk.evil.com"))
    )
    with_host = d.select("doc_id", host.alias("host"))
    bl = spark.createDataFrame(
        [("example.co.uk",), ("site.org",)], "domain string"
    )
    return blk.blocklist_flags(
        with_host, host_col="host", blocklist=bl
    ).select("doc_id", "host", "blocked")


SQL_DOMAIN_BLOCKLIST = """
WITH h AS (
    SELECT doc_id,
           CASE doc_id % 5
               WHEN 0 THEN 'www.example.co.uk'
               WHEN 1 THEN 'blog.test.com'
               WHEN 2 THEN 'sub.site.org'
               WHEN 3 THEN 'files.example.net'
               ELSE 'example.co.uk.evil.com'
           END AS host
    FROM documents
), bl AS (
    SELECT * FROM (VALUES ('example.co.uk'), ('site.org')) AS t(domain)
)
SELECT h.doc_id, h.host,
       CAST(CASE WHEN EXISTS (
           SELECT 1 FROM bl
           WHERE h.host = bl.domain OR h.host LIKE '%.' || bl.domain
       ) THEN 1 ELSE 0 END AS BIGINT) AS blocked
FROM h
"""


def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew report (operators/skew.skew_diagnostics): top-20
    hottest lineitem supplier keys with exact per-mille corpus share
    and the ceil-division salt factor salted_join/salted_agg would
    take. One map-combinable count + TakeOrdered; the (n_rows, key)
    ordering is total (key unique per group) so LIMIT is deterministic
    cross-engine. target_rows_per_task=200 at sf0.01 so the
    recommendation actually varies across keys."""
    l = _t(spark, sf_dir, "lineitem")
    return skew_ops.skew_diagnostics(
        l, "l_suppkey", top=20, target_rows_per_task=200
    )


SQL_SKEW_DIAGNOSTICS = """
WITH c AS (
    SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_suppkey
), t AS (SELECT count(*) AS total FROM lineitem)
SELECT CAST(key AS VARCHAR) AS key, n_rows,
       CAST((n_rows * 1000) // total AS BIGINT) AS share_permille,
       CAST((n_rows + 199) // 200 AS BIGINT) AS recommended_salts
FROM c CROSS JOIN t
ORDER BY n_rows DESC, CAST(key AS VARCHAR) ASC NULLS LAST
LIMIT 20
"""


def _graph_edges(spark: SparkSession, sf_dir: str):
    """Deterministic synthetic graph shared by the iterative-graph
    gates: a 500-node cycle plus a multiplicative scatter edge from
    two-thirds of the nodes (node % 3 != 0) — connected, degrees 2-4,
    so the 3-core peel cascades and lands on a strict non-empty
    subgraph (uniform degree would make every k-core all-or-nothing)."""
    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        F.col("doc_id").alias("node")
    )
    chain = ids.select(
        F.col("node").alias("src"), ((F.col("node") + 1) % 500).alias("dst")
    )
    scatter = ids.filter(F.col("node") % 3 != 0).select(
        F.col("node").alias("src"), ((F.col("node") * 7 + 3) % 500).alias("dst")
    )
    # a chorded-cycle pocket on nodes < 50 (chord n -> (n+2) mod 50):
    # internally every node keeps degree >= 3 even after the sparse
    # periphery peels away, so the 3-core is non-empty AND strict
    chords = ids.filter(F.col("node") < 50).select(
        F.col("node").alias("src"), ((F.col("node") + 2) % 50).alias("dst")
    )
    return chain.unionByName(scatter).unionByName(chords)


# The synthetic graph's measured peel depth is 10 rounds (stable at 10,
# confirmed at 11; the 500-node construction is identical at every sf,
# so the depth is too). 12 unrolled rounds = margin; extra rounds are
# idempotent on both engines, and the fixpoint-equality is pinned in
# tests/test_graph.py.
_KCORE_K = 3
_KCORE_ROUNDS = 12


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the synthetic doc graph (operators/graph.kcore):
    iterative distributed peel — degree agg → keep >= k → semi-join
    edges → repeat. ORACLE-BACKED since round 13 (VERDICT r12 #5): the
    gate runs a FIXED 12-round peel (>= the graph's measured depth 10;
    rounds past convergence are idempotent, equality with the fixpoint
    peel pinned in tests), which the DuckDB mirror unrolls as a
    generated CTE chain — the kmeans/PQ fixed-iteration device applied
    to graph peeling. The independent-Python-peel evidence block
    remains as defense in depth."""
    return gr.kcore(_graph_edges(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """The unrolled peel mirror, generated from the SAME (k, rounds)
    constants the gate passes to the operator. Each round: degree over
    the surviving edge set (both endpoints unioned), keep nodes with
    degree >= k, restrict edges to kept endpoints. The synthetic graph
    is _graph_edges spelled in SQL (chain + scatter + chorded pocket,
    canonicalized to distinct undirected (u < v) pairs, self-loops
    dropped)."""
    parts = [f"""
WITH nodes AS (
    SELECT doc_id AS node FROM documents WHERE doc_id < 500
), raw AS (
    SELECT node AS src, (node + 1) % 500 AS dst FROM nodes
    UNION ALL
    SELECT node, (node * 7 + 3) % 500 FROM nodes WHERE node % 3 != 0
    UNION ALL
    SELECT node, (node + 2) % 50 FROM nodes WHERE node < 50
), e0 AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM raw WHERE src != dst
)"""]
    # MATERIALIZED hints are load-bearing: each round references the
    # previous edge set three times (two degree branches + the
    # restriction join) — inlined, the chain re-expands 3^rounds times
    # (observed as an out-of-file-handles parquet re-scan storm)
    prev_e = "e0"
    for r in range(1, rounds + 1):
        parts.append(f""", deg{r} AS (
    SELECT n, count(*)::BIGINT AS degree FROM (
        SELECT u AS n FROM {prev_e} UNION ALL SELECT v FROM {prev_e}
    ) GROUP BY n
), keep{r} AS MATERIALIZED (
    SELECT n, degree FROM deg{r} WHERE degree >= {k}
), e{r} AS MATERIALIZED (
    SELECT e.u, e.v FROM {prev_e} e
    JOIN keep{r} a ON e.u = a.n
    JOIN keep{r} b ON e.v = b.n
)""")
        prev_e = f"e{r}"
    parts.append(f"""
SELECT n AS node, degree FROM keep{rounds}
""")
    return "".join(parts)


SQL_KCORE = _kcore_sql()


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation over the documents corpus
    (operators/text.sentence_split): boundary = [.!?] + single space
    via one capture-group regexp_replace marking an \\x01 sentinel (no
    lookbehind — Java and RE2 agree on plain capture replacement),
    then split/trim/filter with portable whitespace token counts. The
    per-doc renumbering window is the only shuffle. The fixture text
    has no sentence punctuation, so the gate corpus stitches each doc
    into three sentences (., !, ? terminators) — every boundary shape
    is exercised, mirrored in the oracle."""
    d = _t(spark, sf_dir, "documents")
    stitched = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". "), F.col("text"), F.lit("! "),
            F.col("text"), F.lit("?"),
        ).alias("text"),
    )
    return tx.sentence_split(stitched)


# Shared by the sentence_split gate and the sentence_chunks mirror
# (round 13: the chunker's recursive walk consumes exactly this output,
# so the two gates must share one sentence definition).
_SQL_SENTENCE_CTES = r"""d AS (
    SELECT doc_id, text || '. ' || text || '! ' || text || '?' AS text
    FROM documents WHERE text IS NOT NULL
),
m AS (
    SELECT doc_id,
           string_split(
               regexp_replace(text, '([.!?]) ', '\1' || chr(1), 'g'), chr(1)
           ) AS parts
    FROM d
), ix AS (
    SELECT doc_id,
           [{'i': i, 's': trim(parts[i], ' ')}
            for i in range(1, len(parts) + 1)] AS es
    FROM m
), u AS (
    SELECT doc_id, unnest(es, recursive := true) FROM ix
), f AS (
    SELECT doc_id, i, s AS sentence FROM u WHERE s != ''
), sents AS MATERIALIZED (
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT)
               AS sent_idx,
           sentence,
           CAST(len(list_filter(string_split(
               replace(replace(replace(replace(replace(sentence,
                   chr(10), ' '), chr(9), ' '), chr(13), ' '), chr(12), ' '),
                   chr(11), ' '), ' '), x -> x != '')) AS BIGINT) AS n_tokens
    FROM f
)"""

SQL_SENTENCE_SPLIT = (
    "WITH " + _SQL_SENTENCE_CTES
    + "\nSELECT doc_id, sent_idx, sentence, n_tokens FROM sents\n"
)


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily batch-vs-corpus NEAR-dup (operators/manifest.py): the even
    half of the corpus is yesterday's kept set, persisted as a banded
    MinHash signature manifest; today's batch is a planted near-dup of
    every kept doc (id+1M, suffixed text) plus the genuinely-unseen odd
    half. One equi-join on (band, bucket) against the manifest decides
    which batch docs are novel — no recomputation over the kept corpus,
    no all-pairs. Rows-only (MinHash is hash-based); evidence is the
    planted-drop recall + novel-survival rate in
    tools/oracle_check.py's quantitative block, and the manifest
    plumbing is covered by tests/test_manifest_dedup.py."""
    from ..operators import manifest as mf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = d.filter(F.col("doc_id") % 2 == 0)
    manifest = mf.build_neardup_manifest(prior, num_hashes=16, bands=2)
    planted = prior.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near-dup-suffix")).alias("text"),
    )
    batch = planted.unionByName(d.filter(F.col("doc_id") % 2 == 1))
    # 0.75: measured knee — drop-recall 0.948 / novel-survival 0.956 at
    # sf0.01 (0.9 loses recall to short docs whose suffix shifts more
    # of the 16-hash signature; the curve is flat across 0.7-0.8)
    out = mf.neardup_manifest_dedup(batch, manifest, min_est_jaccard=0.75)
    return out.orderBy("doc_id")


def q_dedup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-threshold calibration as a COMPOSITION: MinHash
    candidate pairs (min_agree=1 so the full score range survives)
    feed operators/stats.threshold_sweep with score = est_jaccard and
    label = is-planted-pair — the confusion curve a pipeline owner
    reads to pick the dedup threshold from planted ground truth instead
    of folklore. ORACLE-BACKED since round 13 (VERDICT r12 #5): the
    upstream moved from the xxhash64 LSH to the PORTABLE md5 family
    (minhash_portable_pairs, 16 hashes x 4 bands), whose est_jaccard
    (sig_agree / 16 — an exact power-of-two division) reproduces
    bit-for-bit in DuckDB, so the whole curve hash-matches instead of
    riding a planted-separation statistic. The planted-separation
    property stays pinned in tests."""
    d = _t(spark, sf_dir, "documents")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near-dup-suffix")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(perturbed)
    pairs = dd.minhash_portable_pairs(
        both, num_hashes=_MH_NUM_HASHES, bands=_MH_BANDS,
        shingle_k=_MH_SHINGLE_K, min_agree=1,
        max_bucket_size=_MH_BUCKET_CAP,
    )
    scored = pairs.select(
        F.col("est_jaccard").alias("score"),
        (F.col("doc_id_b") - F.col("doc_id_a") == 1_000_000).alias("label"),
    )
    return stats_ops.threshold_sweep(
        scored, score_col="score", label_col="label", n_buckets=32
    )


_CHUNK_MAX_TOKENS = 64


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sentence-preserving chunking
    (operators/text.sentence_chunks, max_tokens=64) over the
    oracle-verified sentence_split output. ORACLE-BACKED since round 13
    (VERDICT r12 #5): the greedy running-total-with-reset fold has no
    closed single-pass SQL form, but it IS a linear recurrence over
    (doc, sent_idx) — the mirror walks it as a recursive CTE advancing
    every document one sentence per step (state = (chunk id, running
    count), exactly the Spark fold's accumulator), then re-aggregates
    chunks. The independent-Python-packer evidence block remains as
    defense in depth."""
    d = _t(spark, sf_dir, "documents")
    stitched = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". "), F.col("text"), F.lit("! "),
            F.col("text"), F.lit("?"),
        ).alias("text"),
    )
    return tx.sentence_chunks(
        tx.sentence_split(stitched), max_tokens=_CHUNK_MAX_TOKENS
    )


# The chunk walk: base = sent_idx 0 opens chunk 0 with its own count
# (the Spark fold's init cnt=0 means the first sentence NEVER opens a
# new chunk, even oversize); step = sentence i+1 either extends the
# chunk or opens chunk cid+1, mirroring `(cnt > 0) AND (cnt + n > max)`
# verbatim. string_agg orders by sent_idx (row-unique within the
# partition by construction of the renumbering window).
SQL_SENTENCE_CHUNKS = (
    "WITH RECURSIVE " + _SQL_SENTENCE_CTES
    + f""",
walk(doc_id, sent_idx, cid, cnt) AS (
    SELECT doc_id, sent_idx, CAST(0 AS BIGINT), n_tokens
    FROM sents WHERE sent_idx = 0
    UNION ALL
    SELECT s.doc_id, s.sent_idx,
           CASE WHEN w.cnt > 0 AND w.cnt + s.n_tokens > {_CHUNK_MAX_TOKENS}
                THEN w.cid + 1 ELSE w.cid END,
           CASE WHEN w.cnt > 0 AND w.cnt + s.n_tokens > {_CHUNK_MAX_TOKENS}
                THEN s.n_tokens ELSE w.cnt + s.n_tokens END
    FROM walk w
    JOIN sents s ON s.doc_id = w.doc_id AND s.sent_idx = w.sent_idx + 1
)
SELECT s.doc_id,
       w.cid AS chunk_id,
       count(*)::BIGINT AS n_sentences,
       sum(s.n_tokens)::BIGINT AS n_tokens,
       string_agg(s.sentence, ' ' ORDER BY s.sent_idx) AS chunk_text
FROM walk w
JOIN sents s ON s.doc_id = w.doc_id AND s.sent_idx = w.sent_idx
GROUP BY 1, 2
"""
)


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite in ONE scan
    (operators/expectations.run_expectations): five checks over
    lineitem — not-null, quantity range, accepted return flags, a
    deliberately failing price ceiling, and PK uniqueness — compiled
    into a single map-combinable aggregation and unpivoted to a
    (check, n_violations, n_rows, passed) report. The naive form is
    five scans of the fact table; this is one."""
    from ..operators import expectations as ex

    l = _t(spark, sf_dir, "lineitem")
    return ex.run_expectations(
        l,
        [
            ex.expect_not_null("l_orderkey"),
            ex.expect_between("l_quantity", 1, 50),
            ex.expect_in("l_returnflag", ["A", "N", "R"]),
            ex.expect_between("l_extendedprice", 0, 50000),
            ex.expect_unique("l_orderkey", "l_linenumber"),
        ],
    )


SQL_EXPECTATIONS = """
WITH t AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS v0,
           CAST(count(*) FILTER (l_quantity IS NOT NULL
                AND NOT (l_quantity >= 1 AND l_quantity <= 50)) AS BIGINT) AS v1,
           CAST(count(*) FILTER (l_returnflag IS NOT NULL
                AND l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT) AS v2,
           CAST(count(*) FILTER (l_extendedprice IS NOT NULL
                AND NOT (l_extendedprice >= 0 AND l_extendedprice <= 50000))
                AS BIGINT) AS v3,
           CAST(count(*) - (SELECT count(*) FROM (
               SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
           )) AS BIGINT) AS v4
    FROM lineitem
), u AS (
    SELECT 0 AS ord, 'not_null(l_orderkey)' AS check_name, v0 AS nv, n FROM t
    UNION ALL SELECT 1, 'between(l_quantity,1,50)', v1, n FROM t
    UNION ALL SELECT 2, 'in_set(l_returnflag)', v2, n FROM t
    UNION ALL SELECT 3, 'between(l_extendedprice,0,50000)', v3, n FROM t
    UNION ALL SELECT 4, 'unique(l_orderkey,l_linenumber)', v4, n FROM t
)
SELECT CAST(ord AS BIGINT) AS ord, check_name AS "check",
       nv AS n_violations, n AS n_rows,
       CAST(CASE WHEN nv = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
FROM u
"""


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval overlap join
    (operators/temporal.interval_overlap_join): synthetic view/click
    windows from the events stream (duration = (event_id % 50 + 1)
    minutes, integer micros end-to-end), bucket-explode + equi-join on
    (user_id, hour bucket) + exact half-open verify — never the
    nested-loop theta join. Fan-out <= 2 buckets per interval at these
    durations. Output: overlapping (view, click) pairs with exact
    overlap_us."""
    from ..operators.temporal import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") % 50 + 1) * 60_000_000
        ).alias("e_us"),
    )
    left = base.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("s_us").alias("v_start"),
        F.col("e_us").alias("v_end"),
    )
    right = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("s_us").alias("c_start"),
        F.col("e_us").alias("c_end"),
    )
    out = interval_overlap_join(
        left,
        right,
        keys=["user_id"],
        left_start="v_start",
        left_end="v_end",
        right_start="c_start",
        right_end="c_end",
        bucket_us=3_600_000_000,
    )
    return out.select("user_id", "view_id", "click_id", "overlap_us")


SQL_INTERVAL_OVERLAP = """
WITH base AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + (event_id % 50 + 1) * 60000000 AS e_us
    FROM events
), v AS (
    SELECT user_id, event_id AS view_id, s_us AS v_start, e_us AS v_end
    FROM base WHERE event_type = 'view'
), c AS (
    SELECT user_id, event_id AS click_id, s_us AS c_start, e_us AS c_end
    FROM base WHERE event_type = 'click'
)
SELECT v.user_id, v.view_id, c.click_id,
       CAST(least(v.v_end, c.c_end) - greatest(v.v_start, c.c_start) AS BIGINT)
           AS overlap_us
FROM v JOIN c ON v.user_id = c.user_id
WHERE greatest(v.v_start, c.c_start) < least(v.v_end, c.c_end)
"""


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Gramian sufficient statistics of the embeddings
    table (operators/linalg.gram_stats) — the one-pass distributed
    input to covariance / PCA / whitening. Arrow-batched partial
    Gramians (numpy int64 matmul per batch) emit only the d(d+1)/2
    upper triangle + d sums + count per PARTITION, so the shuffle is
    ~2k rows regardless of corpus size; vectors are floor(x * 2^20)
    integer-scaled BEFORE any product (exact in both engines, the
    registry's float doctrine), making the statistics bit-identical
    under any partitioning/combine order. The d x d eigen-step happens
    driver-side downstream (pca_components/pca_project, whitening
    property pytest-verified)."""
    e = _t(spark, sf_dir, "embeddings")
    return lin.gram_stats(e, vec_col="embedding", dim=64, scale_bits=20).select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "val",
    )


SQL_EMBEDDING_GRAM = """
WITH p0 AS (
    SELECT vec_id,
           [{'dim': i - 1,
             'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)}
            for i in range(1, len(embedding) + 1)] AS pairs
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
      AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0
), e AS (
    SELECT vec_id, unnest(pairs, recursive := true) FROM p0
), g AS (
    SELECT CAST(a.dim AS BIGINT) AS i, CAST(b.dim AS BIGINT) AS j,
           CAST(sum(a.v * b.v) AS BIGINT) AS val
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
), s AS (
    SELECT CAST(dim AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
           CAST(sum(v) AS BIGINT) AS val
    FROM e GROUP BY dim
), c AS (
    -- HAVING mirrors the operator's empty contract: zero usable
    -- vectors yield an EMPTY frame, not a lone zero-count row
    SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
           CAST(count(*) AS BIGINT) AS val
    FROM p0 HAVING count(*) > 0
)
SELECT * FROM g UNION ALL SELECT * FROM s UNION ALL SELECT * FROM c
"""


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over a real PCM-WAV corpus
    (operators/audio_dedup.py): stdlib WAV decode → 64-bit
    energy-envelope gradient signature → shared banded-Hamming
    candidate/verify core. Rows-only (pixel/sample pipelines are not
    SQL-expressible); quantitative evidence is the planted
    noise-perturbed pair recall recorded by tools/oracle_check.py.
    Completes the near-dup modality triple: text (MinHash/SimHash),
    image (dHash), audio (this)."""
    d = _t(spark, sf_dir, "documents")
    corpus = aud.synthesize_wav_corpus(d)
    return aud.audio_neardup(corpus, bands=4, max_hamming=6)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Ordering contract: every ORACLE_SQL-backed query comes FIRST, rows-only
# (hash/recall-tested) queries LAST. The correctness driver snapshots the
# first DRIVER_SNAPSHOT_WINDOW entries; keeping oracle-able queries inside
# that window is what turns local green into recorded evidence.
# tests/test_registry_contract.py pins this invariant.

# The driver's snapshot size. Single-sourced here so the contract tests
# and any tooling share one definition (ADVICE r3: the test previously
# duplicated the literal 50 and would have pinned a stale invariant if
# the driver's window ever changed).
DRIVER_SNAPSHOT_WINDOW = 50

# Registry order IS the driver contract: the correctness driver
# snapshots the FIRST ``DRIVER_SNAPSHOT_WINDOW`` (50) entries each
# round. Round-10 window: the round-9 driver artifacts never
# materialized (no CORRECTNESS_r09.json / BENCH_r09.json were written),
# so EVERY query the round-9 rotation put in for first driver contact
# still has zero driver-environment evidence — they all keep their
# slots. (a) the r8/r9 additions with no driver row: the five r8
# additions (incremental_dedup, html_text, windowed_dedup,
# compaction_plan, expectations_exemplars), the two r9-early additions
# (incremental_dedup_bucketed, html_quality), and the five r9-late
# additions that sat past the r9 cut (gapfill_interp,
# tokenizer_fertility, html_links, bm25_score, bm25_topk); (b)
# re-verification slots for implementations changed in round 9 with no
# driver row since: source_overlap (join-free groupBy/collect_set
# restructure), range_join / range_join_bucketed (reserved-column
# guards, ADVICE r8), span_coverage + the minhash family's signature
# stage (input-spread path; minhash_neardup itself is rows-only and
# cannot hold a window slot); (c) retained anchors and prior
# first-greens. Rotated out to fund the five new slots: salted_agg,
# zorder_layout, interval_overlap, expectations, sentence_split — all
# driver-green in r8 on code untouched since (same single-green
# rotation precedent as the r8/r9 rotation-outs). Everything rotated
# out stays green in the committed full-registry local sweeps at both
# scales.
def q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LINEAR interpolation
    (operators/temporal.gapfill_buckets interp_cols — TimescaleDB
    ``interpolate()`` parity): dense 30-minute spine per event_type,
    gap buckets carry the line between the surrounding observed
    integer-milli sums. The interpolation arithmetic is one fixed-order
    expression over exact longs, so the doubles are bit-identical
    cross-engine — the oracleable counterpart to the quantile_cont
    hazard documented at q_percentiles."""
    e = _t(spark, sf_dir, "events").withColumn(
        "v_milli", F.round(F.col("value") * 1000).cast("long")
    )
    out = gapfill_buckets(
        e.select("event_type", "ts", "v_milli"),
        keys=["event_type"],
        ts_col="ts",
        bucket_seconds=1800,
        aggs={"sum_milli": F.sum("v_milli")},
        interp_cols=["sum_milli"],
    )
    return out.select(
        "event_type", "bucket_epoch", "sum_milli", "sum_milli_interp"
    ).orderBy("event_type", "bucket_epoch")


SQL_GAPFILL_INTERP = """
WITH b AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 1800) AS BIGINT) AS idx,
           sum(CAST(round(value * 1000) AS BIGINT))::BIGINT AS sum_milli
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT event_type, min(idx) AS mn, max(idx) AS mx FROM b GROUP BY 1
), spine AS (
    SELECT event_type, unnest(range(mn, mx + 1)) AS idx FROM bounds
), j AS (
    SELECT s.event_type, s.idx, b.sum_milli::DOUBLE AS v
    FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.idx = b.idx
), w AS (
    SELECT event_type, idx, v,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pidx,
           first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY idx
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY idx
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nidx
    FROM j
)
SELECT event_type,
       idx * 1800 AS bucket_epoch,
       CAST(v AS BIGINT) AS sum_milli,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
              THEN pv + (nv - pv) * ((idx - pidx)::DOUBLE / (nidx - pidx)::DOUBLE)
       END AS sum_milli_interp
FROM w ORDER BY event_type, bucket_epoch
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (tokens emitted per word — the
    standard tokenizer-equity diagnostic: a tokenizer that fragments one
    language 3x more than another taxes its context budget and training
    compute): exact integer word / BPE-ish token / char sums per lang,
    fertility as the ONE fixed-order division at the end. One scan, one
    |langs|-row aggregation with map-side combine — the dataset_card
    shape specialized to the tokenizer question."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.token_count_ws(F.col("text"))).cast("long").alias("n_words"),
            F.sum(tx.token_count_bpe(F.col("text"))).cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "fertility",
            # NULL for an all-empty-text group: an unguarded 0/0 is the
            # engine-version-sensitive construct class (DuckDB >= 1.1
            # returns inf/nan where Spark non-ANSI returns NULL)
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
            ),
        )
        .orderBy("lang")
    )


SQL_TOKENIZER_FERTILITY = r"""
WITH sums AS (
    SELECT lang,
           count(*) AS n_docs,
           sum(len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\x0b]+'), x -> x != '')))::BIGINT AS n_words,
           sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]')))::BIGINT AS n_bpe_tokens,
           sum(length(text))::BIGINT AS n_chars
    FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
       CASE WHEN n_words > 0 THEN n_bpe_tokens::DOUBLE / n_words::DOUBLE END AS fertility
FROM sums ORDER BY lang
"""


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph extraction (functions/urls.extract_hrefs → url_host):
    the HTML plane feeding the URL/graph planes — per-host outlink
    counts and distinct linking documents over synthesized markup
    exercising all three href forms (double-quoted, single-quoted,
    unquoted), case-insensitive tag matching, and the <area>/<a name=>
    non-matches. Aggregation is host-keyed so document order is
    irrelevant and the oracle reassembles the same multiset from the
    three per-form group extractions. Map-only extraction; one
    host-keyed aggregation."""
    from ..functions import urls as U

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<p>intro <a href="https://news.example.com/a/'), sid,
        F.lit('">one</a> mid <a class=\'x\' href=\'http://blog.test.com/p'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("'>two</a> <A HREF=https://cdn.example.net/img"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('.png>three</A> <a name="anchor">no href</a>'),
        F.lit('<area href="https://ignored.example.org/x"> tail</p>'),
    )
    links = d.select(
        "doc_id", F.explode(U.extract_hrefs(html)).alias("href")
    ).filter(F.col("href") != "")
    hosted = links.select(
        "doc_id", portable_lower(U.url_host(F.col("href"))).alias("host")
    ).filter(F.col("host") != "")
    return (
        hosted.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("host")
    )


SQL_HTML_LINKS = r"""
WITH h AS (
    SELECT doc_id,
           '<p>intro <a href="https://news.example.com/a/' || doc_id ||
           '">one</a> mid <a class=''x'' href=''http://blog.test.com/p' || (doc_id % 7) ||
           '''>two</a> <A HREF=https://cdn.example.net/img' || (doc_id % 3) ||
           '.png>three</A> <a name="anchor">no href</a>' ||
           '<area href="https://ignored.example.org/x"> tail</p>' AS html
    FROM documents
), g AS (
    SELECT doc_id,
           regexp_extract_all(html, '(?i)<a[ \t\n\r\f][^>]*href[ \t\n\r\f]*=[ \t\n\r\f]*("[^"]*"|''[^'']*''|[^ \t\n\r\f>"'']+)', 1) AS g1
    FROM h
), links AS (
    SELECT doc_id,
           unnest(list_transform(g1, x -> CASE
               WHEN substr(x, 1, 1) IN ('"', '''')
                 THEN substr(x, 2, length(x) - 2)
               ELSE x END)) AS href
    FROM g
), hosted AS (
    SELECT doc_id,
           translate(lower(translate(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1), 'İ', 'i')), 'ς', 'σ') AS host
    FROM links
)
SELECT host, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
FROM hosted WHERE host != ''
GROUP BY host ORDER BY host
"""


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) BM25 components (operators/text.bm25_term_scores)
    for the fixed query {merge, join, column}: exact integer sufficient
    statistics (tf, dl, df_t, n_docs) plus the per-term float score.
    No cross-row float sums — every score is a per-row expression, and
    the hash's 9-dp float canonicalization absorbs the ln() last-ulp
    engine difference (the ewma precedent)."""
    return tx.bm25_term_scores(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        ["merge", "join", "column"],
    ).orderBy("doc_id", "term")


SQL_BM25_SCORE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM documents
), base AS (
    SELECT doc_id, len(ts) AS dl, ts FROM toks
), totals AS (
    SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sum_dl FROM base
), m AS (
    SELECT doc_id, dl,
           unnest(list_filter(ts, t -> t IN ('merge', 'join', 'column'))) AS term
    FROM base
), tf AS (
    SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
    FROM m GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY term
)
SELECT tf.doc_id, tf.term, tf.tf, tf.dl, dfreq.df_t, totals.n_docs,
       ln(1.0 + (totals.n_docs::DOUBLE - dfreq.df_t::DOUBLE + 0.5) / (dfreq.df_t::DOUBLE + 0.5))
         * tf.tf::DOUBLE * 2.2
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl::DOUBLE / (totals.sum_dl::DOUBLE / totals.n_docs::DOUBLE)))
         AS score_term
FROM tf JOIN dfreq USING (term) CROSS JOIN totals
ORDER BY doc_id, term
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked BM25 retrieval (operators/text.bm25_topk) for a 3-query
    batch: per-(doc, term) scores floor to 2^20 fixed-point BEFORE the
    per-(query, doc) sum, so totals and (score_scaled desc, doc_id)
    ranks are exact integers — combine-order-independent AND
    cross-engine-oracleable (the one residual hazard is a score landing
    within one ln-ulp of an integer at the floor, the documented
    weighted_sample log-ulp class; never observed)."""
    return tx.bm25_topk(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        [(1, ["merge", "join"]), (2, ["column", "merge"]), (3, ["window", "value"])],
        k=10,
    ).orderBy("query_id", "rank")


SQL_BM25_TOPK = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'), '[ \t\n\r\f\x0b]+'), x -> x != '') AS ts
    FROM documents
), base AS (
    SELECT doc_id, len(ts) AS dl, ts FROM toks
), totals AS (
    SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sum_dl FROM base
), m AS (
    SELECT doc_id, dl,
           unnest(list_filter(ts, t -> t IN ('merge', 'join', 'column', 'window', 'value'))) AS term
    FROM base
), tf AS (
    SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
    FROM m GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY term
), per_term AS (
    SELECT tf.doc_id, tf.term,
           floor(
             ln(1.0 + (totals.n_docs::DOUBLE - dfreq.df_t::DOUBLE + 0.5) / (dfreq.df_t::DOUBLE + 0.5))
               * tf.tf::DOUBLE * 2.2
               / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl::DOUBLE / (totals.sum_dl::DOUBLE / totals.n_docs::DOUBLE)))
               * 1048576.0
           )::BIGINT AS sq
    FROM tf JOIN dfreq USING (term) CROSS JOIN totals
), qterms AS (
    SELECT * FROM (VALUES
        (1, 'merge'), (1, 'join'),
        (2, 'column'), (2, 'merge'),
        (3, 'window'), (3, 'value')
    ) AS q(query_id, term)
), summed AS (
    SELECT q.query_id, p.doc_id, sum(p.sq)::BIGINT AS score_scaled
    FROM per_term p JOIN qterms q USING (term)
    GROUP BY q.query_id, p.doc_id
), ranked AS (
    SELECT query_id, doc_id, score_scaled,
           row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
    FROM summed
)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank, doc_id, score_scaled,
       score_scaled::DOUBLE / 1048576.0 AS score
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality/language filter (operators/classify — the
    CCNet/GPT-3 linear-classifier curation stage): hashed-BoW logistic
    regression trained distributedly on a text-derived target —
    label = count('merge') > count('join'), a rule the model must
    express through two hashed-feature weights (the fixture's `lang`
    column is NOT text-learnable: the synthetic corpus shares one
    vocabulary across languages, measured majority-class-only under
    every hyperparameter) — returning the full training trajectory
    (iter, loss_q, correct, n) as exact fixed-point longs, bit-stable
    under any partitioning. Raw-count features + harmonic lr decay
    (see classify.py measurements: normalized features oscillate and
    never pass 0.75 here; these settings reach 0.99/0.82 train
    accuracy at sf0.01/sf0.1 vs 0.62 majority). Rows-only at the
    driver gate (xxhash64 features); the evidence block recomputes the
    ENTIRE training bit-for-bit on a single-node numpy reference
    (CORRECTNESS_local.json `quality_classifier`). Like the other
    model-fitting gates (ann_ivf_topk, bpe_tokenize, semdedup), the
    fit runs at build time; the returned frame is the trajectory."""
    from ..operators import classify as clf

    toks = tx.tokens(portable_lower(F.col("text")))
    n_of = lambda word: F.size(F.filter(toks, lambda t: t == word))  # noqa: E731
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (n_of("merge") > n_of("join")).cast("int").alias("label"),
    )
    _, history = clf.train_logreg(
        d, n_features=1024, iters=30, lr=2.0, lr_decay=0.25,
        l1_normalize=False, scale_bits=28,
    )
    return history.orderBy("iter")


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/sampling.dsir_importance +
    dsir_resample — Xie et al. 2023): hashed-bigram importance scores
    of every document against a deterministic target slice
    (doc_id % 10 == 0 — "the distribution we want more of"), plus the
    Gumbel-top-50 importance resample flag. Rows-only at the driver
    gate (xxhash64 feature buckets are not DuckDB-reproducible);
    exact-recompute evidence vs an independent pure-Python DSIR in
    CORRECTNESS_local.json (`dsir` block). score_scaled is the
    bit-stable fixed-point contract; score is its one-division derived
    double."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = d.filter(F.col("doc_id") % 10 == 0)
    scores = sampling.dsir_importance(d, target, n_buckets=4096)
    picked = sampling.dsir_resample(scores, n=50).select(
        "doc_id", F.lit(True).alias("__sel")
    )
    return (
        scores.join(picked, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "score_scaled",
            "score",
            F.coalesce(F.col("__sel"), F.lit(False)).alias("selected"),
        )
        .orderBy("doc_id")
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (operators/similarity.semdedup — SemDeDup, Abbas
    et al. 2023) over embeddings plus perturbed copies (id+1_000_000,
    per-dim multiplicative jitter, cosine-to-original ≈ 0.9998) so the
    fixture exercises the drop path: k-means cells from a hash-ordered
    fit sample, farthest-from-centroid-first greedy keep within each
    cell at cosine >= 0.9. Rows-only at the driver gate (kmeans centers
    are not SQL-reproducible); planted drop-recall and novel-survival
    evidence in CORRECTNESS_local.json (`semdedup` block)."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = _embedding_dim(sf_dir)
    if dim == 0:
        return spark.createDataFrame(
            [], "vec_id long, cell int, keep boolean, max_kept_sim double"
        )
    jitter = F.transform(
        F.col("embedding"),
        lambda x, i: x * (1.0 + 0.02 * F.sin((i + F.col("vec_id")).cast("double"))),
    )
    perturbed = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), jitter.alias("embedding")
    )
    both = e.unionByName(perturbed)
    return sim.semdedup(
        both, n_cells=8, threshold=0.9, fit_sample=2048, seed=7
    ).orderBy("vec_id")


def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (operators/text.unicode_clean): newline
    unification + C0/DEL strip (JVM regexp chain) then NFC via the
    designed Arrow path. Input synthesizes four adversarial shapes from
    documents — decomposed accents (e + U+0301), combining-ring A +
    U+030A, embedded NUL/backspace controls, and the canonical-ORDERING
    case U+1E0B + U+0323 (NFC must reorder to U+1E0D + U+0307 — the
    parity trap between UAX #15 implementations). The DuckDB oracle
    runs the identical regex chain + ``nfc_normalize`` (utf8proc), so
    a hash match certifies byte-for-byte NFC parity between Python's
    unicodedata and utf8proc on all four shapes."""
    d = _t(spark, sf_dir, "documents")
    # explicit escapes, NOT precomposed literals: the whole point is that
    # the INPUT arrives decomposed/dirty and the operator canonicalizes it
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
        .when(F.col("doc_id") % 4 == 1, F.lit("\r\nCafe\u0301"))
        .when(F.col("doc_id") % 4 == 2, F.lit("\u0000A\u030a\u0008!"))
        .otherwise(F.lit("\r\u1e0b\u0323"))
    )
    synth = d.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return tx.unicode_clean(synth).orderBy("doc_id")


SQL_UNICODE_CLEAN = r"""
WITH synth AS (
    SELECT doc_id,
           text || CASE doc_id % 4
               WHEN 0 THEN ''
               WHEN 1 THEN chr(13) || chr(10) || 'Cafe' || chr(769)
               WHEN 2 THEN chr(0) || 'A' || chr(778) || chr(8) || '!'
               ELSE chr(13) || chr(7691) || chr(803)
           END AS raw
    FROM documents
), c AS (
    SELECT doc_id, raw,
           nfc_normalize(
               regexp_replace(
                   regexp_replace(raw, '\r\n?', chr(10), 'g'),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
           ) AS text_clean
    FROM synth
)
SELECT doc_id,
       text_clean,
       length(raw)::BIGINT AS n_raw_chars,
       length(text_clean)::BIGINT AS n_clean_chars,
       CASE WHEN raw != text_clean THEN 1 ELSE 0 END AS changed
FROM c ORDER BY doc_id
"""


def q_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rare-token rate (operators/text.rare_token_ratio)
    over documents: per-doc instance counts of tokens whose corpus
    document frequency is below 3, exact-integer flag at 20%. The
    CCNet-style quality axis the per-doc Gopher rules can't measure."""
    return tx.rare_token_ratio(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        min_df=3,
        max_rare_pct=20,
    ).orderBy("doc_id")


SQL_RARE_TOKEN_RATIO = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(
               string_split_regex(
                   translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
                   '[ \t\n\r\f\x0b]+'),
               x -> x != '')) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
), per_doc AS (
    SELECT tf.doc_id,
           sum(tf)::BIGINT AS n_tokens,
           sum(CASE WHEN df_docs < 3 THEN tf ELSE 0 END)::BIGINT AS n_rare
    FROM tf JOIN dfreq USING (term) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(n_rare, 0)::BIGINT AS n_rare,
       CASE WHEN coalesce(n_tokens, 0) > 0
            THEN coalesce(n_rare, 0)::DOUBLE / coalesce(n_tokens, 1)::DOUBLE
       END AS rare_ratio,
       CASE WHEN coalesce(n_rare, 0) * 100 >= coalesce(n_tokens, 0) * 20
            THEN 1 ELSE 0 END AS flagged
FROM documents d LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture allocation
    (operators/sampling.temperature_allocation, alpha = 0.5, budget
    10000) over the documents sources: sqrt weights (IEEE-exact),
    fixed-order weight fold, largest-remainder integer apportionment.
    The allocation sums to the budget exactly; the oracle recomputes it
    bit-for-bit via list_reduce over the name-sorted weight list."""
    return sampling.temperature_allocation(
        _t(spark, sf_dir, "documents"),
        domain_col="source",
        alpha_halves=1,
        budget=10_000,
    ).orderBy("domain")


SQL_TEMPERATURE_MIXTURE = r"""
WITH c AS (
    SELECT coalesce(source, '') AS domain, count(*)::BIGINT AS n_docs
    FROM documents GROUP BY 1
), w AS (
    SELECT domain, n_docs, sqrt(n_docs::DOUBLE) AS wgt FROM c
), tot AS (
    SELECT list_reduce(list(wgt ORDER BY domain), (a, b) -> a + b) AS w_total
    FROM w
), sh AS (
    SELECT domain, n_docs,
           (10000.0 * wgt) / w_total AS share
    FROM w, tot
), b AS (
    SELECT domain, n_docs,
           floor(share)::BIGINT AS base,
           share - floor(share) AS rem
    FROM sh
), l AS (
    SELECT 10000 - coalesce(sum(base), 0) AS leftover FROM b
), r AS (
    SELECT domain, n_docs, base,
           row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk
    FROM b
)
SELECT domain, n_docs,
       (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS target_n,
       (((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * 1000000) // n_docs)::BIGINT
           AS keep_per_million
FROM r, l ORDER BY domain
"""


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination
    (operators/similarity.semantic_decontaminate): every 50th vector
    plays the benchmark set (the realistic asymmetry — benchmarks are
    tiny, corpora are not), the rest the training corpus; flag corpus
    vectors whose nearest benchmark cosine reaches 0.40. Benchmark
    broadcast, map-side scoring, partial-aggregating struct-max argmax over |benchmark|-bounded
    groups — the corpus is scanned once and its vectors never shuffle."""
    e = _t(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % 50 == 0)
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    return sim.semantic_decontaminate(
        corpus, bench, threshold=0.40
    ).orderBy("vec_id")


SQL_SEMANTIC_DECONTAMINATE = """
WITH b AS (
    -- unit-normalize once per ROW, mirroring the operator's per-pair
    -- float sequence exactly: x / sqrt(dot) per element (zero-norm
    -- vectors stay as-is -> all products 0 -> sim 0.0)
    SELECT vec_id AS bench_id,
           CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
                THEN [x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      FOR x IN embedding::DOUBLE[]]
                ELSE embedding::DOUBLE[] END AS bu
    FROM embeddings WHERE vec_id % 50 = 0
), c AS (
    SELECT vec_id,
           CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
                THEN [x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      FOR x IN embedding::DOUBLE[]]
                ELSE embedding::DOUBLE[] END AS cu
    FROM embeddings WHERE vec_id % 50 <> 0
), s AS (
    SELECT c.vec_id, b.bench_id,
           list_dot_product(cu, bu) AS sim
    FROM c CROSS JOIN b
), r AS (
    SELECT vec_id, bench_id, sim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, bench_id ASC) AS rk
    FROM s
)
SELECT vec_id,
       bench_id AS nearest_bench_id,
       sim AS max_sim,
       CASE WHEN sim >= 0.40 THEN 1 ELSE 0 END AS contaminated
FROM r WHERE rk = 1 ORDER BY vec_id
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-1 bigram
    LM (operators/text.lm_perplexity) — CCNet-style fluency scoring.
    Fixed-point per-bigram log-probs, integer per-doc sums (the bm25
    determinism discipline), one bigram-keyed scoring join."""
    return tx.lm_perplexity(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


SQL_LM_PERPLEXITY = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
                   '[ \t\n\r\f\x0b]+'),
               x -> x != '') AS ts
    FROM documents
), t0 AS (
    SELECT doc_id,
           [ {'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts)) ] AS gs
    FROM toks
), p AS (
    SELECT doc_id, unnest(gs, recursive := true) FROM t0
), docbg AS (
    SELECT doc_id, w1, w2, count(*)::BIGINT AS c_doc FROM p GROUP BY 1, 2, 3
), big AS (
    SELECT w1, w2, sum(c_doc)::BIGINT AS c_big FROM docbg GROUP BY 1, 2
), uni AS (
    SELECT w1, sum(c_big)::BIGINT AS c_uni FROM big GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT w2)::BIGINT AS v_size FROM big
), term AS (
    SELECT big.w1, big.w2,
           floor(ln((c_big + 1)::DOUBLE / (c_uni + v_size)::DOUBLE)
                 * 1048576.0)::BIGINT AS lp_scaled
    FROM big JOIN uni USING (w1), vocab
), scored AS (
    SELECT doc_id,
           sum(c_doc)::BIGINT AS n_bigrams,
           sum(c_doc * lp_scaled)::BIGINT AS sum_logprob_scaled
    FROM docbg JOIN term USING (w1, w2) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sum_logprob_scaled, 0)::BIGINT AS sum_logprob_scaled,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN (sum_logprob_scaled::DOUBLE / 1048576.0) / n_bigrams::DOUBLE
       END AS avg_logprob
FROM documents d LEFT JOIN scored USING (doc_id)
ORDER BY doc_id
"""


def q_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-BACKED curation composition — the SQL-mirrorable
    sibling of the rows-only `curation_pipeline` capstone: Unicode NFC
    clean -> corpus-relative rarity gate -> bigram-LM fluency gate ->
    exact-dedup keeper, fused into one lazy DAG. Every decision is an
    exact-integer comparison (cross-multiplied rarity, fixed-point LM
    threshold ``sum_scaled >= n_bigrams * floor(-3.4 * 2^20)``,
    min-id keeper), so the composed verdict — not just each stage —
    hash-matches DuckDB bit-for-bit. The cleaned frame is lazily
    checkpointed: it feeds three consumers (rarity, LM, dedup) and
    would otherwise run the Arrow NFC pass three times."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cleaned = (
        tx.unicode_clean(d)
        .select("doc_id", F.col("text_clean").alias("text"))
        .localCheckpoint(eager=False)
    )
    rare = tx.rare_token_ratio(cleaned, min_df=3, max_rare_pct=30).select(
        "doc_id", "n_tokens", "n_rare"
    )
    lm = tx.lm_perplexity(cleaned).select(
        "doc_id", "n_bigrams", "sum_logprob_scaled"
    )
    keepers = dd.exact_dedup(cleaned).select(
        F.col("keeper_id").alias("doc_id"), F.lit(1).alias("is_keeper")
    )
    lm_floor = -3565159  # floor(-3.4 * 2^20): nats-per-bigram cutoff
    # rare is TOTAL over cleaned's doc_ids (rare_token_ratio left-joins
    # its own base internally), so it IS the base frame — a separate
    # cleaned.select(doc_id) join would add a provably-no-op exchange
    return (
        rare.join(lm, "doc_id")
        .join(keepers, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            "n_bigrams",
            "sum_logprob_scaled",
            F.coalesce("is_keeper", F.lit(0)).cast("int").alias("is_keeper"),
            F.when(
                (F.col("n_tokens") >= 10)
                & (F.col("n_rare") * 100 < F.col("n_tokens") * 30)
                & (
                    (F.col("n_bigrams") == 0)
                    | (
                        F.col("sum_logprob_scaled")
                        >= F.col("n_bigrams") * F.lit(lm_floor)
                    )
                )
                & F.col("is_keeper").isNotNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


SQL_CURATION_GATE = r"""
WITH cleaned AS (
    SELECT doc_id,
           nfc_normalize(
               regexp_replace(
                   regexp_replace(text, '\r\n?', chr(10), 'g'),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
           ) AS text
    FROM documents
), toks AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
                   '[ \t\n\r\f\x0b]+'),
               x -> x != '') AS ts
    FROM cleaned
), flat AS (
    SELECT doc_id, unnest(ts) AS term FROM toks
), tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf FROM flat GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
), rare AS (
    SELECT tf.doc_id,
           sum(tf)::BIGINT AS n_tokens,
           sum(CASE WHEN df_docs < 3 THEN tf ELSE 0 END)::BIGINT AS n_rare
    FROM tf JOIN dfreq USING (term) GROUP BY 1
), t0 AS (
    SELECT doc_id,
           [ {'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts)) ] AS gs
    FROM toks
), p AS (
    SELECT doc_id, unnest(gs, recursive := true) FROM t0
), docbg AS (
    SELECT doc_id, w1, w2, count(*)::BIGINT AS c_doc FROM p GROUP BY 1, 2, 3
), big AS (
    SELECT w1, w2, sum(c_doc)::BIGINT AS c_big FROM docbg GROUP BY 1, 2
), uni AS (
    SELECT w1, sum(c_big)::BIGINT AS c_uni FROM big GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT w2)::BIGINT AS v_size FROM big
), term AS (
    SELECT big.w1, big.w2,
           floor(ln((c_big + 1)::DOUBLE / (c_uni + v_size)::DOUBLE)
                 * 1048576.0)::BIGINT AS lp_scaled
    FROM big JOIN uni USING (w1), vocab
), lm AS (
    SELECT doc_id,
           sum(c_doc)::BIGINT AS n_bigrams,
           sum(c_doc * lp_scaled)::BIGINT AS sum_logprob_scaled
    FROM docbg JOIN term USING (w1, w2) GROUP BY 1
), keepers AS (
    SELECT min(doc_id) AS doc_id
    FROM cleaned
    GROUP BY sha256(regexp_replace(
        translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
        '[ \t\n\r\f\x0b]+', ' ', 'g'))
)
SELECT c.doc_id,
       coalesce(rare.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(rare.n_rare, 0)::BIGINT AS n_rare,
       coalesce(lm.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(lm.sum_logprob_scaled, 0)::BIGINT AS sum_logprob_scaled,
       CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_keeper,
       CASE WHEN coalesce(rare.n_tokens, 0) >= 10
             AND coalesce(rare.n_rare, 0) * 100 < coalesce(rare.n_tokens, 0) * 30
             AND (coalesce(lm.n_bigrams, 0) = 0
                  OR coalesce(lm.sum_logprob_scaled, 0)
                     >= coalesce(lm.n_bigrams, 0) * -3565159)
             AND k.doc_id IS NOT NULL
            THEN 1 ELSE 0 END AS kept
FROM cleaned c
LEFT JOIN rare USING (doc_id)
LEFT JOIN lm USING (doc_id)
LEFT JOIN keepers k USING (doc_id)
ORDER BY c.doc_id
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.winnow_fingerprints,
    k=8, w=4 — MOSS): md5 k-gram hashes, rightmost-min-per-window
    selection, distinct (hash, pos) pairs per document. Any shared
    substring of >= w+k-1 chars yields an identical fingerprint in
    both documents. Fully map-side until the exploded output."""
    return tx.winnow_fingerprints(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=8, w=4
    ).orderBy("doc_id", "pos")


SQL_WINNOWING = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM documents
), g AS (
    SELECT doc_id,
           [ {'h': md5(substring(t, i, 8)), 'p': i::BIGINT}
             for i in range(1, len(t) - 8 + 2) ] AS grams
    FROM norm WHERE len(t) >= 8
), p AS (
    -- list_distinct over STRUCT lists is unimplemented in DuckDB
    -- (histogram-backed), so dedup happens row-wise after the unnest;
    -- the window is spelled as EXPLICIT element access (w = 4), not a
    -- bracket slice — slice end-inclusivity is build-sensitive
    -- (oracle-lint hazard family B)
    SELECT doc_id,
           [ list_reduce([grams[j], grams[j+1], grams[j+2], grams[j+3]],
                         (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
             for j in range(1, len(grams) - 4 + 2) ] AS picks
    FROM g WHERE len(grams) >= 4
), e AS (
    SELECT doc_id, unnest(picks) AS fp FROM p
)
SELECT DISTINCT doc_id, fp.h AS fp_hash, fp.p AS pos
FROM e
ORDER BY doc_id, pos
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-verifiable near-dup PAIRS via shared winnowing
    fingerprints (operators/text.winnow_overlap, k=8 w=4 min_shared=3
    cap=20): corpus = documents + perturbed near-dup copies (+1M ids,
    appended suffix — the curation_pipeline construction), so every
    planted pair must surface with high overlap. The MinHash/SimHash
    families are rows-only by construction; this pair set and its
    counts reproduce bit-for-bit in DuckDB (md5 fingerprints)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    return tx.winnow_overlap(
        corpus, k=8, w=4, min_shared=3, max_fp_docs=20
    ).orderBy("doc_id_a", "doc_id_b")


SQL_WINNOW_OVERLAP = r"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' near dup suffix tail' AS text
    FROM documents
), norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM corpus
), g AS (
    SELECT doc_id,
           [ {'h': md5(substring(t, i, 8)), 'p': i::BIGINT}
             for i in range(1, len(t) - 8 + 2) ] AS grams
    FROM norm WHERE len(t) >= 8
), p AS (
    SELECT doc_id,
           [ list_reduce([grams[j], grams[j+1], grams[j+2], grams[j+3]],
                         (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
             for j in range(1, len(grams) - 4 + 2) ] AS picks
    FROM g WHERE len(grams) >= 4
), e AS (
    SELECT doc_id, unnest(picks) AS fp FROM p
), fps AS MATERIALIZED (
    -- MATERIALIZED: fps feeds freq AND kept, kept feeds totals AND both
    -- self-join sides; plain CTEs re-inline the md5 pipeline per
    -- consumer (measured 77 s -> 21 s at sf0.1)
    SELECT DISTINCT doc_id AS id, fp.h AS fp_hash FROM e
), freq AS (
    SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) <= 20
), kept AS MATERIALIZED (
    SELECT fps.id, fps.fp_hash FROM fps JOIN freq USING (fp_hash)
), totals AS (
    SELECT id, count(*)::BIGINT AS n_fp FROM kept GROUP BY 1
), pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
    FROM kept a JOIN kept b USING (fp_hash)
    WHERE a.id < b.id
    GROUP BY 1, 2
    HAVING count(*) >= 3
)
SELECT pairs.id_a AS doc_id_a,
       pairs.id_b AS doc_id_b,
       pairs.n_shared,
       ta.n_fp AS n_fp_a,
       tb.n_fp AS n_fp_b,
       ((pairs.n_shared * 1000) // ta.n_fp)::BIGINT AS overlap_pm_a
FROM pairs
JOIN totals ta ON ta.id = pairs.id_a
JOIN totals tb ON tb.id = pairs.id_b
ORDER BY doc_id_a, doc_id_b
"""


def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-PORTABLE banded MinHash near-dup pairs
    (operators/dedup.minhash_portable_pairs): md5 hash family instead of
    xxhash64, so the exact candidate-pair set + signature agreement
    counts hash-match DuckDB — the registry's first fully
    oracle-verifiable MinHash (minhash_neardup stays the xxhash64
    throughput path with recall evidence). Corpus = documents +
    perturbed near-dup copies; 16 hashes x 4 bands, agreement
    threshold 8/16 (integer, never a float compare)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" portable minhash tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    return dd.minhash_portable_pairs(
        corpus, num_hashes=_MH_NUM_HASHES, bands=_MH_BANDS,
        shingle_k=_MH_SHINGLE_K, min_agree=_MH_MIN_AGREE,
        max_bucket_size=_MH_BUCKET_CAP,
    ).orderBy("doc_id_a", "doc_id_b")


# Shared geometry for the portable MinHash family (ADVICE r13: one
# source of truth — these constants generate BOTH the Spark wrapper
# calls and the DuckDB CTE text below, like _PACK_*/_KM_*, so editing
# the cap or band shape in one place cannot silently diverge).
_MH_NUM_HASHES = 16
_MH_BANDS = 4
_MH_BUCKET_CAP = 50
_MH_SHINGLE_K = 3
_MH_MIN_AGREE = 8  # the minhash_portable gate's threshold (8/16)
_MH_ROWS_PER_BAND = _MH_NUM_HASHES // _MH_BANDS
assert _MH_ROWS_PER_BAND * _MH_BANDS == _MH_NUM_HASHES


def _mh_banded_lines() -> str:
    lines = []
    for b in range(_MH_BANDS):
        cols = "||'|'||".join(
            f"sig[{b * _MH_ROWS_PER_BAND + i + 1}]"
            for i in range(_MH_ROWS_PER_BAND)
        )
        if b == 0:
            lines.append(
                f"    SELECT id, sig, 0 AS band, md5({cols}) AS bucket FROM sigs"
            )
        else:
            lines.append(f"    UNION ALL SELECT id, sig, {b}, md5({cols}) FROM sigs")
    return "\n".join(lines)


# CTE chain through `cand` (id_a, id_b, sig_agree), parameterized on
# the perturbation suffix — shared by the minhash_portable gate and the
# dedup_calibration composition (round 13), so the two gates cannot
# drift on normalization, shingling, seeds, banding, or the cap.
# The signature/band/candidate chain alone (norm -> cand), reusable
# over ANY corpus CTE exposing (doc_id, text) — round 14: the
# curation_pipeline conversion feeds it the post-gate post-exact-dedup
# survivor set instead of the suffix-perturbed fixture corpus.
_MH_PAIR_CHAIN = r""", norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM corpus
), tok AS (
    SELECT doc_id, list_filter(string_split(t, ' '), x -> x != '') AS toks
    FROM norm
), sh AS (
    -- shingle slice spelled as EXPLICIT element access (k = __K__):
    -- bracket slice end-inclusivity is build-sensitive (oracle-lint
    -- hazard B)
    SELECT doc_id,
           list_distinct([ __SHINGLE__
                           for i in range(1, len(toks) - __K__ + 2) ]) AS shingles
    FROM tok WHERE len(toks) >= __K__
), sigs AS MATERIALIZED (
    -- MATERIALIZED: the band branches reference sigs; inlined, the
    -- __H__-seed md5 signature build runs once per branch
    SELECT doc_id AS id,
           [ list_aggregate([ md5(s::VARCHAR || ':' || g) for g in shingles ], 'min')
             for s in range(0, __H__) ] AS sig
    FROM sh WHERE len(shingles) >= 1
), banded AS MATERIALIZED (
__BANDED__
), small AS (
    SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) <= __CAP__
), bk AS (
    SELECT banded.* FROM banded JOIN small USING (band, bucket)
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           len(list_filter(range(1, __H__ + 1), i -> a.sig[i] = b.sig[i]))::BIGINT AS sig_agree
    FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)"""

_MH_PAIR_CHAIN = (
    _MH_PAIR_CHAIN.replace(
        "__SHINGLE__",
        " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]"
                           for j in range(_MH_SHINGLE_K)),
    )
    .replace("__BANDED__", _mh_banded_lines())
    .replace("__K__", str(_MH_SHINGLE_K))
    .replace("__H__ + 1", str(_MH_NUM_HASHES + 1))
    .replace("__H__", str(_MH_NUM_HASHES))
    .replace("__CAP__", str(_MH_BUCKET_CAP))
)

_MINHASH_PORTABLE_CTES = (
    r"""corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || '__SUFFIX__' AS text
    FROM documents
)"""
    + _MH_PAIR_CHAIN
)


def _minhash_portable_ctes(suffix: str) -> str:
    assert "'" not in suffix
    return _MINHASH_PORTABLE_CTES.replace("__SUFFIX__", suffix)


SQL_MINHASH_PORTABLE = (
    "WITH " + _minhash_portable_ctes(" portable minhash tail")
    + """
SELECT id_a AS doc_id_a, id_b AS doc_id_b, sig_agree,
       (sig_agree::DOUBLE / {H}) AS est_jaccard
FROM cand WHERE sig_agree >= {A}
ORDER BY doc_id_a, doc_id_b
""".format(H=_MH_NUM_HASHES, A=_MH_MIN_AGREE)
)

# dedup_calibration's mirror: the SAME portable-pair CTEs (different
# perturbation suffix) feeding the SAME sweep chain the events gate
# uses, at 32 buckets. floor((sig_agree/16) * 1024) is exact
# (power-of-two scale on a power-of-two ratio), so the whole curve is
# integer-exact cross-engine.
SQL_DEDUP_CALIBRATION = _threshold_sweep_sql(
    _minhash_portable_ctes(" near-dup-suffix")
    + """, d AS (
    SELECT CAST(floor((sig_agree::DOUBLE / {H}) * 1024) AS BIGINT) AS sv,
           (id_b - id_a = 1000000) AS y
    FROM cand WHERE sig_agree >= 1
)""".format(H=_MH_NUM_HASHES),
    32,
)

# curation_pipeline's near-dup gate: min_agree 15/16 is the integer
# spelling of the old min_est_jaccard=0.9 threshold (ceil(0.9 * 16)).
# Shared between the Spark wrapper and the SQL mirror below.
_CP_MIN_AGREE = 15

# The full curation-pipeline mirror (round 14, VERDICT r13 #6): every
# stage of the capstone composition spelled in DuckDB — the
# text_quality BPE-regex gate, sha256 exact-dedup keepers, the shared
# _MH_PAIR_CHAIN over the SURVIVOR corpus (this is why the chain was
# split from its fixture-corpus header), and connected components as a
# recursive min-label transitive closure: labels propagate along
# bidirected edges, UNION-dedup recursion reaches the exact fixpoint,
# min(label) per node IS the component's canonical id (the same
# min-id convention dedup_clusters uses). One keeper per cluster makes
# n_final == n_clusters in both engines by construction; the mirror
# still derives n_final from its own keeper-count subquery so the
# equality is computed, not assumed.
SQL_CURATION_PIPELINE = (
    """
WITH RECURSIVE base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' near-dup-suffix' AS text
    FROM documents
), quality AS MATERIALIZED (
    SELECT doc_id, text, length(text)::BIGINT AS n_chars
    FROM base
    WHERE len(regexp_extract_all(text, '__BPE_RE__')) >= __MIN_BPE__
), exact AS (
    SELECT min(doc_id) AS keeper_id
    FROM quality
    GROUP BY sha256(__NORM_TEXT__)
), corpus AS MATERIALIZED (
    SELECT q.doc_id, q.text, q.n_chars
    FROM quality q JOIN exact e ON q.doc_id = e.keeper_id
)"""
    + _MH_PAIR_CHAIN
    + """, pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM cand WHERE sig_agree >= {A}
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM corpus
    UNION
    SELECT e.u AS node, r.label FROM edges e JOIN reach r ON r.node = e.v
), comp AS MATERIALIZED (
    SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
), keepers AS (
    SELECT cluster_id,
           min(struct_pack(neg_chars := -c.n_chars, id := c.doc_id)) AS pick
    FROM comp JOIN corpus c USING (doc_id)
    GROUP BY cluster_id
)
SELECT
    (SELECT count(*) FROM base)::BIGINT AS n_input,
    (SELECT count(*) FROM quality)::BIGINT AS n_quality,
    (SELECT count(*) FROM corpus)::BIGINT AS n_after_exact,
    (SELECT count(*) FROM pairs)::BIGINT AS n_pairs,
    (SELECT count(DISTINCT cluster_id) FROM comp)::BIGINT AS n_clusters,
    (SELECT count(*) FROM keepers)::BIGINT AS n_final
""".format(A=_CP_MIN_AGREE)
)
SQL_CURATION_PIPELINE = (
    SQL_CURATION_PIPELINE
    .replace("__BPE_RE__", _SQL_BPE_TOKEN_RE)
    .replace("__MIN_BPE__", str(_CP_MIN_BPE))
    .replace("__NORM_TEXT__", _SQL_NORM_TEXT)
)


def q_incremental_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run NEAR-dup manifest made ENGINE-PORTABLE (VERDICT r11
    #4, operators/manifest.incremental_neardup_run_portable): the
    persisted artifact stores md5 MinHash signatures + band buckets
    (the minhash_portable family), so any engine can audit the manifest
    and reproduce the daily keep/drop decisions bit-for-bit — unlike
    the xxhash64 manifest (incremental_neardup), whose signatures only
    Spark can recompute.

    The gate runs the REAL two-run lifecycle through parquet on disk:
    run 1 probes yesterday's batch (doc_id%3==0) against an EMPTY
    manifest (all survive — within-batch dedup is out of scope by the
    family's documented composition rule) and appends their signature
    rows; run 2 probes today's batch — the remaining docs plus planted
    perturbed copies of yesterday's (id+1e6, suffixed text) — against
    the re-read manifest and returns one row per batch-2 doc:
    (doc_id, max_agree, is_survivor). Docs too short to sign survive
    with max_agree 0 (row conservation). The DuckDB mirror recomputes
    both batches' signatures from scratch — hash equality across the
    write -> read -> probe round trip IS the portability claim.
    Self-cleaning: scores are eagerly checkpointed, the temp manifest
    dir is removed before returning (the bucketed gate's pattern)."""
    import shutil
    import tempfile

    from ..operators import manifest as mf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch1 = d.filter(F.col("doc_id") % 3 == 0)
    batch2 = d.filter(F.col("doc_id") % 3 != 0).unionByName(
        batch1.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" portable manifest tail")).alias(
                "text"
            ),
        )
    )
    path = tempfile.mkdtemp(prefix="neardup_portable_")
    try:
        mf.incremental_neardup_run_portable(
            spark, batch1, path, run_id="day1"
        )
        scored = mf.incremental_neardup_run_portable(
            spark, batch2, path, run_id="day2"
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return scored.orderBy("doc_id")


SQL_INCREMENTAL_NEARDUP_PORTABLE = r"""
WITH b1 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
), b2 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' portable manifest tail'
    FROM documents WHERE doc_id % 3 = 0
), all_docs AS (
    SELECT 1 AS batch, doc_id, text FROM b1
    UNION ALL SELECT 2, doc_id, text FROM b2
), norm AS (
    SELECT batch, doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM all_docs
), tok AS (
    SELECT batch, doc_id, list_filter(string_split(t, ' '), x -> x != '') AS toks
    FROM norm
), sh AS (
    -- shingle slice spelled as EXPLICIT element access (k = 3): bracket
    -- slice end-inclusivity is build-sensitive (oracle-lint hazard B)
    SELECT batch, doc_id,
           list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           for i in range(1, len(toks) - 3 + 2) ]) AS shingles
    FROM tok WHERE len(toks) >= 3
), sigs AS MATERIALIZED (
    SELECT batch, doc_id AS id,
           [ list_aggregate([ md5(s::VARCHAR || ':' || g) for g in shingles ], 'min')
             for s in range(0, 16) ] AS sig
    FROM sh WHERE len(shingles) >= 1
), banded AS MATERIALIZED (
    SELECT batch, id, sig, 0 AS band, md5(sig[1]||'|'||sig[2]||'|'||sig[3]||'|'||sig[4]) AS bucket FROM sigs
    UNION ALL SELECT batch, id, sig, 1, md5(sig[5]||'|'||sig[6]||'|'||sig[7]||'|'||sig[8]) FROM sigs
    UNION ALL SELECT batch, id, sig, 2, md5(sig[9]||'|'||sig[10]||'|'||sig[11]||'|'||sig[12]) FROM sigs
    UNION ALL SELECT batch, id, sig, 3, md5(sig[13]||'|'||sig[14]||'|'||sig[15]||'|'||sig[16]) FROM sigs
), m AS (
    -- run-1 appends ALL of batch 1 (empty-manifest probe: everything
    -- survives), so the manifest run 2 reads is batch 1's banded rows
    SELECT id, sig, band, bucket FROM banded WHERE batch = 1
), small AS (
    SELECT band, bucket FROM m GROUP BY 1, 2 HAVING count(*) <= 50
), mk AS (
    SELECT m.* FROM m JOIN small USING (band, bucket)
), coll AS (
    SELECT DISTINCT p.id AS bid, mk.id AS mid
    FROM (SELECT id, band, bucket FROM banded WHERE batch = 2) p
    JOIN mk USING (band, bucket)
), best AS (
    SELECT coll.bid,
           max(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])))::BIGINT AS max_agree
    FROM coll
    JOIN (SELECT id, sig FROM sigs WHERE batch = 2) sa ON sa.id = coll.bid
    JOIN (SELECT id, sig FROM sigs WHERE batch = 1) sb ON sb.id = coll.mid
    GROUP BY 1
)
SELECT b2.doc_id,
       coalesce(best.max_agree, 0)::BIGINT AS max_agree,
       coalesce(best.max_agree, 0) < 8 AS is_survivor
FROM b2 LEFT JOIN best ON best.bid = b2.doc_id
ORDER BY doc_id
"""


# ONE home for the simhash gate's parameters: q_simhash_portable and the
# generated oracle both read these, so a tune cannot drift the two sides
# (review r11c #3; the block geometry/lookup additionally shares
# dd.simhash_combo_tables since round 12).
_SIMHASH_Q_MAX_HAMMING = 7
_SIMHASH_Q_COMBO_R = 2
_SIMHASH_Q_CAP = 200


def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-PORTABLE SimHash near-dup pairs with EXACT Hamming
    semantics (operators/dedup.simhash_portable_pairs): md5-derived
    60-bit token hashes, integer bit-sum signs, pigeonhole blocks
    (max_hamming+1 slices => exact candidate recall), bit_count
    verification — the SimHash analogue of minhash_portable, and the
    family's first hash-verified pair set (simhash_neardup stays the
    xxhash64 throughput path with recall evidence). Corpus = documents
    + perturbed copies; h <= 7 recovers ~0.93 of planted pairs with the
    rest quantified in the evidence block."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        # \r\n between words: exercises the CR member of the portable
        # whitespace class on every run (ADVICE r11 — a \r-less oracle
        # class was latent until the fixture contained one)
        F.concat(F.col("text"), F.lit(" portable\r\nsimhash tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    return dd.simhash_portable_pairs(
        corpus,
        max_hamming=_SIMHASH_Q_MAX_HAMMING,
        combo_r=_SIMHASH_Q_COMBO_R,
        max_block_size=_SIMHASH_Q_CAP,
    ).orderBy("doc_id_a", "doc_id_b")


def _simhash_portable_sql() -> str:
    """The DuckDB mirror, generated: the 60 bit-sum aggregates, the
    combination-blocking branches, the intact-block bitmask and the
    first-intact-combo lookup are all mechanical expansions of the SAME
    geometry tables the operator uses (``dd.simhash_combo_tables``), so
    the two sides cannot drift on block widths, subset order, key
    composition, or the first-match cap semantics (round 12 upgraded
    the portable family from single 7-bit slices — quadratic beyond
    ~10k docs — to the headline family's pair-of-slices keys)."""
    bits = dd.SIMHASH_PORTABLE_BITS
    splits, subsets, first_combo = dd.simhash_combo_tables(
        bits, _SIMHASH_Q_MAX_HAMMING, _SIMHASH_Q_COMBO_R
    )
    sums = ",\n           ".join(
        f"sum(tf * (((h >> {j}) & 1) * 2 - 1))::BIGINT AS s{j}"
        for j in range(bits)
    )
    shbits = "\n             + ".join(
        f"(CASE WHEN s{j} > 0 THEN 1::BIGINT << {j} ELSE 0::BIGINT END)"
        for j in range(bits)
    )

    def key_expr(subset: tuple[int, ...]) -> str:
        # mirrors the operator's fold: key = (key << w_b) | piece_b,
        # spelled arithmetically (piece_b < 2^w_b, so | == +)
        expr = None
        for b in subset:
            off, w = splits[b]
            piece = f"((sh >> {off}) & {(1 << w) - 1})"
            expr = piece if expr is None else f"({expr} * {1 << w} + {piece})"
        return expr

    blocked = "\n    UNION ALL ".join(
        f"SELECT doc_id, {t} AS t, {key_expr(subset)} AS v FROM sh"
        for t, subset in enumerate(subsets)
    )
    imask = "\n             + ".join(
        f"(CASE WHEN (x >> {off}) & {(1 << w) - 1} = 0 THEN {1 << b} ELSE 0 END)"
        for b, (off, w) in enumerate(splits)
    )
    lookup = ", ".join(str(v) for v in first_combo)
    return rf"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || ' portable' || chr(13) || chr(10) || 'simhash tail' AS text
    FROM documents
), norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '{PORTABLE_WS_PLUS}', ' ', 'g') AS t
    FROM corpus
), tokrows AS (
    SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> x != '')) AS tok
    FROM norm
), tf AS (
    SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tokrows GROUP BY 1, 2
), ph AS MATERIALIZED (
    -- 60-bit hash from the first 15 md5 hex chars (hex-digit fold —
    -- DuckDB has no hex-string cast; strpos over the digit alphabet)
    SELECT doc_id, tf,
           list_aggregate([ (strpos('0123456789abcdef', substring(hx, i, 1)) - 1)::BIGINT
                              << (4 * (15 - i))
                            for i in range(1, 16) ], 'sum') AS h
    FROM (SELECT doc_id, tf, md5('sh:' || tok) AS hx FROM tf)
), sums AS (
    SELECT doc_id,
           {sums}
    FROM ph GROUP BY 1
), sh AS MATERIALIZED (
    SELECT doc_id,
           ({shbits})::BIGINT AS sh
    FROM sums
), blocked AS MATERIALIZED (
    {blocked}
), small AS (
    SELECT t, v FROM blocked GROUP BY 1, 2 HAVING count(*) <= {_SIMHASH_Q_CAP}
), bk AS (
    SELECT blocked.* FROM blocked JOIN small USING (t, v)
), cand AS (
    -- one row per (pair, table): the first-match filter below keeps
    -- exactly one, so no DISTINCT is needed (the operator's zero
    -- pair-level-exchange design, mirrored)
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.t AS t
    FROM bk a JOIN bk b2 ON a.t = b2.t AND a.v = b2.v AND a.doc_id < b2.doc_id
), scored AS (
    SELECT cand.id_a, cand.id_b, cand.t,
           xor(sa.sh, sb.sh) AS x,
           bit_count(xor(sa.sh, sb.sh))::BIGINT AS hamming,
           sa.sh AS simhash_a, sb.sh AS simhash_b
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.id_a
    JOIN sh sb ON sb.doc_id = cand.id_b
    WHERE bit_count(xor(sa.sh, sb.sh)) <= {_SIMHASH_Q_MAX_HAMMING}
)
SELECT id_a AS doc_id_a, id_b AS doc_id_b, hamming, simhash_a, simhash_b
FROM scored
WHERE t = ([{lookup}])[
          ({imask}) + 1]
ORDER BY doc_id_a, doc_id_b
"""


SQL_SIMHASH_PORTABLE = _simhash_portable_sql()


def q_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style matched-region localization
    (operators/text.winnow_spans): for each qualifying winnow pair, the
    maximal character spans the shared fingerprints cover on each side
    — the artifact a span-level cleaner excises instead of dropping
    whole documents. Same corpus/params as winnow_overlap, so a pair
    qualifies here iff it pairs there; md5 + integer gaps-and-islands,
    fully oracle-verifiable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    return tx.winnow_spans(
        corpus, k=8, w=4, min_shared=3, max_fp_docs=20
    ).orderBy("doc_id_a", "doc_id_b", "side", "span_start")


# Shared by SQL_WINNOW_SPANS and SQL_SPAN_EXCISE (which cuts the
# side-b spans back out of the corpus text).
_SQL_WINNOW_SPAN_CTES = r"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' near dup suffix tail' AS text
    FROM documents
), norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM corpus
), g AS (
    SELECT doc_id,
           [ {'h': md5(substring(t, i, 8)), 'p': i::BIGINT}
             for i in range(1, len(t) - 8 + 2) ] AS grams
    FROM norm WHERE len(t) >= 8
), p AS (
    SELECT doc_id,
           [ list_reduce([grams[j], grams[j+1], grams[j+2], grams[j+3]],
                         (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
             for j in range(1, len(grams) - 4 + 2) ] AS picks
    FROM g WHERE len(grams) >= 4
), e AS (
    SELECT doc_id, unnest(picks) AS fp FROM p
), fpsp AS MATERIALIZED (
    -- MATERIALIZED: fpsp feeds fpsd AND both position joins; shared
    -- feeds qualification AND the qualified join (the winnow_overlap
    -- re-inlining hazard)
    SELECT DISTINCT doc_id AS id, fp.h AS fp_hash, fp.p AS pos FROM e
), fpsd AS MATERIALIZED (
    SELECT DISTINCT id, fp_hash FROM fpsp
), freq AS (
    SELECT fp_hash FROM fpsd GROUP BY 1 HAVING count(*) <= 20
), kept AS (
    SELECT fpsd.id, fpsd.fp_hash FROM fpsd JOIN freq USING (fp_hash)
), shared AS MATERIALIZED (
    SELECT a.fp_hash, a.id AS id_a, b.id AS id_b
    FROM kept a JOIN kept b USING (fp_hash)
    WHERE a.id < b.id
), qualifying AS (
    SELECT id_a, id_b FROM shared GROUP BY 1, 2 HAVING count(*) >= 3
), qual AS (
    SELECT shared.* FROM shared JOIN qualifying USING (id_a, id_b)
), inst AS (
    SELECT q.id_a, q.id_b, 'a' AS side, f.pos AS s, f.pos + 8 AS e
    FROM qual q JOIN fpsp f ON f.id = q.id_a AND f.fp_hash = q.fp_hash
    UNION ALL
    SELECT q.id_a, q.id_b, 'b' AS side, f.pos AS s, f.pos + 8 AS e
    FROM qual q JOIN fpsp f ON f.id = q.id_b AND f.fp_hash = q.fp_hash
), m AS (
    SELECT id_a, id_b, side, s, e,
           max(e) OVER (PARTITION BY id_a, id_b, side ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM inst
), f2 AS (
    SELECT id_a, id_b, side, s, e,
           CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag
    FROM m
), g2 AS (
    SELECT id_a, id_b, side, s, e,
           sum(flag) OVER (PARTITION BY id_a, id_b, side ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM f2
), spansq AS (
    SELECT id_a, id_b, side,
           min(s)::BIGINT AS span_start,
           (max(e) - 1)::BIGINT AS span_end,
           count(*)::BIGINT AS n_fp
    FROM g2 GROUP BY id_a, id_b, side, island
)
"""

SQL_WINNOW_SPANS = _SQL_WINNOW_SPAN_CTES + r"""
SELECT id_a AS doc_id_a, id_b AS doc_id_b, side, span_start, span_end, n_fp
FROM spansq
ORDER BY doc_id_a, doc_id_b, side, span_start
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/eval split (operators/sampling.
    leakage_safe_split over operators/text.winnow_dedup clusters): one
    md5 uniform PER CLUSTER, fanned out to members, so no near-dup pair
    can straddle the split — the leakage guard row-level splitting
    cannot give (train-on-copy / eval-on-copy contamination, Lee et al.
    2022). Same corpus + cluster build as winnow_dedup, so the whole
    composition (fingerprints -> closure -> split) hash-matches the
    recursive DuckDB mirror; 90/10 split, verdicts compared as hex
    strings, never floats."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    clusters = tx.winnow_dedup(
        corpus, k=8, w=4, min_shared=3, max_fp_docs=20, min_containment_pm=500
    ).select("doc_id", "cluster_id")
    out = leakage_safe_split(
        clusters, {"train": 0.9, "eval": 0.1}, id_col="doc_id"
    )
    return out.select("doc_id", "cluster_id", "split").orderBy("doc_id")


def q_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level cleaning end-to-end (operators/text.excise_spans over
    winnow_spans side-b spans): the detect -> localize -> EXCISE loop —
    shared blocks are cut out of the higher-id document while the
    document survives (vs the whole-doc drop of coarse dedup). Spans
    from different pairs merge per doc (gaps-and-islands, exact
    integers); the oracle reconstructs the identical cleaned strings in
    DuckDB, so the full text surgery hash-matches."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    spans = tx.winnow_spans(corpus, k=8, w=4, min_shared=3, max_fp_docs=20)
    bspans = spans.filter(F.col("side") == "b").select(
        F.col("doc_id_b").alias("doc_id"), "span_start", "span_end"
    )
    return tx.excise_spans(corpus, bspans).orderBy("doc_id")


SQL_SPAN_EXCISE = _SQL_WINNOW_SPAN_CTES + r"""
, bs AS (
    -- DISTINCT is load-bearing, not hygiene: duplicate (s, e) rows
    -- (the same span reached via two different pair partners) make the
    -- island windows' ORDER BY non-total, and DuckDB's parallel window
    -- execution returns NONDETERMINISTIC islands on tied rows (measured
    -- 11/12 unstable repeated executions without this, 0/12 with; the
    -- merge result is provably duplicate-insensitive, so DISTINCT
    -- cannot change the correct answer — it removes the ties that
    -- trigger the instability)
    SELECT DISTINCT id_b AS doc_id, span_start AS s, span_end + 1 AS e
    FROM spansq
    WHERE side = 'b'
), m2 AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM bs
), f3 AS (
    SELECT doc_id, s, e,
           CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag
    FROM m2
), g3 AS (
    SELECT doc_id, s, e,
           sum(flag) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM f3
), islands AS (
    SELECT doc_id, min(s) AS lo, max(e) AS hi FROM g3 GROUP BY doc_id, island
), perdoc AS (
    -- merged islands are DISJOINT, so independently sorted lo/hi lists
    -- stay aligned pairs
    SELECT doc_id,
           list_sort(list(lo)) AS los,
           list_sort(list(hi)) AS his
    FROM islands GROUP BY doc_id
)
SELECT n.doc_id,
       CASE WHEN p.los IS NULL THEN n.t
            ELSE array_to_string(
                [ substring(n.t,
                            CASE WHEN i = 1 THEN 1 ELSE p.his[i-1] END,
                            (CASE WHEN i = len(p.los) + 1 THEN len(n.t) + 1
                                  ELSE p.los[i] END)
                            - (CASE WHEN i = 1 THEN 1 ELSE p.his[i-1] END))
                  for i in range(1, len(p.los) + 2) ], '')
       END AS text_clean,
       coalesce(len(p.los), 0)::BIGINT AS n_spans,
       coalesce(list_aggregate([ p.his[i] - p.los[i]
                                 for i in range(1, len(p.los) + 1) ], 'sum'),
                0)::BIGINT AS n_removed_chars
FROM norm n LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id
"""


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow pairs -> containment gate -> connected-components ->
    min-id keepers (operators/text.winnow_dedup — VERDICT r10 ask #4):
    the registry's first FULLY oracle-verifiable end-to-end near-dup
    DEDUP (md5 fingerprints + exact-integer containment + recursive-CTE
    closure on the DuckDB side). Same corpus construction as
    winnow_overlap (documents + perturbed +1M copies), so each planted
    pair must co-cluster; the >= 500-per-mille containment gate (tested
    against the SMALLER side's fingerprint count, so the verdict is
    id-assignment-independent) is what keeps transitive closure from
    chaining 3-fingerprint noise edges into a mega-component (measured:
    667-member blob without it, max 8 with it). Iterative operator
    (label-propagation rounds), exempt from the laziness contract like
    dedup_clusters."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    out = tx.winnow_dedup(
        corpus, k=8, w=4, min_shared=3, max_fp_docs=20, min_containment_pm=500
    )
    return out.select(
        "doc_id", "cluster_id", F.col("is_keeper").cast("boolean").alias("is_keeper")
    ).orderBy("doc_id")


# MATERIALIZED hints are load-bearing: DuckDB inlines plain CTEs, so the
# recursive `reach` would otherwise re-run the whole md5 fingerprint
# pipeline once per closure iteration (measured 56 s -> 5 s at sf0.01).
# Shared by SQL_WINNOW_DEDUP and SQL_LEAKAGE_SAFE_SPLIT (which splits
# the same clusters instead of marking keepers).
_SQL_WINNOW_CLUSTER_CTES = r"""
WITH RECURSIVE corpus AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' near dup suffix tail' AS text
    FROM documents
), norm AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(text, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM corpus
), g AS (
    SELECT doc_id,
           [ {'h': md5(substring(t, i, 8)), 'p': i::BIGINT}
             for i in range(1, len(t) - 8 + 2) ] AS grams
    FROM norm WHERE len(t) >= 8
), p AS (
    SELECT doc_id,
           [ list_reduce([grams[j], grams[j+1], grams[j+2], grams[j+3]],
                         (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
             for j in range(1, len(grams) - 4 + 2) ] AS picks
    FROM g WHERE len(grams) >= 4
), e AS (
    SELECT doc_id, unnest(picks) AS fp FROM p
), fps AS MATERIALIZED (
    -- MATERIALIZED: fps/kept are multi-consumer (the winnow_overlap
    -- re-inlining hazard, same fix)
    SELECT DISTINCT doc_id AS id, fp.h AS fp_hash FROM e
), freq AS (
    SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) <= 20
), kept AS MATERIALIZED (
    SELECT fps.id, fps.fp_hash FROM fps JOIN freq USING (fp_hash)
), totals AS (
    SELECT id, count(*)::BIGINT AS n_fp FROM kept GROUP BY 1
), pairs0 AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
    FROM kept a JOIN kept b USING (fp_hash)
    WHERE a.id < b.id
    GROUP BY 1, 2
    HAVING count(*) >= 3
), pairs AS MATERIALIZED (
    -- containment gate on the SMALLER side (id-assignment-independent,
    -- review r11 #4): n_shared*1000 >= 500*least(n_fp_a, n_fp_b)
    SELECT id_a, id_b FROM pairs0
    JOIN totals ta ON pairs0.id_a = ta.id
    JOIN totals tb ON pairs0.id_b = tb.id
    WHERE pairs0.n_shared * 1000 >= 500 * least(ta.n_fp, tb.n_fp)
), edges AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e2.src, r.r FROM edges e2 JOIN reach r ON e2.dst = r.id
), comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
"""

SQL_LEAKAGE_SAFE_SPLIT = _SQL_WINNOW_CLUSTER_CTES + r"""
SELECT c.doc_id,
       coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
       CASE WHEN substring(md5('deterministic_split:42:' ||
                 CAST(coalesce(comp.cluster_id, c.doc_id) AS VARCHAR)), 1, 8)
                 < 'e6666665'
            THEN 'train' ELSE 'eval' END AS split
FROM corpus c LEFT JOIN comp ON c.doc_id = comp.id
ORDER BY doc_id
"""

SQL_WINNOW_DEDUP = _SQL_WINNOW_CLUSTER_CTES + r"""
SELECT c.doc_id,
       coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
       c.doc_id = coalesce(comp.cluster_id, c.doc_id) AS is_keeper
FROM corpus c LEFT JOIN comp ON c.doc_id = comp.id
ORDER BY doc_id
"""


def q_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation capstone v2 (VERDICT r11 #5): the full LLM-data loop —
    DETECT shared blocks (winnow_spans) -> EXCISE them from the
    higher-id side (excise_spans) -> quality-GATE the cleaned text
    (corpus-relative rarity + bigram-LM fluency, the curation_gate
    thresholds) -> near-dup DEDUP the cleaned corpus (winnow_dedup:
    pairs -> smaller-side containment -> connected components -> min-id
    keepers) -> leakage-safe SPLIT (one md5 uniform per cluster) —
    fused into ONE lazy DAG whose composed verdicts hash-match the
    DuckDB mirror end to end. Every stage decision is exact-integer /
    string (md5 fingerprints, cross-multiplied rarity, fixed-point LM
    floor, hex split threshold), which is what makes a five-stage
    composition bit-verifiable rather than approximately-similar.

    Composition notes: the gates and the dedup run on the EXCISED text
    (excision is the fine-grained dedup; the cluster pass catches
    near-dups that survive it), the cleaned frame is lazily
    checkpointed once for its four consumers, and every doc keeps a
    row (row conservation: short/NULL docs gate to kept=0 and cluster
    as singletons). Iterative label propagation inside winnow_dedup
    exempts this gate from the laziness contract, like winnow_dedup
    itself."""
    return _curation_capstone_frame(spark, sf_dir, soft=False)


def q_curation_capstone_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation capstone, SOFT-dedup variant (VERDICT r12 #6): the ONLY
    diff vs q_curation_capstone is the dedup stage's verdict — instead
    of the hard min-id ``is_keeper`` removal flag, every document keeps
    a sampling weight of ``1 / |cluster|`` (the soft_dedup_weights
    discipline lifted from exact-hash clusters to the winnow near-dup
    clusters), so a near-dup cluster contributes one document's worth
    of expected training mass without discarding provenance diversity —
    the modern LLM-data default. n_copies is the exact cluster size
    (an unordered count window over the cluster partition — no extra
    exchange beyond the split's own cluster partitioning) and the
    weight is ONE IEEE division of exact integers, bit-identical
    cross-engine."""
    return _curation_capstone_frame(spark, sf_dir, soft=True)


def _curation_capstone_frame(
    spark: SparkSession, sf_dir: str, *, soft: bool
) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup suffix tail")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    spans = tx.winnow_spans(corpus, k=8, w=4, min_shared=3, max_fp_docs=20)
    bspans = spans.filter(F.col("side") == "b").select(
        F.col("doc_id_b").alias("doc_id"), "span_start", "span_end"
    )
    cleaned = tx.excise_spans(corpus, bspans).localCheckpoint(eager=False)
    gate_in = cleaned.select("doc_id", F.col("text_clean").alias("text"))
    rare = tx.rare_token_ratio(gate_in, min_df=3, max_rare_pct=30).select(
        "doc_id", "n_tokens", "n_rare"
    )
    lm = tx.lm_perplexity(gate_in).select(
        "doc_id", "n_bigrams", "sum_logprob_scaled"
    )
    clusters = tx.winnow_dedup(
        gate_in, k=8, w=4, min_shared=3, max_fp_docs=20,
        min_containment_pm=500,
    )
    split = leakage_safe_split(
        clusters.select("doc_id", "cluster_id"),
        {"train": 0.9, "eval": 0.1},
        id_col="doc_id",
    )
    lm_floor = -3565159  # floor(-3.4 * 2^20), the curation_gate cutoff
    if soft:
        from pyspark.sql import Window as _W

        n_copies = F.count(F.lit(1)).over(_W.partitionBy("cluster_id"))
        dedup_cols = [
            n_copies.cast("long").alias("n_copies"),
            (F.lit(1.0) / n_copies).alias("weight"),
        ]
        dedup_src = clusters.select("doc_id")
    else:
        dedup_cols = [F.col("is_keeper")]
        dedup_src = clusters.select(
            "doc_id", F.col("is_keeper").cast("boolean").alias("is_keeper")
        )
    return (
        cleaned.select(
            "doc_id",
            "n_spans",
            "n_removed_chars",
            F.length("text_clean").cast("long").alias("clean_chars"),
        )
        .join(rare, "doc_id")
        .join(lm, "doc_id")
        .join(dedup_src, "doc_id")
        .join(split.select("doc_id", "cluster_id", "split"), "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "n_removed_chars",
            "clean_chars",
            "n_tokens",
            "n_rare",
            "n_bigrams",
            "sum_logprob_scaled",
            F.when(
                (F.col("n_tokens") >= 10)
                & (F.col("n_rare") * 100 < F.col("n_tokens") * 30)
                & (
                    (F.col("n_bigrams") == 0)
                    | (
                        F.col("sum_logprob_scaled")
                        >= F.col("n_bigrams") * F.lit(lm_floor)
                    )
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("kept"),
            "cluster_id",
            *dedup_cols,
            "split",
        )
        .orderBy("doc_id")
    )


# The capstone mirror composes the VERIFIED pieces verbatim: the span
# CTEs (_SQL_WINNOW_SPAN_CTES body), the excision reconstruction
# (SQL_SPAN_EXCISE body), the curation_gate rarity/LM CTEs over the
# cleaned text, the winnow cluster chain re-run on the cleaned text
# (suffix _c — names would otherwise collide with the span chain), and
# the leakage-safe split. MATERIALIZED hints are load-bearing
# throughout (multi-consumer CTEs; the recursive closure would re-run
# the md5 pipeline per iteration without them).
SQL_CURATION_CAPSTONE = _SQL_WINNOW_SPAN_CTES.replace(
    "WITH corpus AS (", "WITH RECURSIVE corpus AS MATERIALIZED ("
) + r"""
, bs AS (
    -- DISTINCT is load-bearing (tied-window hazard; see SQL_SPAN_EXCISE)
    SELECT DISTINCT id_b AS doc_id, span_start AS s, span_end + 1 AS e
    FROM spansq
    WHERE side = 'b'
), m2 AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM bs
), f3 AS (
    SELECT doc_id, s, e,
           CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag
    FROM m2
), g3 AS (
    SELECT doc_id, s, e,
           sum(flag) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM f3
), islands AS (
    SELECT doc_id, min(s) AS lo, max(e) AS hi FROM g3 GROUP BY doc_id, island
), perdoc AS (
    SELECT doc_id,
           list_sort(list(lo)) AS los,
           list_sort(list(hi)) AS his
    FROM islands GROUP BY doc_id
), cleaned AS MATERIALIZED (
    SELECT n.doc_id,
           CASE WHEN p.los IS NULL THEN n.t
                ELSE array_to_string(
                    [ substring(n.t,
                                CASE WHEN i = 1 THEN 1 ELSE p.his[i-1] END,
                                (CASE WHEN i = len(p.los) + 1 THEN len(n.t) + 1
                                      ELSE p.los[i] END)
                                - (CASE WHEN i = 1 THEN 1 ELSE p.his[i-1] END))
                      for i in range(1, len(p.los) + 2) ], '')
           END AS tc,
           coalesce(len(p.los), 0)::BIGINT AS n_spans,
           coalesce(list_aggregate([ p.his[i] - p.los[i]
                                     for i in range(1, len(p.los) + 1) ], 'sum'),
                    0)::BIGINT AS n_removed_chars
    FROM norm n LEFT JOIN perdoc p USING (doc_id)
), toks AS MATERIALIZED (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   translate(lower(translate(trim(tc, ' '), 'İ', 'i')), 'ς', 'σ'),
                   '[ \t\n\r\f\x0b]+'),
               x -> x != '') AS ts
    FROM cleaned
), flat AS (
    SELECT doc_id, unnest(ts) AS term FROM toks
), tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf FROM flat GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
), rare AS (
    SELECT tf.doc_id,
           sum(tf)::BIGINT AS n_tokens,
           sum(CASE WHEN df_docs < 3 THEN tf ELSE 0 END)::BIGINT AS n_rare
    FROM tf JOIN dfreq USING (term) GROUP BY 1
), t0 AS (
    SELECT doc_id,
           [ {'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts)) ] AS gs
    FROM toks
), pbg AS (
    SELECT doc_id, unnest(gs, recursive := true) FROM t0
), docbg AS (
    SELECT doc_id, w1, w2, count(*)::BIGINT AS c_doc FROM pbg GROUP BY 1, 2, 3
), big AS (
    SELECT w1, w2, sum(c_doc)::BIGINT AS c_big FROM docbg GROUP BY 1, 2
), uni AS (
    SELECT w1, sum(c_big)::BIGINT AS c_uni FROM big GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT w2)::BIGINT AS v_size FROM big
), term AS (
    SELECT big.w1, big.w2,
           floor(ln((c_big + 1)::DOUBLE / (c_uni + v_size)::DOUBLE)
                 * 1048576.0)::BIGINT AS lp_scaled
    FROM big JOIN uni USING (w1), vocab
), lm AS (
    SELECT doc_id,
           sum(c_doc)::BIGINT AS n_bigrams,
           sum(c_doc * lp_scaled)::BIGINT AS sum_logprob_scaled
    FROM docbg JOIN term USING (w1, w2) GROUP BY 1
), normc AS (
    SELECT doc_id,
           regexp_replace(
               translate(lower(translate(trim(tc, ' '), 'İ', 'i')), 'ς', 'σ'),
               '[ \t\n\r\f\x0b]+', ' ', 'g') AS t
    FROM cleaned
), gc AS (
    SELECT doc_id,
           [ {'h': md5(substring(t, i, 8)), 'p': i::BIGINT}
             for i in range(1, len(t) - 8 + 2) ] AS grams
    FROM normc WHERE len(t) >= 8
), pc AS (
    SELECT doc_id,
           [ list_reduce([grams[j], grams[j+1], grams[j+2], grams[j+3]],
                         (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
             for j in range(1, len(grams) - 4 + 2) ] AS picks
    FROM gc WHERE len(grams) >= 4
), ec AS (
    SELECT doc_id, unnest(picks) AS fp FROM pc
), fps_c AS MATERIALIZED (
    SELECT DISTINCT doc_id AS id, fp.h AS fp_hash FROM ec
), freq_c AS (
    SELECT fp_hash FROM fps_c GROUP BY 1 HAVING count(*) <= 20
), kept_c AS MATERIALIZED (
    SELECT fps_c.id, fps_c.fp_hash FROM fps_c JOIN freq_c USING (fp_hash)
), totals_c AS (
    SELECT id, count(*)::BIGINT AS n_fp FROM kept_c GROUP BY 1
), pairs0_c AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
    FROM kept_c a JOIN kept_c b USING (fp_hash)
    WHERE a.id < b.id
    GROUP BY 1, 2
    HAVING count(*) >= 3
), pairs_c AS MATERIALIZED (
    SELECT id_a, id_b FROM pairs0_c
    JOIN totals_c ta ON pairs0_c.id_a = ta.id
    JOIN totals_c tb ON pairs0_c.id_b = tb.id
    WHERE pairs0_c.n_shared * 1000 >= 500 * least(ta.n_fp, tb.n_fp)
), edges_c AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs_c
    UNION ALL SELECT id_b, id_a FROM pairs_c
), reach(id, r) AS (
    SELECT DISTINCT src, src FROM edges_c
    UNION
    SELECT e2.src, r.r FROM edges_c e2 JOIN reach r ON e2.dst = r.id
), comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT c.doc_id,
       c.n_spans,
       c.n_removed_chars,
       len(c.tc)::BIGINT AS clean_chars,
       coalesce(rare.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(rare.n_rare, 0)::BIGINT AS n_rare,
       coalesce(lm.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(lm.sum_logprob_scaled, 0)::BIGINT AS sum_logprob_scaled,
       CASE WHEN coalesce(rare.n_tokens, 0) >= 10
             AND coalesce(rare.n_rare, 0) * 100 < coalesce(rare.n_tokens, 0) * 30
             AND (coalesce(lm.n_bigrams, 0) = 0
                  OR coalesce(lm.sum_logprob_scaled, 0)
                     >= coalesce(lm.n_bigrams, 0) * -3565159)
            THEN 1 ELSE 0 END AS kept,
       coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
       c.doc_id = coalesce(comp.cluster_id, c.doc_id) AS is_keeper,
       CASE WHEN substring(md5('deterministic_split:42:' ||
                 CAST(coalesce(comp.cluster_id, c.doc_id) AS VARCHAR)), 1, 8)
                 < 'e6666665'
            THEN 'train' ELSE 'eval' END AS split
FROM cleaned c
LEFT JOIN rare USING (doc_id)
LEFT JOIN lm USING (doc_id)
LEFT JOIN comp ON c.doc_id = comp.id
ORDER BY doc_id
"""

# The soft variant's mirror IS the capstone mirror with ONLY the dedup
# verdict swapped: is_keeper -> (n_copies, weight). A guarded textual
# swap keeps the other four stages literally the same SQL (they cannot
# drift); the count window is unordered over the cluster partition
# (family-H safe: plain aggregate, default frame).
_CAPSTONE_KEEPER_LINE = (
    "       c.doc_id = coalesce(comp.cluster_id, c.doc_id) AS is_keeper,\n"
)
_CAPSTONE_SOFT_LINES = (
    "       count(*) OVER (PARTITION BY coalesce(comp.cluster_id, c.doc_id))"
    "::BIGINT AS n_copies,\n"
    "       CAST(1.0 AS DOUBLE) / count(*) OVER"
    " (PARTITION BY coalesce(comp.cluster_id, c.doc_id)) AS weight,\n"
)
if _CAPSTONE_KEEPER_LINE not in SQL_CURATION_CAPSTONE:  # pragma: no cover
    raise AssertionError(
        "capstone keeper line drifted — update _CAPSTONE_KEEPER_LINE"
    )
SQL_CURATION_CAPSTONE_SOFT = SQL_CURATION_CAPSTONE.replace(
    _CAPSTONE_KEEPER_LINE, _CAPSTONE_SOFT_LINES
)


SPARK_QUERIES = {
    # --- window part (a): round-15 first contacts (percentiles_skew /
    # grouped_topk_skew — the dominant-group skew decompositions,
    # VERDICT r14 #2; posts_export_sharded — the no-collect export
    # path's bytes made oracle-able, VERDICT r14 #5; manifest_diff —
    # the between-snapshot release audit) + retained r14 first
    # contacts + the r15 stats-family re-greens (the stats module grew
    # the skew variant and shared quantile-spec validation) and
    # global_rank (the device the skew variants reuse) ---
    "percentiles_skew": q_percentiles_skew,
    "grouped_topk_skew": q_grouped_topk_skew,
    "posts_export_sharded": q_posts_export_sharded,
    "manifest_diff": q_manifest_diff,
    "packing_efficiency": q_packing_efficiency,
    "curation_pipeline": q_curation_pipeline,
    "percentiles_scalable": q_percentiles_scalable,
    "ann_ivfpq_portable": q_ann_ivfpq_portable,
    "curation_capstone_soft": q_curation_capstone_soft,
    "kcore": q_kcore,
    "sentence_chunks": q_sentence_chunks,
    "dedup_calibration": q_dedup_calibration,
    "sequence_packing_ffd": q_sequence_packing_ffd,
    "curation_capstone": q_curation_capstone,
    "simhash_portable": q_simhash_portable,
    "minhash_portable": q_minhash_portable,
    "threshold_sweep": q_threshold_sweep,
    "sentence_split": q_sentence_split,
    "ann_lsh_portable": q_ann_lsh_portable,
    "soft_dedup_weights": q_soft_dedup_weights,
    # --- r16 re-green slots (VERDICT r15 correctness-gate residual):
    # the three r15-optimized queries whose physical plans changed
    # AFTER the r15 window was pinned — rotated in so the r16 driver
    # run independently re-proves them (span_coverage: regex anchor
    # scan + hash-fused explode; rolling_anomaly: O(1) prefix-sum
    # trailing windows; moving_average: growing-frame difference).
    # Funded by rotating out kmeans_lloyd / ann_ivf_portable /
    # ann_pq_portable — all r15 oracle-green on code untouched since
    # (pinned by test_rotated_out_r16_were_clean_in_r15) ---
    "span_coverage": q_span_coverage,
    "rolling_anomaly": q_rolling_anomaly,
    "moving_average": q_moving_average,
    "incremental_neardup_portable": q_incremental_neardup_portable,
    # --- window part (b): deliberate rows-only slots (simhash_neardup
    # re-contacts its r13-optimized path; ann_recall_sweep's evidence
    # block now carries the ivfpq_portable recall row) ---
    "simhash_neardup": q_simhash_neardup,
    "ann_recall_sweep": q_ann_recall_sweep,
    # --- window part (c): retained anchors ---
    "flagship_posts_export": q_flagship_posts_export,
    "bloom_prune_join": q_bloom_prune_join,
    "shard_manifest": q_shard_manifest,
    # --- window part (d): the capstone component family (bisection
    # on a capstone red) + retained greens ---
    "winnow_dedup": q_winnow_dedup,
    "winnow_spans": q_winnow_spans,
    "leakage_safe_split": q_leakage_safe_split,
    "span_excise": q_span_excise,
    "winnowing": q_winnowing,
    "winnow_overlap": q_winnow_overlap,
    "curation_gate": q_curation_gate,
    "lm_perplexity": q_lm_perplexity,
    "semantic_decontaminate": q_semantic_decontaminate,
    "salted_join": q_salted_join,
    "robust_anomaly": q_robust_anomaly,
    "repeated_spans": q_repeated_spans,
    "quantile_buckets": q_quantile_buckets,
    "global_rank": q_global_rank,
    "setsim_join": q_setsim_join,
    "ngram_lm": q_ngram_lm,
    # --- window part (e): reference-core greens (retained; funded in
    # r14 by rotating out url_normalize, fd_profile AND join_blowup —
    # all three r13 oracle-green on code untouched since, pinned by
    # test_rotated_out_r14_were_clean_in_r13) ---
    "eav_pivot": q_eav_pivot,
    "group_concat": q_group_concat,
    "hierarchy_parent": q_hierarchy_parent,
    "broadcast_lookup": q_broadcast_lookup,
    "semi_join": q_semi_join,
    # --- oracle-backed / rows-only, OUTSIDE the round-13 window ---
    # rotated out in r13: the eleven r12 rows-only first contacts
    # (incremental_neardup, sliding_hll, compression_ratio,
    # approx_aggs, hll_sketches, ann_{ivf,pq,ivfpq}_topk, freq_items,
    # image_neardup, audio_neardup) plus unicode_clean - all clean
    # in CORRECTNESS_r12.json on code untouched since. Oracle-backed
    # tail entries precede the rows-only tail (ordering contract).
    "url_normalize": q_url_normalize,
    "fd_profile": q_fd_profile,
    "join_blowup": q_join_blowup,
    # rotated out in r16 (funded the three r16 re-green slots) — all
    # r15 oracle-green on code untouched since, pinned by
    # test_rotated_out_r16_were_clean_in_r15:
    "kmeans_lloyd": q_kmeans_lloyd,
    "ann_ivf_portable": q_ann_ivf_portable,
    "ann_pq_portable": q_ann_pq_portable,
    # rotated out in r15 (funded the four r15 first-contact slots) —
    # all r14 oracle-green on code untouched since, pinned by
    # test_rotated_out_r15_were_clean_in_r14:
    "source_overlap": q_source_overlap,
    "audio_features": q_audio_features,
    "frame_sample": q_frame_sample,
    "unicode_clean": q_unicode_clean,
    "event_pattern": q_event_pattern,
    "record_linkage": q_record_linkage,
    "winsorize": q_winsorize,
    "time_rollup": q_time_rollup,
    "incremental_dedup": q_incremental_dedup,
    "html_text": q_html_text,
    "windowed_dedup": q_windowed_dedup,
    "incremental_dedup_bucketed": q_incremental_dedup_bucketed,
    "html_quality": q_html_quality,
    "cluster_keepers": q_cluster_keepers,
    "centroid_similarity": q_centroid_similarity,
    "triangle_count": q_triangle_count,
    "grouped_mode": q_grouped_mode,
    "histogram_drift": q_histogram_drift,
    "corr_stats": q_corr_stats,
    "vocab_drift": q_vocab_drift,
    "compaction_plan": q_compaction_plan,
    "expectations_exemplars": q_expectations_exemplars,
    "gapfill_interp": q_gapfill_interp,
    "tokenizer_fertility": q_tokenizer_fertility,
    "html_links": q_html_links,
    "bm25_score": q_bm25_score,
    "bm25_topk": q_bm25_topk,
    "rare_token_ratio": q_rare_token_ratio,
    "temperature_mixture": q_temperature_mixture,
    "range_join": q_range_join,
    "range_join_bucketed": q_range_join_bucketed,
    "salted_agg": q_salted_agg,
    "zorder_layout": q_zorder_layout,
    "interval_overlap": q_interval_overlap,
    "expectations": q_expectations,
    "ship_lag": q_ship_lag,
    "basket_pairs": q_basket_pairs,
    "ewma": q_ewma,
    "tfidf_pairs": q_tfidf_pairs,
    "max_concurrency": q_max_concurrency,
    "bfs_levels": q_bfs_levels,
    "embedding_norms": q_embedding_norms,
    "pagerank": q_pagerank,
    "domain_blocklist": q_domain_blocklist,
    "skew_diagnostics": q_skew_diagnostics,
    "embedding_gram": q_embedding_gram,
    "repetition": q_repetition,
    "embedding_centroids": q_embedding_centroids,
    "repetition_corpus_echo": q_repetition_corpus_echo,
    "repetition_lines": q_repetition_lines,
    "repetition_tokens": q_repetition_tokens,
    "repetition_grams": q_repetition_grams,
    "rolling_values_echo": q_rolling_values_echo,
    "rolling_window_sums": q_rolling_window_sums,
    "containment": q_containment,
    "ngram_novelty": q_ngram_novelty,
    "dataset_card": q_dataset_card,
    "date_permalink": q_date_permalink,
    "scalar_strings": q_scalar_strings,
    "entity_decode_split": q_entity_decode_split,
    "filter_project": q_filter_project,
    "in_list_filter": q_in_list_filter,
    "left_outer_join": q_left_outer_join,
    "inner_join": q_inner_join,
    "count_group_by": q_count_group_by,
    "sort_limit": q_sort_limit,
    "paragraph_dedup": q_paragraph_dedup,
    "token_topk": q_token_topk,
    "tfidf_topterms": q_tfidf_topterms,
    "url_parse": q_url_parse,
    "gapfill": q_gapfill,
    "percentiles": q_percentiles,
    "quality_filter": q_quality_filter,
    "funnel": q_funnel,
    "retention_cohorts": q_retention_cohorts,
    "event_transitions": q_event_transitions,
    "weighted_sample": q_weighted_sample,
    "pivot_unpivot": q_pivot_unpivot,
    "row_checksum": q_row_checksum,
    "doc_chunks": q_doc_chunks,
    "fk_integrity": q_fk_integrity,
    "upsert_snapshot": q_upsert_snapshot,
    "table_diff": q_table_diff,
    "session_paths": q_session_paths,
    "histogram": q_histogram,
    "merge_intervals": q_merge_intervals,
    "scd2_history": q_scd2_history,
    "boilerplate_removal": q_boilerplate_removal,
    "fuzzy_pairs": q_fuzzy_pairs,
    "pmi_collocations": q_pmi_collocations,
    "inverted_index": q_inverted_index,
    "epoch_upsample": q_epoch_upsample,
    "null_default_conditional": q_null_default_conditional,
    "struct_json": q_struct_json,
    "json_extract": q_json_extract,
    "window_latest_event": q_window_latest_event,
    "window_suite": q_window_suite,
    "array_hof": q_array_hof,
    "levenshtein": q_levenshtein,
    "cube_stats": q_cube_stats,
    "sessionize": q_sessionize,
    "set_ops": q_set_ops,
    "agg_stats": q_agg_stats,
    "top_revenue": q_top_revenue,
    "asof_join": q_asof_join,
    "rollup_stats": q_rollup_stats,
    "topk_per_group": q_topk_per_group,
    "distinct_count": q_distinct_count,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "pii_redact": q_pii_redact,
    "decontaminate": q_decontaminate,
    "domain_mixture": q_domain_mixture,
    "stratified_split": q_stratified_split,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_neardup_exact": q_embedding_neardup_exact,
    "sequence_packing": q_sequence_packing,
    "sequence_packing_sorted": q_sequence_packing_sorted,
    "anti_join": q_anti_join,
    "multimodal_decode": q_multimodal_decode,
    "dedup_clusters": q_dedup_clusters,
    "incremental_neardup": q_incremental_neardup,
    "sliding_hll": q_sliding_hll,
    "compression_ratio": q_compression_ratio,
    "approx_aggs": q_approx_aggs,
    "hll_sketches": q_hll_sketches,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "freq_items": q_freq_items,
    "image_neardup": q_image_neardup,
    "audio_neardup": q_audio_neardup,
    "minhash_neardup": q_minhash_neardup,
    "semdedup": q_semdedup,
    "dsir": q_dsir,
    "bpe_tokenize": q_bpe_tokenize,
    "quality_classifier": q_quality_classifier,
    "ann_lsh_topk": q_ann_lsh_topk,
    "embedding_neardup": q_embedding_neardup,
}



ORACLE_SQL = {
    "repetition_corpus_echo": SQL_REPETITION_CORPUS_ECHO,
    "repetition_lines": SQL_REPETITION_LINES,
    "repetition_tokens": SQL_REPETITION_TOKENS,
    "repetition_grams": SQL_REPETITION_GRAMS,
    "rolling_values_echo": SQL_ROLLING_VALUES_ECHO,
    "rolling_window_sums": SQL_ROLLING_WINDOW_SUMS,
    "flagship_posts_export": SQL_FLAGSHIP,
    "zorder_layout": SQL_ZORDER_LAYOUT,
    "bloom_prune_join": SQL_BLOOM_PRUNE_JOIN,
    "shard_manifest": SQL_SHARD_MANIFEST,
    "threshold_sweep": SQL_THRESHOLD_SWEEP,
    "kcore": SQL_KCORE,
    "domain_blocklist": SQL_DOMAIN_BLOCKLIST,
    "skew_diagnostics": SQL_SKEW_DIAGNOSTICS,
    "embedding_gram": SQL_EMBEDDING_GRAM,
    "interval_overlap": SQL_INTERVAL_OVERLAP,
    "expectations": SQL_EXPECTATIONS,
    "sentence_split": SQL_SENTENCE_SPLIT,
    "sentence_chunks": SQL_SENTENCE_CHUNKS,
    "filter_project": SQL_FILTER_PROJECT,
    "in_list_filter": SQL_IN_LIST,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "left_outer_join": SQL_LEFT_OUTER,
    "eav_pivot": SQL_EAV_PIVOT,
    "inner_join": SQL_INNER_JOIN,
    "broadcast_lookup": SQL_BROADCAST_LOOKUP,
    "group_concat": SQL_GROUP_CONCAT,
    "hierarchy_parent": SQL_HIERARCHY,
    "count_group_by": SQL_COUNT_GROUP_BY,
    "sort_limit": SQL_SORT_LIMIT,
    "scalar_strings": SQL_SCALAR_STRINGS,
    "entity_decode_split": SQL_ENTITY_DECODE,
    "null_default_conditional": SQL_NULL_DEFAULT,
    "date_permalink": SQL_DATE_PERMALINK,
    "struct_json": SQL_STRUCT_JSON,
    "json_extract": SQL_JSON_EXTRACT,
    "window_latest_event": SQL_WINDOW_LATEST,
    "window_suite": SQL_WINDOW_SUITE,
    "array_hof": SQL_ARRAY_HOF,
    "levenshtein": SQL_LEVENSHTEIN,
    "cube_stats": SQL_CUBE,
    "sessionize": SQL_SESSIONIZE,
    "set_ops": SQL_SET_OPS,
    "agg_stats": SQL_AGG_STATS,
    "top_revenue": SQL_TOP_REVENUE,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "rollup_stats": SQL_ROLLUP,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "distinct_count": SQL_DISTINCT_COUNT,
    "salted_agg": SQL_COUNT_GROUP_BY,
    "dedup_exact": SQL_DEDUP_EXACT,
    "soft_dedup_weights": SQL_SOFT_DEDUP_WEIGHTS,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    # same relational semantics through the bucketed saved-table path —
    # the layout changes the plan (zero manifest-side Exchange), never
    # the result, which is exactly what sharing the oracle asserts
    "incremental_dedup_bucketed": SQL_INCREMENTAL_DEDUP,
    "html_text": SQL_HTML_TEXT,
    "html_quality": SQL_HTML_QUALITY,
    "windowed_dedup": SQL_WINDOWED_DEDUP,
    "compaction_plan": SQL_COMPACTION_PLAN,
    "expectations_exemplars": SQL_EXPECTATIONS_EXEMPLARS,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    # minhash_neardup / simhash_neardup / ann_lsh_topk: rows-only (hash-based)
    "text_quality": SQL_TEXT_QUALITY,
    "repetition": SQL_REPETITION,
    "lang_id": SQL_LANG_ID,
    "fingerprint": SQL_FINGERPRINT,
    "pii_redact": SQL_PII_REDACT,
    "decontaminate": SQL_DECONTAMINATE,
    "domain_mixture": SQL_DOMAIN_MIXTURE,
    "stratified_split": SQL_STRATIFIED_SPLIT,
    "ann_cosine_topk": SQL_ANN_COSINE,
    "ann_lsh_portable": SQL_ANN_LSH_PORTABLE,
    "kmeans_lloyd": SQL_KMEANS_LLOYD,
    "ann_ivf_portable": SQL_ANN_IVF_PORTABLE,
    "ann_pq_portable": SQL_ANN_PQ_PORTABLE,
    "ann_ivfpq_portable": SQL_ANN_IVFPQ_PORTABLE,
    # embedding_neardup: rows-only (LSH scale path; recall-tested vs exact)
    "embedding_neardup_exact": SQL_EMBEDDING_NEARDUP,
    "sequence_packing": SQL_SEQUENCE_PACKING,
    "sequence_packing_sorted": SQL_SEQUENCE_PACKING_SORTED,
    "sequence_packing_ffd": SQL_SEQUENCE_PACKING_FFD,
    "packing_efficiency": SQL_PACKING_EFFICIENCY,
    "multimodal_decode": SQL_MULTIMODAL,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "token_topk": SQL_TOKEN_TOPK,
    "tfidf_topterms": SQL_TFIDF_TOPTERMS,
    "url_parse": SQL_URL_PARSE,
    "gapfill": SQL_GAPFILL,
    "percentiles": SQL_PERCENTILES,
    # percentiles_scalable / percentiles_skew: SAME oracle text
    # deliberately — these gates claim plan-level divergence with
    # result-level identity (three physical plans, one contract)
    "percentiles_scalable": SQL_PERCENTILES,
    "percentiles_skew": SQL_PERCENTILES,
    "grouped_topk_skew": SQL_GROUPED_TOPK_SKEW,
    "posts_export_sharded": SQL_POSTS_EXPORT_SHARDED,
    "manifest_diff": SQL_MANIFEST_DIFF,
    "quality_filter": SQL_QUALITY_FILTER,
    "funnel": SQL_FUNNEL,
    "retention_cohorts": SQL_RETENTION,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "moving_average": SQL_MOVING_AVERAGE,
    "pivot_unpivot": SQL_PIVOT_UNPIVOT,
    "row_checksum": SQL_ROW_CHECKSUM,
    "doc_chunks": SQL_DOC_CHUNKS,
    "fk_integrity": SQL_FK_INTEGRITY,
    "range_join_bucketed": SQL_RANGE_JOIN_BUCKETED,
    "upsert_snapshot": SQL_UPSERT_SNAPSHOT,
    "table_diff": SQL_TABLE_DIFF,
    "session_paths": SQL_SESSION_PATHS,
    "rolling_anomaly": SQL_ROLLING_ANOMALY,
    "histogram": SQL_HISTOGRAM,
    "merge_intervals": SQL_MERGE_INTERVALS,
    "scd2_history": SQL_SCD2_HISTORY,
    "boilerplate_removal": SQL_BOILERPLATE,
    "fuzzy_pairs": SQL_FUZZY_PAIRS,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
    "inverted_index": SQL_INVERTED_INDEX,
    "epoch_upsample": SQL_EPOCH_UPSAMPLE,
    "salted_join": SQL_SALTED_JOIN,
    "robust_anomaly": SQL_ROBUST_ANOMALY,
    "containment": SQL_CONTAINMENT,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "repeated_spans": SQL_REPEATED_SPANS,
    "span_coverage": SQL_SPAN_COVERAGE,
    "audio_features": SQL_AUDIO_FEATURES,
    "frame_sample": SQL_FRAME_SAMPLE,
    "dataset_card": SQL_DATASET_CARD,
    "quantile_buckets": SQL_QUANTILE_BUCKETS,
    "global_rank": SQL_GLOBAL_RANK,
    "join_blowup": SQL_JOIN_BLOWUP,
    "setsim_join": SQL_SETSIM_JOIN,
    "fd_profile": SQL_FD_PROFILE,
    "ngram_lm": SQL_NGRAM_LM,
    "url_normalize": SQL_URL_NORMALIZE,
    "event_pattern": SQL_EVENT_PATTERN,
    "record_linkage": SQL_RECORD_LINKAGE,
    "winsorize": SQL_WINSORIZE,
    "time_rollup": SQL_TIME_ROLLUP,
    "cluster_keepers": SQL_CLUSTER_KEEPERS,
    "centroid_similarity": SQL_CENTROID_SIMILARITY,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "histogram_drift": SQL_HISTOGRAM_DRIFT,
    "grouped_mode": SQL_GROUPED_MODE,
    "corr_stats": SQL_CORR_STATS,
    "vocab_drift": SQL_VOCAB_DRIFT,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "pagerank": SQL_PAGERANK,
    "ship_lag": SQL_SHIP_LAG,
    "basket_pairs": SQL_BASKET_PAIRS,
    "embedding_norms": SQL_EMBEDDING_NORMS,
    "bfs_levels": SQL_BFS_LEVELS,
    "ewma": SQL_EWMA,
    "max_concurrency": SQL_MAX_CONCURRENCY,
    "tfidf_pairs": SQL_TFIDF_PAIRS,
    "gapfill_interp": SQL_GAPFILL_INTERP,
    "tokenizer_fertility": SQL_TOKENIZER_FERTILITY,
    "html_links": SQL_HTML_LINKS,
    "bm25_score": SQL_BM25_SCORE,
    "bm25_topk": SQL_BM25_TOPK,
    "unicode_clean": SQL_UNICODE_CLEAN,
    "rare_token_ratio": SQL_RARE_TOKEN_RATIO,
    "temperature_mixture": SQL_TEMPERATURE_MIXTURE,
    "semantic_decontaminate": SQL_SEMANTIC_DECONTAMINATE,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "curation_gate": SQL_CURATION_GATE,
    "winnowing": SQL_WINNOWING,
    "winnow_overlap": SQL_WINNOW_OVERLAP,
    "winnow_dedup": SQL_WINNOW_DEDUP,
    "winnow_spans": SQL_WINNOW_SPANS,
    "minhash_portable": SQL_MINHASH_PORTABLE,
    "dedup_calibration": SQL_DEDUP_CALIBRATION,
    "curation_pipeline": SQL_CURATION_PIPELINE,
    "incremental_neardup_portable": SQL_INCREMENTAL_NEARDUP_PORTABLE,
    "curation_capstone": SQL_CURATION_CAPSTONE,
    "curation_capstone_soft": SQL_CURATION_CAPSTONE_SOFT,
    "simhash_portable": SQL_SIMHASH_PORTABLE,
    "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
    "span_excise": SQL_SPAN_EXCISE,
    # hll_sketches: rows-only (engine-specific estimates; bound in test_approx)
}


def flagship_query(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return q_flagship_posts_export(spark, sf_dir)
