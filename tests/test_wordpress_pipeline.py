"""Golden end-to-end test of the WordPress export pipeline: all four
modules over the FIXTURES.md family-A tables, outputs checked against the
reference's observable file shapes (SURVEY.md §5.2), plus the asset
retry/DLQ/resume loop and schema validation."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline as pl
from wordpress_sql_to_contentstack_exporter_spark.sources.idlist import read_id_list

# The reference declares per-field metadata in ``contenttypes/*.json``
# (``mandatory``, ``unique``, ``multiple``) but never enforces it; these
# checks run the posts content type's declaration against the export's
# entries, each returning the violating rows (empty == valid).


@dataclass
class FieldRule:
    name: str
    mandatory: bool = False
    unique: bool = False
    multiple: bool = False


@dataclass
class ContentType:
    """Executable subset of a contenttypes/*.json declaration."""

    name: str
    fields: list[FieldRule] = field(default_factory=list)

    def mandatory_violations(self, df: DataFrame) -> DataFrame:
        cond = None
        for f_ in self.fields:
            if not f_.mandatory:
                continue
            c = F.col(f_.name).isNull()
            cond = c if cond is None else cond | c
        if cond is None:
            return df.limit(0)
        return df.filter(cond)

    def unique_violations(self, df: DataFrame) -> DataFrame:
        """Rows whose unique-field value occurs more than once — a single
        hash aggregation per unique field, unioned."""
        outs = []
        for f_ in self.fields:
            if not f_.unique:
                continue
            dupes = (
                # SQL UNIQUE semantics: NULLs never collide with each other
                df.filter(F.col(f_.name).isNotNull())
                .groupBy(f_.name)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .select(
                    F.lit(f_.name).alias("field"),
                    F.col(f_.name).cast("string").alias("value"),
                    F.col("n"),
                )
            )
            outs.append(dupes)
        if not outs:
            return df.sparkSession.createDataFrame([], "field string, value string, n long")
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out


POSTS_TYPE = ContentType(
    "posts",
    [
        FieldRule("title", mandatory=True),
        FieldRule("url", mandatory=True, unique=True),
        FieldRule("uid", mandatory=True, unique=True),
        FieldRule("author", multiple=True),
        FieldRule("category", multiple=True),
    ],
)


def make_fake_fetch():
    # Nested so cloudpickle ships it by value (test modules aren't
    # importable on Spark workers).
    def fake_fetch(url: str, timeout: float) -> bytes:
        if "fail" in url:
            raise RuntimeError("status code: 500")
        return b"PNGDATA:" + url.encode()

    return fake_fetch


fake_fetch = make_fake_fetch()


def read(path):
    with open(path) as f:
        return json.load(f)


def test_full_export(spark, wp_catalog, tmp_path):
    data = str(tmp_path / "data")
    out = pl.run_export(wp_catalog, data, fetch=fake_fetch)
    assert set(out) == {"assets", "authors", "categories", "posts"}

    # --- posts entries (posts.js:150-158 field-for-field)
    posts = read(f"{data}/entries/posts/en-us.json")
    assert set(posts) == {"10", "11"}  # publish-only; page/draft/attachments excluded
    p10 = posts["10"]
    assert p10["title"] == "Hello & World"
    assert p10["url"] == "/2018/12/hello-world/"
    assert p10["author"] == ["alice"]
    assert p10["date"] == "2018-12-17T07:36:08.594Z"
    assert p10["guid"] == "/blog/?p=10"
    assert p10["full_description"] == "<p>hi</p>"
    assert p10["uid"] == 10
    assert sorted(p10["category"]) == ["news", "tech-sci"]
    assert p10["featured_image"] == "20"
    p11 = posts["11"]
    assert p11["author"] == []  # dangling author: fixed vs reference crash
    assert p11["category"] == ["Sub-News"]
    assert "featured_image" not in p11 or p11["featured_image"] is None

    # --- posts master: {"en-us": {uid: ""}}
    master = read(f"{data}/master/entries/posts.json")
    assert master == {"en-us": {"10": "", "11": ""}}

    # --- authors (authors.js:51; EAV inner-join drop of bob)
    authors = read(f"{data}/entries/authors/en-us.json")
    assert set(authors) == {"alice", "carol"}
    assert authors["alice"] == {
        "ID": 1,
        "title": "alice",
        "url": "/author/alice",
        "email": "alice@example.com",
        "first_name": "Alice",
        "last_name": "Liddell",
        "biographical_info": "writes things",
        "uid": "alice",
    }

    # --- categories (categories.js:45-73): decode, parent [""]/[slug]
    cats = read(f"{data}/entries/categories/en-us.json")
    assert set(cats) == {"tech-sci", "news", "Sub-News"}
    assert cats["tech-sci"]["title"] == "Tech & Sci"
    assert cats["tech-sci"]["description"] == "desc & more"
    assert cats["tech-sci"]["parent"] == [""]
    assert cats["Sub-News"]["parent"] == ["news"]
    assert cats["Sub-News"]["url"] == "/category/sub-news"

    # --- assets: download results, keyed entries, mappings, DLQ
    asset_rows = {r["id"]: r for r in out["assets"].collect()}
    assert asset_rows[20]["status"] == "downloaded"
    assert asset_rows[21]["status"] == "failed"
    # filename is derived from the raw guid BEFORE encodeURI (assets.js:74-77)
    with open(f"{data}/assets/20/img one.png", "rb") as f:
        assert f.read().startswith(b"PNGDATA:")
    entries = read(f"{data}/assets/wp_assets.json")
    assert entries["20"]["filename"] == "img one.png"
    assert entries["20"]["url"].endswith("img%20one.png")  # encodeURI applied
    assert entries["20"]["status"] is True
    assert "21" not in entries
    dlq = read(f"{data}/master/wp_failed.json")
    assert set(dlq) == {"21"} and "500" in dlq["21"]
    urlmap = read(f"{data}/master/wp_urls.json")
    assert any(u.endswith("img%20one.png") for u in urlmap)

    # --- resume loop: DLQ keys -> ids file -> re-export only the failed
    # asset (the reference's re-drive, README.md:57-62; CLI --ids-file)
    ids_file = tmp_path / "failed_ids.txt"
    ids_file.write_text(",".join(dlq))
    ids = read_id_list(spark, str(ids_file))
    assert [r["id"] for r in ids.collect()] == [21]
    rerun = pl.run_export(wp_catalog, data, modules=["assets"], ids=ids, fetch=fake_fetch)
    rr = {r["id"]: r["status"] for r in rerun["assets"].collect()}
    assert rr == {21: "failed"}  # still failing origin stays in DLQ

    # --- idempotent skip: second full asset run skips existing files
    rerun2 = pl.run_export(wp_catalog, data, modules=["assets"], fetch=fake_fetch)
    rr2 = {r["id"]: r["status"] for r in rerun2["assets"].collect()}
    assert rr2[20] == "skipped"


def test_posts_clean_description_projection(wp_catalog):
    """build_posts(clean_description=True) bridges the export plane to
    the text-analysis plane (VERDICT r8 #6): the HTML full_description
    is carried verbatim (reference parity, posts.js:151) AND a
    html_to_text projection rides alongside. Default-off keeps the
    golden output schema byte-identical to the reference's."""
    from wordpress_sql_to_contentstack_exporter_spark.plans import wordpress as wp

    site = wp.read_site_options(wp_catalog)
    clean = wp.build_posts(wp_catalog, site, clean_description=True)
    rows = {r["key"]: r["entry"].asDict() for r in clean.collect()}
    assert rows[10]["full_description"] == "<p>hi</p>"  # verbatim kept
    assert rows[10]["clean_description"] == "hi"
    # default off: no schema drift for the reference-parity path
    plain = wp.build_posts(wp_catalog, site)
    assert "clean_description" not in plain.schema["entry"].dataType.names


def test_single_module_computes_upstream_on_demand(wp_catalog, tmp_path):
    """posts-only run must still resolve featured images (no reliance on a
    prior assets run's files — fix of SURVEY.md §3.2)."""
    data = str(tmp_path / "solo")
    out = pl.run_export(wp_catalog, data, modules=["posts"])
    entries = read(f"{data}/entries/posts/en-us.json")
    assert entries["10"]["featured_image"] == "20"
    assert set(out) == {"posts"}


def test_validation_pass(wp_catalog):
    site = __import__(
        "wordpress_sql_to_contentstack_exporter_spark.plans.wordpress", fromlist=["wordpress"]
    )
    s = site.read_site_options(wp_catalog)
    posts = site.build_posts(wp_catalog, s).select("entry.*")
    assert POSTS_TYPE.mandatory_violations(posts).count() == 0
    assert POSTS_TYPE.unique_violations(posts).count() == 0


def test_unknown_module_rejected(wp_catalog, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="unknown modules"):
        pl.run_export(wp_catalog, str(tmp_path), modules=["nope"])


def test_posts_plan_no_forced_broadcast_on_fact_sides(spark, wp_catalog):
    """Scale regression (VERDICT r1 #2): build_post_categories and
    build_featured_image_map are post-cardinality — the plan must NOT force
    a broadcast on them. With autoBroadcastJoinThreshold=-1 (so Catalyst
    can't pick broadcast on size), only the hinted users dim may broadcast;
    the two fact-side joins must fall back to a shuffle join."""
    import io
    from contextlib import redirect_stdout

    from wordpress_sql_to_contentstack_exporter_spark.plans import wordpress as wp

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        site = wp.read_site_options(wp_catalog)
        df = wp.build_posts(wp_catalog, site)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    import re

    # exactly one broadcast node: the hinted users dimension
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan
    # the two unhinted post-cardinality LEFT joins go shuffle (SMJ or SHJ)
    fact_joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin) LeftOuter", plan)
    assert len(fact_joins) == 2, plan


def test_full_export_via_jdbc_catalog_matches_parquet_path(spark, wp_catalog, tmp_path):
    """End-to-end ``kind='jdbc'`` run: every WP table served by embedded
    Derby with its own PK partition column (config.WP_PARTITION_COLUMNS),
    full four-module export, outputs compared file-for-file against the
    in-memory-catalog golden path. Mirrors the reference's MySQL-backed
    run (helper.js:43-51, config/index.json:28-33) on the one JDBC engine
    in the container."""
    import os

    from wordpress_sql_to_contentstack_exporter_spark.config import (
        ExportConfig,
        SourceConfig,
        WP_TABLES,
        build_catalog,
    )
    from wordpress_sql_to_contentstack_exporter_spark.sources.derby import (
        ensure_derby_varchar_dialect,
    )

    url = f"jdbc:derby:{tmp_path}/wpfull;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # StringType -> VARCHAR (Spark's stock Derby dialect would CLOB every
    # string column: NULL-string writes die with ERROR 22005 and string
    # predicates can't push). The engine registers this itself on the read
    # side; the fixture WRITE below needs it too, so register up front.
    ensure_derby_varchar_dialect(spark)

    # The fixture frames lack the surrogate PKs real WP tables carry; add
    # them so per-table partition columns resolve (extra cols are ignored
    # by the modules' explicit projections).
    extra_pk = {"usermeta": "umeta_id", "postmeta": "meta_id", "options": "option_id"}
    for name in WP_TABLES:
        df = wp_catalog.table(name)
        if name in extra_pk:
            df = df.withColumn(
                extra_pk[name], F.monotonically_increasing_id() + F.lit(1)
            )
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", f"wp_{name}")
            .option("driver", props["driver"])
            .save()
        )

    cfg = ExportConfig(
        source=SourceConfig(
            kind="jdbc", jdbc_url=url, jdbc_properties=props, num_partitions=2
        )
    )
    cat = build_catalog(spark, cfg)
    # per-PK partitioned reads actually happened
    assert cat.table("posts").rdd.getNumPartitions() == 2
    # postmeta's fixture has ONE row: the meta_id bounds query succeeds
    # (wrong-PK-name would error) but MIN==MAX collapses the range to a
    # single partition — Spark's documented JDBC partitioning behavior.
    assert cat.table("postmeta").rdd.getNumPartitions() == 1
    assert cat.table("term_relationships").rdd.getNumPartitions() == 1  # composite PK

    gold_dir = str(tmp_path / "gold")
    jdbc_dir = str(tmp_path / "jdbc")
    pl.run_export(wp_catalog, gold_dir, fetch=fake_fetch)
    pl.run_export(cat, jdbc_dir, fetch=fake_fetch)

    def tree(root):
        files = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                rel = os.path.relpath(p, root)
                with open(p, "rb") as f:
                    files[rel] = f.read()
        return files

    gold, via_jdbc = tree(gold_dir), tree(jdbc_dir)
    assert set(gold) == set(via_jdbc)
    for rel in gold:
        if rel.endswith(".json"):
            assert json.loads(via_jdbc[rel]) == json.loads(gold[rel]), rel
        else:
            assert via_jdbc[rel] == gold[rel], rel
