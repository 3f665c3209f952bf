"""CLI — the ``npm run export [module] [ids-file]`` surface (app.js:11-23,
SURVEY.md §2 row 43).

    python -m wordpress_sql_to_contentstack_exporter_spark export [--config cfg.json]
        [--module assets|authors|categories|posts] [--ids-file ids.txt]

Module selection and the resume-by-ID file behave like the reference CLI;
with no module, all four run (concurrently, see ``plans.pipeline``).

``main`` leaves the session up for its caller; the command itself stops
the session and waits for its JVM before it returns (``session.stop_spark``).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="wordpress_sql_to_contentstack_exporter_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    exp = sub.add_parser("export", help="run the WordPress export pipeline")
    exp.add_argument("--config", default=None, help="path to config JSON")
    exp.add_argument(
        "--module",
        choices=["assets", "authors", "categories", "posts"],
        default=None,
        help="run a single module (default: all four)",
    )
    exp.add_argument("--ids-file", default=None, help="comma/newline-separated IDs to (re-)export")
    qry = sub.add_parser(
        "query",
        help="run a registry analytics query over a parquet table dir",
    )
    qry.add_argument("--name", required=True, help="registry query name (see --list)")
    qry.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table directory")
    qry.add_argument("--out", default=None, help="output parquet path (default: print 20 rows)")
    qry.add_argument("--json", action="store_true", help="write JSON instead of parquet")
    lst = sub.add_parser("list-queries", help="list registry analytics queries")
    exp2 = sub.add_parser("explain", help="print a registry query's physical plan")
    exp2.add_argument("--name", required=True)
    exp2.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sqlp = sub.add_parser(
        "sql",
        help="run ad-hoc Spark SQL with the table dir's parquet tables "
        "registered as temp views (region/nation/.../documents/embeddings)",
    )
    g = sqlp.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="SQL text")
    g.add_argument("--file", help="path to a .sql file")
    sqlp.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table directory")
    sqlp.add_argument("--out", default=None, help="output parquet path (default: print 20 rows)")
    sqlp.add_argument("--json", action="store_true", help="write JSON instead of parquet")
    args = parser.parse_args(argv)

    if args.cmd == "sql":
        from .session import get_spark
        from .sources.catalog import TPCH_TABLES, load_table

        spark = get_spark("wp-sql")
        for t in TPCH_TABLES:
            # a dir may carry a subset of tables; one that is there but
            # does not load is an error, not a missing view
            if os.path.exists(f"{args.sf_dir}/{t}.parquet"):
                load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
        text = args.query if args.query else open(args.file).read()
        df = spark.sql(text)
        if args.out:
            writer = df.write.mode("overwrite")
            (writer.json if args.json else writer.parquet)(args.out)
        else:
            df.show(20, truncate=False)
        return 0

    if args.cmd == "explain":
        from .plans.registry import SPARK_QUERIES
        from .session import get_spark

        if args.name not in SPARK_QUERIES:
            print(f"unknown query {args.name!r}; see `list-queries`", file=sys.stderr)
            return 2
        spark = get_spark("wp-explain")
        SPARK_QUERIES[args.name](spark, args.sf_dir).explain("formatted")
        return 0

    if args.cmd == "list-queries":
        from .plans.registry import ORACLE_SQL, SPARK_QUERIES

        for name in SPARK_QUERIES:
            kind = "oracle" if name in ORACLE_SQL else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    if args.cmd == "query":
        from .plans.registry import SPARK_QUERIES
        from .session import get_spark

        if args.name not in SPARK_QUERIES:
            print(f"unknown query {args.name!r}; see `list-queries`", file=sys.stderr)
            return 2
        spark = get_spark("wp-query")
        df = SPARK_QUERIES[args.name](spark, args.sf_dir)
        if args.out:
            writer = df.write.mode("overwrite")
            (writer.json if args.json else writer.parquet)(args.out)
        else:
            df.show(20, truncate=False)
        return 0

    from .config import ExportConfig, build_catalog
    from .logging_utils import get_logger
    from .plans.pipeline import run_export
    from .session import get_spark
    from .sources.idlist import read_id_list

    logger = get_logger()
    cfg = ExportConfig.from_json(args.config) if args.config else ExportConfig()
    spark = get_spark("wp-export")
    cat = build_catalog(spark, cfg)
    ids = read_id_list(spark, args.ids_file) if args.ids_file else None
    modules = [args.module] if args.module else None
    # each module logs its own line from the rows it collected
    run_export(
        cat,
        cfg.data_dir,
        modules=modules,
        ids=ids,
        locale=cfg.locale,
        asset_parallelism=cfg.asset_parallelism,
        http_timeout_s=cfg.http_timeout_s,
        http_retries=cfg.http_retries,
    )
    logger.info("Data exporting has been completed")  # app.js:40-43
    return 0


def run() -> int:
    """The command: ``main``, then stop the session it started and wait
    for its JVM (which may be writing its class-data archive)."""
    try:
        return main()
    finally:
        from .session import stop_spark

        stop_spark()


if __name__ == "__main__":
    sys.exit(run())
