"""``registry_headline``: the 13 ``bench.HEADLINE`` queries from the query
registry, each forced with a ``noop`` write, one warm pass in a session
that is already started.

The inputs come from ``regdata`` (fixed content, layout by ``--seed``).
Each query's output is checked against a digest pinned when the benchmark
landed: DuckDB's result of the query's ``ORACLE_SQL`` where it has one,
otherwise the engine's own output (``pin.py``).
"""

from __future__ import annotations

import analytics
import regdata

#: ``bench.HEADLINE``, in its order; a copy, so that the workload (and its
#: pinned digests) does not move when ``bench.py`` changes.
HEADLINE = [
    "agg_stats", "top_revenue", "group_concat", "eav_pivot", "window_latest_event",
    "sessionize", "flagship_posts_export", "dedup_exact", "text_quality", "fingerprint",
    "minhash_neardup", "simhash_neardup", "ann_cosine_topk",
]


def build_ops(spark, in_dir: str) -> list:
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES

    return [("plans.registry", q, lambda q=q: SPARK_QUERIES[q](spark, in_dir)) for q in HEADLINE]


def workload(ctx, pins: dict[str, str]) -> dict:
    def generate(in_dir: str) -> int:
        ctx.info["input_tables"] = regdata.write(in_dir, ctx.seed, regdata.SF * ctx.scale)
        return sum(ctx.info["input_tables"].values())

    return analytics.workload(ctx, "registry_headline", generate, build_ops, pins)
