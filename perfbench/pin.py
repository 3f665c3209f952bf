"""Pin the analytics workloads' output digests into ``perfbench/pins.json``.

    python3 perfbench/pin.py

Run from the repository root, at the commit whose outputs are taken as
correct. For each corpus scale the benchmark uses (1 for the benchmark,
``SELFTEST_SCALE`` for the self-test) it digests every operation's output
under two row layouts and refuses to pin if they differ. Independent
checks decide what is correct:

- ``dedup_corpus``: ``exact_dedup`` keeps one row per distinct
  whitespace-normalised text;
- ``registry_headline``: every query with an ``ORACLE_SQL`` entry is run
  through DuckDB over the same files. Where the engine agrees, that digest
  is pinned. Where it does not, the engine's digest is pinned (so the
  workload runs clean at the pinned commit and any later change of the
  output shows) and both digests are listed under ``oracle_divergences``
  in ``pins.json``: a known defect, recorded rather than hidden.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())

import analytics  # noqa: E402
import dedup_corpus as dc  # noqa: E402
import regdata  # noqa: E402
import registry_headline as rh  # noqa: E402
from common import rows_digest  # noqa: E402

SELFTEST_SCALE = 0.05
HERE = os.path.dirname(os.path.abspath(__file__))


def oracle_digests(in_dir: str) -> dict[str, str]:
    import duckdb

    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import ORACLE_SQL

    con = duckdb.connect()
    for t in regdata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    out = {}
    for q in rh.HEADLINE:
        if q in ORACLE_SQL:
            res = con.execute(ORACLE_SQL[q])
            cols = [d[0] for d in res.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            out[q] = rows_digest(tuple(r[i] for i in order) for r in res.fetchall())
    return out


def pin_one(spark, work: str, name: str, generate, build_ops, scale: float, divergences: dict) -> dict[str, str]:
    layouts, in_dir = [], ""
    for seed in (1, 2):
        in_dir = os.path.join(work, f"{name}-s{scale:g}-{seed}")
        os.makedirs(in_dir)
        generate(in_dir, seed, scale)
        layouts.append(analytics.digests(spark, build_ops(spark, in_dir)))
    if layouts[0] != layouts[1]:
        raise SystemExit(f"{name} scale {scale:g}: digests depend on the row layout: {layouts}")
    got = layouts[0]
    if name == "dedup_corpus":
        distinct = len({" ".join(t.split()) for t in dc.corpus(scale)["text"]})
        kept = dict((n, b) for _, n, b in build_ops(spark, in_dir))["exact_dedup"]().count()
        if kept != distinct:
            raise SystemExit(f"scale {scale:g}: exact_dedup kept {kept} rows, expected {distinct}")
    else:
        for q, d in oracle_digests(in_dir).items():
            if got[q] != d:
                divergences[f"{name}/scale={scale:g}/{q}"] = {"engine": got[q], "duckdb": d}
    return got


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(work)
    spark = analytics.start_spark(work, "perfbench-pin")
    workloads = {
        "dedup_corpus": (dc.write_corpus, dc.build_ops),
        "registry_headline": (lambda d, seed, scale: regdata.write(d, seed, regdata.SF * scale), rh.build_ops),
    }
    pins: dict = {"oracle_divergences": {}}
    try:
        for name, (generate, build_ops) in workloads.items():
            for scale in (1.0, SELFTEST_SCALE):
                pins.setdefault(name, {})[f"scale={scale:g}"] = pin_one(
                    spark, work, name, generate, build_ops, scale, pins["oracle_divergences"])
    finally:
        analytics.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(pins, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
