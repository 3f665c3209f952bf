"""bench.py stdout contract: the driver tail-captures ONE JSON line.

The primary compact line may outgrow the tail buffer as the registry
accumulates headline gates; when it does, bench falls back to
``fallback_line`` (ADVICE r7/r8). These tests pin that the fallback is
provably bounded — fixed scalar fields only, independent of how many
queries the registry holds (VERDICT r10 ask #6).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _result(n_queries: int) -> dict:
    return {
        "metric": "headline_queries_total_runtime",
        "value": 12.345,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i}": 0.123 for i in range(n_queries)},
        "total_cold": 45.678,
        "sf_dir": "/data/sf0.1",
        "cpus": 4,
        "methodology": "median-of-3 warm",
        "load1_start": 0.5,
        "load1_end": 1.5,
    }


def test_fallback_line_is_bounded_and_parseable():
    small = bench.fallback_line(_result(1))
    huge = bench.fallback_line(_result(10_000))
    # independent of registry size: the per-query dict never leaks in
    assert small == huge
    assert len(huge) < 400
    parsed = json.loads(huge)
    assert parsed["truncated"] is True
    assert "queries" not in parsed
    # the driver's parse keys survive
    for key in ("metric", "value", "unit", "sf"):
        assert key in parsed


def test_compact_and_fallback_lines_name_cpus_and_sf_dir():
    """Both stdout lines say which cores and table dir the run used, so
    two artifacts are never compared across configurations unawares."""
    compact = json.loads(bench.compact_line(_result(1)))
    assert "truncated" not in compact and "queries" in compact
    fallback = json.loads(bench.compact_line(_result(10_000)))
    assert fallback["truncated"] is True
    for line in (compact, fallback, json.loads(bench.fallback_line(_result(1)))):
        assert line["cpus"] == 4 and line["sf_dir"] == "/data/sf0.1"
