"""bench.py's entry table, checked without a Spark session: a registry
rename or a dropped line must not silently drop a bench entry."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from hive_udf_spark.plans import QUERIES  # noqa: E402


def test_registry_names_exist():
    missing = {
        key: name
        for key, name in bench.BENCHES.items()
        if isinstance(name, str) and name not in QUERIES
    }
    assert not missing


def test_bench_keys_match_the_full_artifact():
    with open(os.path.join(REPO, "BENCH_full_latest.json")) as f:
        recorded = json.load(f)["queries"]
    assert len(recorded) == 175
    assert set(bench.BENCHES) == set(recorded)


def test_compact_line_keys_are_pinned_bench_keys():
    assert len(bench._COMPACT_PINNED) == 66
    assert len(set(bench._COMPACT_PINNED)) == 66
    assert set(bench._COMPACT_PINNED) <= set(bench.BENCHES)


def test_plans_script_help():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "plans.py"), "--help"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "tag" in proc.stdout
