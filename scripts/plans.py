#!/usr/bin/env python
"""Capture ``.explain("formatted")`` for bench entries into
``plans/<tag>/<entry>.txt``.

Usage: python scripts/plans.py <tag> [entry,entry,...]

Each plan is built from the declaration bench.py times
(``bench.BENCHES``, with the same ``bench.Ctx``), so the captured plan
is the benched plan. Entries whose body forces several DataFrames
(iterative trainers, multi-sink pipelines) have no single plan and are
listed as skipped. Without an entry list every entry is captured. The
fixture directory is $SPARK_GRAFT_SF_DIR (default sf0.1), as for
bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Write .explain('formatted') of bench entries to plans/<tag>/."
    )
    ap.add_argument("tag", help="output directory under plans/")
    ap.add_argument("entries", nargs="?", help="comma-separated bench keys (default: all)")
    args = ap.parse_args()

    import bench

    keys = args.entries.split(",") if args.entries else list(bench.BENCHES)
    unknown = set(keys) - bench.BENCHES.keys()
    if unknown:
        raise SystemExit(f"unknown bench entries: {sorted(unknown)}")

    from hive_udf_spark.session import get_spark
    from hive_udf_spark.sources.tables import DEFAULT_SF_DIR

    spark = get_spark("plans")
    c = bench.Ctx(spark, DEFAULT_SF_DIR)
    outdir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    skipped = [k for k in keys if not bench.is_single_frame(k)]
    for key in keys:
        if key in skipped:
            continue
        try:
            (df,) = bench.frames(c, key)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        finally:
            c.release()
        path = os.path.join(outdir, f"{key}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    if skipped:
        print(f"skipped (no single plan): {','.join(skipped)}")
    spark.stop()


if __name__ == "__main__":
    main()
