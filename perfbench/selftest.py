"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` agrees with ``perfbench/metrics.py`` (names, units,
   directions, bounds).
2. Each workload runs at the tiny size, untraced and traced, and prints
   every named metric with its unit and no failed operation.
3. Corrupted outputs are flagged: a rollup estimate pushed past its bound,
   a pair dropped from an exact join, a skipped Delta commit. Each run
   must report at least one failed operation and ``correct: false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

CORRUPTIONS = {"estimate": "sketch_rollup", "pair": "dedup_corpus", "commit": "stream_ingest"}


def check_manifest() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bad = []
    names = [w["name"] for w in bench["workloads"]]
    if names != list(metrics.WORKLOADS):
        bad.append(f"workloads {names} != {list(metrics.WORKLOADS)}")
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    want = {k: (u, b, bound) for k, (u, b, bound, _w) in metrics.END_TO_END.items()}
    if e2e != want:
        bad.append(f"end_to_end differs: {set(e2e.items()) ^ set(want.items())}")
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    want_l = {k: (u, b) for k, (u, b, _m) in metrics.PER_LAYER.items()}
    if layers != want_l:
        bad.append(f"per_layer differs: {set(layers.items()) ^ set(want_l.items())}")
    return bad


def run(workload: str, trace: int, corrupt: str | None = None) -> tuple[dict | None, str]:
    env = dict(os.environ)
    env.pop("PERFBENCH_CORRUPT", None)
    if corrupt:
        env["PERFBENCH_CORRUPT"] = corrupt
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, f"exit {proc.returncode}: {proc.stderr[-2000:]}"
    return json.loads(lines[-1]), proc.stderr


def check_result(workload: str, trace: int, out: dict) -> list[str]:
    table = metrics.PER_LAYER if trace else metrics.END_TO_END
    bad = []
    got = out["metrics"]
    if set(got) != set(table):
        bad.append(f"metric names differ: {set(got) ^ set(table)}")
    for name, spec in table.items():
        if name in got and got[name]["unit"] != spec[0]:
            bad.append(f"{name}: unit {got[name]['unit']} != {spec[0]}")
        if name in got and not isinstance(got[name]["value"], (int, float)):
            bad.append(f"{name}: value {got[name]['value']!r} is not a number")
    if not trace:
        for name, spec in table.items():
            if workload in spec[3] and got.get(name, {}).get("value", 0) <= 0:
                bad.append(f"{name}: {got.get(name)} is not positive")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        bad.append(f"correct={out['correct']} failed={out['failed']} attempted={out['attempted']}")
    return bad


def main() -> int:
    failures = [f"manifest: {m}" for m in check_manifest()]
    for workload in metrics.WORKLOADS:
        for trace in (0, 1):
            out, log = run(workload, trace)
            if out is None:
                failures.append(f"{workload} trace={trace}: {log}")
                continue
            problems = check_result(workload, trace, out)
            failures += [f"{workload} trace={trace}: {m}" for m in problems]
            print(f"{'FAIL' if problems else 'ok  '} {workload} trace={trace}: "
                  f"attempted={out['attempted']} failed={out['failed']}", flush=True)
    for kind, workload in CORRUPTIONS.items():
        out, log = run(workload, 0, corrupt=kind)
        if out is None:
            failures.append(f"corrupt {kind}: {log}")
        elif out["correct"] or out["failed"] < 1:
            failures.append(f"corrupt {kind}: not flagged (failed={out['failed']})")
        else:
            print(f"ok   corrupt {kind} on {workload}: flagged {out['failed']} failed operations",
                  flush=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
