"""Shared pieces of the three workloads: the run context, the timed-pass
loop, latency summaries and the operation/failure ledger."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from perfbench.tracer import python_cpu_s


class Context:
    def __init__(self, spark, tracer, seconds: float, data_dir: str, truth: dict,
                 run_dir: str):
        self.spark, self.tracer, self.seconds = spark, tracer, seconds
        self.data_dir, self.truth, self.run_dir = data_dir, truth, run_dir
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.timed_window = (0.0, 0.0)  # perf_counter at the first pass's start, last pass's end
        self._corrupted: set[str] = set()
        self._lock = threading.Lock()

    # -- operation ledger ---------------------------------------------------
    def op(self, problems: list[str]) -> bool:
        """Count one operation; it fails if its check found problems."""
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                for p in problems[:5]:
                    print(f"CHECK FAILED: {p}", file=sys.stderr)
        return not problems

    def guarded(self, name: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - every raise is a failed op
            traceback.print_exc(file=sys.stderr)
            self.op([f"{name} raised {type(exc).__name__}: {exc}"])
            return None

    def parallel(self, name: str, fn, items) -> list:
        """``fn(item)`` for every item on its own thread (Spark runs their
        jobs concurrently). Used only outside the timed passes: for the
        warm-up, where it overlaps the first-run code generation of
        independent calls, and for the end-of-run checks."""
        items = list(items)
        with ThreadPoolExecutor(len(items) or 1) as ex:
            return list(ex.map(lambda it: self.guarded(f"{name} {it}", fn, it), items))

    def corrupt(self, kind: str) -> bool:
        """True once per run when the self-test asked for this kind of
        output to be corrupted (PERFBENCH_CORRUPT), to prove the checks
        flag it."""
        with self._lock:
            if os.environ.get("PERFBENCH_CORRUPT") == kind and kind not in self._corrupted:
                self._corrupted.add(kind)
                return True
            return False

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    # -- timed passes -------------------------------------------------------
    def timed_passes(self, one_pass, pass_seconds: float) -> list[dict]:
        """Run ``one_pass(i)`` (after the caller's warm-up) for the run's
        seconds: ``seconds / pass_seconds`` passes, rounded, at least one,
        where ``pass_seconds`` is the workload's nominal pass time. The
        count depends on ``--seconds`` only, never on how fast a pass ran,
        so every run of a workload measures the same passes. Each pass runs
        under its own job group; its executor CPU, jobs, stages and tasks
        are read from the status store when it ends."""
        t0 = time.perf_counter()
        for i in range(max(1, round(self.seconds / pass_seconds))):
            py0 = python_cpu_s() if self.tracer.enabled else 0.0
            with self.tracer.span("pass", grouped=True) as sp:
                info = one_pass(i) or {}
            if self.tracer.enabled:
                info["python_cpu_s"] = python_cpu_s() - py0
            info["wall_s"] = sp.wall_s
            for k in ("cpu_s", "jobs", "stages", "tasks"):
                info[k] = self.tracer.total(sp, k)
            info["span"] = sp
            self.passes.append(info)
        self.timed_window = (t0, time.perf_counter())
        return self.passes

    def timed_span_ids(self) -> set:
        """Ids of every span inside a timed pass."""
        tr = self.tracer
        out, stack = set(), [p["span"] for p in self.passes]
        while stack:
            s = stack.pop()
            out.add(s.id)
            stack.extend(tr.children(s))
        return out


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def latency_summary(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (the maximum when there are ten samples or fewer)."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "n": 0}
    if n > 10:
        tail, pct = s[n - 11], 100.0 * (n - 10) / n
    else:
        tail, pct = s[-1], 100.0
    return {"p50": statistics.median(s), "tail": tail, "tail_pct": pct, "n": n}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total
