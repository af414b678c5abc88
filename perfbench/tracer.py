"""Span recorder backed by Spark's own status store.

A span is (id, name, start, end, parent, run id). Every span runs under
its own Spark job group, so the jobs it started are read back from the
status store right after the span closes (the store keeps only the most
recent stages, so reading late would lose them). Each job's stages give
executor CPU, tasks, input, shuffle and spill; each SQL execution's plan
graph gives node metrics (join output rows, Python worker time).

With tracing off, spans still time themselves (latency metrics need
that) but set no job groups and read nothing; only the timed pass as a
whole runs under one job group, read once at its end for ``cpu_s``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(?:total \(.*?\)\n)?\s*([-\d.,]+)\s*([A-Za-z]*)")

PYTHON_NODE = re.compile(r"Pandas|Python|Arrow")
JOIN_NODE = re.compile(r"Join|CartesianProduct")
SQL_NODE = re.compile(f"{PYTHON_NODE.pattern}|{JOIN_NODE.pattern}")


def parse_metric(text: str) -> float:
    """A SQL metric string ("1,234", "2.5 s", "total (...)\\n1.2 MiB (...)")
    to a number in base units (rows, seconds, bytes)."""
    m = _NUM.match(text or "")
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _TIME.get(unit, _SIZE.get(unit, 1.0))


class StatusStore:
    """Thin py4j view of ``AppStatusStore`` and ``SQLAppStatusStore``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def jobs(self, group: str) -> list[int]:
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        jd = self.store.job(job_id)
        sids = jd.stageIds()
        sub, done = jd.submissionTime(), jd.completionTime()
        return {
            "id": job_id,
            "stages": [int(sids.apply(i)) for i in range(sids.length())],
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
        }

    def stage(self, stage_id: int) -> dict:
        """Totals over every attempt of a stage; skipped stages read zero."""
        out = dict(tasks=0, cpu_s=0.0, input_bytes=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0, skipped=True)
        attempts = self.store.stageData(stage_id, False, None, False, self._no_quantiles)
        for i in range(attempts.length()):
            a = attempts.apply(i)
            if str(a.status()) == "SKIPPED":
                continue
            out["skipped"] = False
            out["tasks"] += int(a.numTasks())
            out["cpu_s"] += a.executorCpuTime() / 1e9
            out["input_bytes"] += int(a.inputBytes())
            out["shuffle_read_bytes"] += int(a.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(a.shuffleWriteBytes())
            out["spill_bytes"] += int(a.diskBytesSpilled())
        return out

    def execution_count(self) -> int:
        return int(self.sql.executionsCount())

    def sql_nodes(self, first: int, last: int, wanted, seen: set) -> list[tuple[str, dict]]:
        """(node name, {metric name: value}) of the plan nodes whose name
        matches ``wanted``, for SQL executions [first, last). A cached
        relation's plan reappears in every execution that reads it, with
        the same accumulators; ``seen`` holds the accumulator ids already
        reported, so each is counted once."""
        out = []
        if last <= first:
            return out
        execs = self.sql.executionsList(first, last - first)
        for i in range(execs.length()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.length()):
                node = nodes.apply(k)
                if not wanted.search(node.name()):
                    continue
                metrics = {}
                ms = node.metrics()
                for q in range(ms.length()):
                    m = ms.apply(q)
                    if m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append((node.name(), metrics))
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk bytes of every cached or checkpointed RDD."""
        rdds = self.store.rddList(True)
        return sum(int(rdds.apply(i).memoryUsed()) + int(rdds.apply(i).diskUsed())
                   for i in range(rdds.length()))


class Span:
    def __init__(self, tracer: "Tracer", sid: int, name: str, parent: "Span | None"):
        self.tracer, self.id, self.name, self.parent = tracer, sid, name, parent
        self.start = self.end = None
        self.groups: list[str] = []
        self.eager_groups: set[str] = set()
        self.jobs: list[dict] = []
        self.attrs: dict = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def force(self) -> None:
        """Jobs from here on are the benchmark forcing the result; jobs
        before this call ran eagerly inside the public call."""
        if self.groups:
            self.eager_groups = set(self.groups)
            self.tracer._enter_group(self)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.store = StatusStore(spark)
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counted_stages: set[int] = set()
        self._counted_accumulators: set[int] = set()
        self.overhead_s = 0.0

    # -- job groups ---------------------------------------------------------
    def _enter_group(self, span: Span) -> None:
        group = f"{self.run_id}:{span.id}:{len(span.groups)}"
        span.groups.append(group)
        self.sc.setJobGroup(group, group, False)

    def _restore_group(self) -> None:
        live = [s for s in self._stack if s.groups]
        if live:
            g = live[-1].groups[-1]
            self.sc.setJobGroup(g, g, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, grouped: bool | None = None, **attrs):
        """Time a call; when tracing (or ``grouped``), run it under its own
        job group and attach what its jobs did. Spans are recorded on the
        main thread only: calls made on helper threads (the concurrent
        warm-up) are timed but leave no span."""
        if threading.current_thread() is not threading.main_thread():
            sp = Span(self, -1, name, None)
            sp.start = time.time()
            try:
                yield sp
            finally:
                sp.end = time.time()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(self, len(self.spans), name, parent)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        grouped = self.enabled if grouped is None else grouped
        t0 = time.perf_counter()
        if grouped:
            sp.exec_first = self.store.execution_count()
            self._enter_group(sp)
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if grouped:
                self._collect(sp)
                self._restore_group()
            self.overhead_s += time.perf_counter() - t1

    def _collect(self, sp: Span) -> None:
        totals = dict(tasks=0, cpu_s=0.0, input_bytes=0,
                      shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                      stages=0, jobs=0, eager_jobs=0, scan_tasks=0, scan_cpu_s=0.0,
                      scan_input_bytes=0)
        for group in sp.groups:
            for jid in self.store.jobs(group):
                job = self.store.job(jid)
                job["eager"] = group in sp.eager_groups
                sp.jobs.append(job)
                totals["jobs"] += 1
                totals["eager_jobs"] += int(job["eager"])
                for sid in job["stages"]:
                    if sid in self._counted_stages:
                        continue
                    st = self.store.stage(sid)
                    if st["skipped"]:
                        continue
                    self._counted_stages.add(sid)
                    totals["stages"] += 1
                    for k in ("tasks", "cpu_s", "input_bytes", "shuffle_read_bytes",
                              "shuffle_write_bytes", "spill_bytes"):
                        totals[k] += st[k]
                    if st["input_bytes"] > 0:
                        totals["scan_tasks"] += st["tasks"]
                        totals["scan_cpu_s"] += st["cpu_s"]
                        totals["scan_input_bytes"] += st["input_bytes"]
        join_rows = 0.0
        py = dict(python_rows=0.0, python_udf_s=0.0)
        nodes = (self.store.sql_nodes(sp.exec_first, self.store.execution_count(), SQL_NODE,
                                      self._counted_accumulators)
                 if self.enabled else [])
        for node, metrics in nodes:
            if JOIN_NODE.search(node):
                join_rows = max(join_rows, metrics.get("number of output rows", 0.0))
            if PYTHON_NODE.search(node):
                py["python_rows"] += metrics.get("number of output rows", 0.0)
                py["python_udf_s"] += metrics.get("time to run Python workers", 0.0)
        totals["join_rows"] = join_rows
        totals.update(py)
        sp.attrs["own"] = totals

    # -- derived numbers ----------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is sp]

    def total(self, sp: Span, key: str) -> float:
        """A counter summed over a span and all of its descendants."""
        own = sp.attrs.get("own", {}).get(key, 0)
        return own + sum(self.total(c, key) for c in self.children(sp))

    def all_jobs(self, sp: Span) -> list[dict]:
        return sp.jobs + [j for c in self.children(sp) for j in self.all_jobs(c)]

    def self_s(self, sp: Span) -> float:
        """Span time not covered by a Spark job or a child span: planning,
        Python and waiting between jobs."""
        iv = sorted([(c.start, c.end) for c in self.children(sp)] +
                    [(j["start"], j["end"]) for j in self.all_jobs(sp)
                     if j["start"] is not None and j["end"] is not None])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, sp.wall_s - covered)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [{
            "id": s.id, "name": s.name, "start": s.start, "end": s.end,
            "parent": s.parent.id if s.parent else None, "run_id": self.run_id,
            "jobs": [j["id"] for j in s.jobs],
            "eager_jobs": [j["id"] for j in s.jobs if j.get("eager")],
            **{k: v for k, v in s.attrs.items()},
        } for s in self.spans]


def proc_stat(pid: int) -> tuple[float, int]:
    """(utime+stime+cutime+cstime seconds, VmHWM bytes) of one process."""
    tick = os.sysconf("SC_CLK_TCK")
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        cpu = sum(int(x) for x in fields[11:15]) / tick
        hwm = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) * 1024
        return cpu, hwm
    except (OSError, IndexError, ValueError):
        return 0.0, 0


def python_workers() -> list[int]:
    """PIDs of PySpark's Python daemon and worker processes."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark/daemon.py" in cmd or b"pyspark.worker" in cmd:
            out.append(int(name))
    return out


def python_cpu_s() -> float:
    return sum(proc_stat(p)[0] for p in python_workers())
