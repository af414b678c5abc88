"""Benchmark entry point.

    python3 perfbench/run.py --workload sketch_rollup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts its own Spark session on
``local[N]`` with N = the CPUs this process may use, generates (or reuses)
the seeded inputs, runs an untimed warm-up and then ``--seconds`` worth of
timed passes, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` does the same work with a span and
job group around every public call and reports the per-layer metrics.
A human-readable summary goes to standard error, and the spans plus the
per-layer table are written under ``.perfbench_work/traces/``.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
checkout, including Spark's local and temporary directories.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
HEAP = "2g"


def _environment(run_dir: str) -> None:
    """Pin Spark's threads, memory and local directories before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the short-lived JVM that spark-submit starts first to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # keep every job, stage and SQL execution of a run in the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])


def _setup(get_spark, workload: str) -> tuple:
    """Start a session SETUP_REPEATS times, each to its first completed
    job; keep the last one. Returns (spark, [seconds per setup])."""
    times = []
    spark = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}")
        spark.range(1000).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            spark.stop()
    return spark, times


def _peak_rss_mb(spark) -> float:
    from perfbench.tracer import proc_stat, python_workers

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (proc_stat(jvm_pid)[1] + sum(proc_stat(p)[1] for p in python_workers())) / 2**20


def _proc_start(pid: int):
    """Start time of a live process (None once it has ended or is a zombie);
    with the pid it names one process even if the pid is later reused."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process under ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for pid in children.get(stack.pop(), []):
            start = _proc_start(pid)
            if start is not None:
                out.append((pid, start))
                stack.append(pid)
    return out


def end_processes(timeout: float = 30.0) -> None:
    """End the Spark JVM this process started and every process under it,
    and wait until each has gone. The JVM exits by itself once its stdin
    closes; the Python workers it forked end with it. Whatever is still
    there after ``timeout`` seconds is killed."""
    procs = _descendants(os.getpid())
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
    except ImportError:
        proc = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the rest were the JVM's children and are no longer ours to wait for
    deadline = time.monotonic() + timeout
    for pid, start in procs:
        while _proc_start(pid) == start:
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def main(argv=None) -> int:
    from perfbench import metrics

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "hive_udf_spark")):
        print(f"perfbench: no hive_udf_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    _environment(run_dir)
    sys.path.insert(0, ROOT)
    from hive_udf_spark.session import get_spark

    from perfbench import dedup_corpus, gen, sketch_rollup, stream_ingest
    from perfbench.common import Context
    from perfbench.tracer import Tracer

    data_dir, truth, gen_s = gen.dataset(WORK, args.workload, args.size, args.seed)
    print(f"perfbench: inputs for seed {args.seed} generated in {gen_s:.2f} s", file=sys.stderr)

    spark, setup_times = _setup(get_spark, args.workload)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = Context(spark, tracer, args.seconds, data_dir, truth, run_dir)
        module = {"sketch_rollup": sketch_rollup, "dedup_corpus": dedup_corpus,
                  "stream_ingest": stream_ingest}[args.workload]
        t_run = time.perf_counter()
        result = module.run(ctx)
        rss = _peak_rss_mb(spark)
        t_done = time.perf_counter()
    finally:
        spark.stop()
    w0, w1 = ctx.timed_window
    print(f"perfbench: phases: start->setup done {t_run - t_start:.1f} s, warm-up "
          f"{w0 - t_run:.1f} s, timed {w1 - w0:.1f} s, checks {t_done - w1:.1f} s, "
          f"stop {time.perf_counter() - t_done:.1f} s", file=sys.stderr)

    e2e = dict(result["e2e"])
    e2e["setup_s"] = statistics.median(setup_times)
    if args.trace:
        values = _layer_values(ctx, result, setup_times)
        values["peak_rss_mb"] = rss
        table = {k: (values.get(k, 0.0), u) for k, (u, _b, _m) in metrics.PER_LAYER.items()}
    else:
        table = {}
        for k, (u, _b, _bound, applies) in metrics.END_TO_END.items():
            table[k] = (e2e[k] if args.workload in applies else metrics.NOT_APPLICABLE, u)
    _summary(args, ctx, result, e2e, table, setup_times, gen_s, rss)
    if args.trace:
        _write_trace(run_id, tracer, table)
    shutil.rmtree(run_dir, ignore_errors=True)
    out = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in table.items()},
    }
    print(json.dumps(out))
    return 0


def _layer_values(ctx, result: dict, setup_times: list) -> dict:
    """The per-layer table of a traced run, from its spans."""
    from perfbench.common import median

    tr = ctx.tracer
    passes = [p["span"] for p in ctx.passes]
    values = dict(result.get("layers", {}))
    values["session.get_spark_s"] = setup_times[0]
    values["sources.scan_tasks"] = median(tr.total(p, "scan_tasks") for p in passes)
    values["sources.scan_cpu_s"] = median(tr.total(p, "scan_cpu_s") for p in passes)
    values["sources.scan_input_bytes"] = median(tr.total(p, "scan_input_bytes") for p in passes)
    values["spark.jobs"] = median(tr.total(p, "jobs") for p in passes)
    values["spark.stages"] = median(tr.total(p, "stages") for p in passes)
    values["spark.tasks"] = median(tr.total(p, "tasks") for p in passes)
    values["python.rows"] = median(tr.total(p, "python_rows") for p in passes)
    values["python.udf_time_s"] = median(tr.total(p, "python_udf_s") for p in passes)
    values["python.cpu_s"] = median(p["python_cpu_s"] for p in ctx.passes)
    values["trace.overhead_s"] = tr.overhead_s
    values["trace.latency_p50_s"] = result["e2e"]["latency_p50_s"]
    return values


def _summary(args, ctx, result, e2e, table, setup_times, gen_s, rss) -> None:
    from perfbench import metrics

    err = sys.stderr
    lat = result["latency"]
    print(f"perfbench {args.workload} seed={args.seed} size={args.size} trace={args.trace}: "
          f"{len(ctx.passes)} timed passes, generation {gen_s:.2f} s, "
          f"setups {', '.join(f'{t:.2f}' for t in setup_times)} s", file=err)
    print(f"  latency: n={lat['n']} p50={lat['p50']:.4f} s, "
          f"p{lat['tail_pct']:.1f}={lat['tail']:.4f} s", file=err)
    for k, (u, _b, _bound, applies) in metrics.END_TO_END.items():
        shown = f"{e2e.get(k, 0.0):.6g}" if args.workload in applies else "n/a"
        print(f"  {k:<16} {shown:>14} {u}", file=err)
    print(f"  fail_ratio       {ctx.failed / max(1, ctx.attempted):>14.6g} "
          f"({ctx.failed}/{ctx.attempted})", file=err)
    print(f"  peak_rss_mb      {rss:>14.6g} MB (reported per layer)", file=err)
    if args.trace:
        for k, (v, u) in table.items():
            print(f"  {k:<44} {v:>14.6g} {u}", file=err)


def _write_trace(run_id: str, tracer, table: dict) -> None:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({"run_id": run_id, "spans": tracer.dump(),
                   "layers": {k: {"value": v, "unit": u} for k, (v, u) in table.items()}},
                  fh, indent=1, default=str)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    # a terminated run still ends the processes it started
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(128 + signal.SIGTERM))
    try:
        code = main()
    finally:
        sys.stdout.flush()
        end_processes()
    sys.exit(code)
