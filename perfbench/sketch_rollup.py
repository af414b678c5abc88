"""sketch_rollup: build per-(day, tenant) sketches of five families once
(write), then answer rollup queries from the stored sketches alone (read).

A timed pass is one write phase (five grouped builds, each persisted as a
parquet sketch table) followed by a fixed block of rollup queries, sent
closed loop by one client; each query is answered by every family in turn,
so every latency sample does the same mix of work. After the
timed passes, each family is built directly over the fixed accuracy sweep
(``err_<family>``), and a few queries are both merged from the stored
sketches and rebuilt from raw rows, to check that merge-then-estimate
equals the direct build where the merge is lossless.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import checks
from perfbench.checks import FAMILIES, HLL_B, HLLP_M, KMV_K, LC_BYTES, PCSA_M
from perfbench.common import dir_bytes, latency_summary, median

QUERIES_PER_PASS = 4
CHECK_QUERIES = 2  # rollups also rebuilt from raw rows after the timed passes
PASS_SECONDS = 10.0  # nominal time of one timed pass on a 4-core box
GROUP = ["day", "tenant"]


def _build(family: str, events, keys: list[str] = GROUP):
    """The library's grouped sketch build for one family."""
    from hive_udf_spark.functions.hllp import hllp_table
    from hive_udf_spark.functions.kmv import kmv_table
    from hive_udf_spark.functions.pcsa import pcsa_table
    from hive_udf_spark.functions.sketch import approx_distinct_table

    if family == "hll":
        return approx_distinct_table(events, keys, "user_id", kind="hll", b=HLL_B)
    if family == "hllp":
        return hllp_table(events, keys, "user_id", m=HLLP_M)
    if family == "pcsa":
        return pcsa_table(events, keys, "user_id", m=PCSA_M)
    if family == "kmv":
        return kmv_table(events, keys, "user_id", k=KMV_K)
    if family == "lc":
        return approx_distinct_table(events, keys, "user_id", kind="lc", b=LC_BYTES)
    raise ValueError(family)


def _estimates(family: str, sketches, keys: list[str]):
    """keys + est: merge the stored sketch rows per key, then estimate."""
    from hive_udf_spark.functions.hllp import hllp_estimate, hllp_merge_table
    from hive_udf_spark.functions.kmv import kmv_merge_table
    from hive_udf_spark.functions.lc import lc_merge_agg
    from hive_udf_spark.functions.pcsa import pcsa_estimate, pcsa_merge_table
    from hive_udf_spark.functions.sketch import sketch_merge_agg

    if family == "hll":
        return sketches.groupBy(*keys).agg(
            sketch_merge_agg("approx_distinct").cardinality.alias("est"))
    if family == "hllp":
        return hllp_estimate(hllp_merge_table(sketches, keys), keys, m=HLLP_M) \
            .select(*keys, F.col("est_hllp").alias("est"))
    if family == "pcsa":
        return pcsa_estimate(pcsa_merge_table(sketches, keys, m=PCSA_M), keys, m=PCSA_M) \
            .select(*keys, F.col("est_pcsa").alias("est"))
    if family == "kmv":
        return kmv_merge_table(sketches, keys, "kmv", KMV_K) \
            .select(*keys, F.col("est_kmv").alias("est"))
    if family == "lc":
        return sketches.groupBy(*keys).agg(
            lc_merge_agg(F.col("approx_distinct.binary")).cardinality.alias("est"))
    raise ValueError(family)


def _direct(family: str, rows, keys: list[str]):
    """keys + est from a direct build over raw rows (no merge)."""
    from hive_udf_spark.functions.hllp import hllp_estimate
    from hive_udf_spark.functions.pcsa import pcsa_estimate

    built = _build(family, rows, keys)
    if family == "hllp":
        return hllp_estimate(built, keys, m=HLLP_M).select(*keys, F.col("est_hllp").alias("est"))
    if family == "pcsa":
        return pcsa_estimate(built, keys, m=PCSA_M).select(*keys, F.col("est_pcsa").alias("est"))
    if family == "kmv":
        return built.select(*keys, F.col("est_kmv").alias("est"))
    return built.select(*keys, F.col("approx_distinct.cardinality").alias("est"))


def _membership(spark, queries):
    rows = [(q["qid"], d, t) for q in queries for t in q["tenants"]
            for d in range(q["d0"], q["d1"] + 1)]
    return spark.createDataFrame(rows, "qid int, day int, tenant int")


def run(ctx) -> dict:
    from hive_udf_spark.sources import load_table

    spark, tr, truth = ctx.spark, ctx.tracer, ctx.truth
    with tr.span("sources.load_table"):
        events = load_table(spark, ctx.data_dir, "events")
    stream = truth["stream"]
    tables = {f: ctx.path("sketch", f) for f in FAMILIES}
    build_walls: list[float] = []
    latencies: list[float] = []
    registered: dict = {}  # the stored tables, read back once per write
    answers: dict = {}  # (qid, family) -> estimate of the last rollup answered

    def write(fam: str) -> bool:
        with tr.span(f"functions.{fam}.build", family=fam) as sp:
            df = _build(fam, events)
            sp.force()
            df.write.mode("overwrite").parquet(tables[fam])
        registered[fam] = spark.read.parquet(tables[fam])
        return True

    def merge(q: dict, fam: str) -> None:
        with tr.span(f"functions.{fam}.merge", family=fam):
            stored = registered[fam].filter(
                F.col("day").between(q["d0"], q["d1"]) & F.col("tenant").isin(q["tenants"]))
            est = _estimates(fam, stored, []).collect()
        got = est[0]["est"] if est else None
        if got is not None and ctx.corrupt("estimate"):
            got = 4 * got + 1000
        answers[q["qid"], fam] = got
        ctx.op(checks.estimate_errors(fam, [(f"query {q['qid']}", got, q["exact"])]))

    def query(i: int) -> None:
        """One rollup query, answered by every family in turn."""
        q = stream[i % len(stream)]
        with tr.span("rollup_query") as sp:
            for fam in FAMILIES:
                ctx.guarded(f"{fam} rollup", merge, q, fam)
        latencies.append(sp.wall_s)

    # warm-up, untimed: every family's build and one rollup merge
    ctx.parallel("warm-up", lambda fam: write(fam) and merge(stream[0], fam), FAMILIES)

    def one_pass(i: int) -> None:
        t0 = time.perf_counter()
        for fam in FAMILIES:
            if ctx.guarded(f"write {fam}", write, fam):
                ctx.op([])
        build_walls.append(time.perf_counter() - t0)
        for k in range(QUERIES_PER_PASS):
            query(1 + i * QUERIES_PER_PASS + k)

    passes = ctx.timed_passes(one_pass, PASS_SECONDS)

    # after the timed passes, concurrently: each family's estimates over the
    # fixed accuracy sweep (direct builds), and, for the families whose merge
    # is lossless, the first rollup queries of the pass rebuilt from raw rows
    sweep = spark.read.parquet(os.path.join(ctx.data_dir, "sweep.parquet"))
    checked = stream[1: 1 + CHECK_QUERIES]
    raw = events.join(_membership(spark, checked), GROUP)
    lossless = ("hllp", "pcsa", "kmv", "lc")

    def after(task):
        kind, fam = task
        df = _direct(fam, sweep, ["g"]) if kind == "sweep" else _direct(fam, raw, ["qid"])
        return {r[0]: r["est"] for r in df.collect()}

    tasks = [("sweep", f) for f in FAMILIES] + [("direct", f) for f in lossless]
    results = dict(zip(tasks, ctx.parallel("check", after, tasks)))
    errors = {}
    for fam in FAMILIES:
        got = results[("sweep", fam)] or {}
        pairs = [(f"sweep group {g}", got.get(g), e) for g, e in truth["sweep"]["exact"].items()]
        ctx.op(checks.estimate_errors(fam, pairs))
        errors[fam] = checks.rms_rel_error(pairs)
    for fam in lossless:
        merged = {q["qid"]: answers.get((q["qid"], fam)) for q in checked}
        ctx.op(checks.equal_merge(fam, merged, results[("direct", fam)] or {}))
    lat = latency_summary(latencies)
    sketch_bytes = {f: dir_bytes(tables[f]) for f in FAMILIES}
    e2e = {
        "rows_per_s": truth["rows"] / median(build_walls),
        "cpu_s": median(p["cpu_s"] for p in passes),
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "storage_ratio": sum(sketch_bytes.values()) / truth["raw_bytes"],
        **{f"err_{f}": errors[f] for f in FAMILIES},
    }
    return {"e2e": e2e, "latency": lat,
            "layers": _layers(ctx, sketch_bytes) if tr.enabled else {}}


def _layers(ctx, sketch_bytes: dict) -> dict:
    tr = ctx.tracer
    timed = ctx.timed_span_ids()
    out = {}
    for fam in FAMILIES:
        builds = [s for s in tr.named(f"functions.{fam}.build") if s.id in timed]
        merges = [s for s in tr.named(f"functions.{fam}.merge") if s.id in timed]
        out[f"functions.{fam}.build_cpu_s"] = median(tr.total(s, "cpu_s") for s in builds)
        out[f"functions.{fam}.shuffle_write_bytes"] = median(
            tr.total(s, "shuffle_write_bytes") for s in builds)
        out[f"functions.{fam}.merge_s"] = median(s.wall_s for s in merges)
        out[f"functions.{fam}.sketch_bytes"] = sketch_bytes[fam]
    return out
