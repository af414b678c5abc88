"""The benchmark's metric table: every end-to-end and per-layer metric,
with its unit, its better direction and (per layer) the end-to-end
metric and workloads it should move. ``BENCHMARK.json`` mirrors the
names, units, directions and bounds; the self-test checks that they agree.
"""

from __future__ import annotations

WORKLOADS = ("sketch_rollup", "dedup_corpus", "stream_ingest")

# name: (unit, better, bound, workloads where it applies)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25, WORKLOADS),
    "rows_per_s": ("1/s", "higher", 0.25, WORKLOADS),
    "cpu_s": ("s", "lower", 0.25, WORKLOADS),
    "latency_p50_s": ("s", "lower", 0.25, WORKLOADS),
    "latency_tail_s": ("s", "lower", 0.25, WORKLOADS),
    "storage_ratio": ("ratio", "lower", 0.1, ("sketch_rollup", "stream_ingest")),
    "err_hll": ("ratio", "lower", 0.25, ("sketch_rollup", "stream_ingest")),
    "err_hllp": ("ratio", "lower", 0.25, ("sketch_rollup",)),
    "err_pcsa": ("ratio", "lower", 0.25, ("sketch_rollup",)),
    "err_kmv": ("ratio", "lower", 0.25, ("sketch_rollup",)),
    "err_lc": ("ratio", "lower", 0.25, ("sketch_rollup",)),
    "pair_recall": ("ratio", "higher", 0.1, ("dedup_corpus", "stream_ingest")),
}

# A metric that does not apply to a workload is printed with this neutral
# value, so every result line carries every metric; the summary on
# standard error marks it "n/a".
NOT_APPLICABLE = 1.0

FAMILIES = ("hll", "hllp", "pcsa", "kmv", "lc")
OPS = ("near_dup_pairs", "dedup_clusters", "prefix_filter_pairs", "containment_pairs",
       "embedding_near_pairs_lsh", "probe_minhash_index")
OP_FIELDS = {
    "wall_s": ("s", "lower"), "self_s": ("s", "lower"), "cpu_s": ("s", "lower"),
    "jobs": ("count", "lower"), "eager_jobs": ("count", "lower"),
    "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"), "spill_bytes": ("B", "lower"),
    "verify_yield": ("ratio", "higher"),
}


def _per_layer() -> dict:
    """name: (unit, better, what it should move)."""
    t: dict = {
        # end-to-end in spirit, but the JVM's high-water RSS moves by more
        # than a tenth from run to run, so it is reported per layer
        "peak_rss_mb": ("MB", "lower", "none: JVM plus Python workers VmHWM of the run"),
        "session.get_spark_s": ("s", "lower", "setup_s on all workloads"),
        "sources.scan_tasks": ("count", "higher",
                               "rows_per_s, cpu_s on dedup_corpus (single-row-group input); "
                               "flat on sketch_rollup (multi-split input)"),
        "sources.scan_cpu_s": ("s", "lower", "rows_per_s, cpu_s on dedup_corpus; flat on sketch_rollup"),
        "sources.scan_input_bytes": ("B", "lower", "rows_per_s, cpu_s on dedup_corpus; flat on sketch_rollup"),
    }
    for f in FAMILIES:
        moves_build = "cpu_s, rows_per_s on sketch_rollup; flat on dedup_corpus"
        moves_merge = "latency_p50_s, storage_ratio on sketch_rollup" + (
            "; latency_p50_s on stream_ingest" if f == "hll" else "")
        t[f"functions.{f}.build_cpu_s"] = ("s", "lower", moves_build)
        t[f"functions.{f}.shuffle_write_bytes"] = ("B", "lower", moves_build)
        t[f"functions.{f}.merge_s"] = ("s", "lower", moves_merge)
        t[f"functions.{f}.sketch_bytes"] = ("B", "lower", moves_merge)
    for op in OPS:
        moves = ("latency_p50_s on stream_ingest" if op == "probe_minhash_index" else
                 "rows_per_s, cpu_s on dedup_corpus; flat on sketch_rollup")
        for field, (unit, better) in OP_FIELDS.items():
            t[f"operators.{op}.{field}"] = (unit, better, moves)
    t["operators.storage_live_bytes"] = ("B", "lower", "peak_rss_mb on dedup_corpus and stream_ingest")
    for k in ("decode_s", "probe_s", "commit_s", "sketch_merge_s", "read_s"):
        t[f"streaming.{k}"] = ("s", "lower", "latency_p50_s on stream_ingest")
    t["streaming.jobs_per_batch"] = ("count", "lower", "latency_p50_s on stream_ingest")
    delta_moves = "latency_tail_s, storage_ratio on stream_ingest"
    t["sources.delta.commit_s"] = ("s", "lower", delta_moves)
    t["sources.delta.files_written"] = ("count", "lower", delta_moves)
    t["sources.delta.maintenance_runs"] = ("count", "lower", delta_moves)
    t["sources.delta.maintenance_s"] = ("s", "lower", delta_moves)
    t["sources.delta.bytes_rewritten"] = ("B", "lower", delta_moves)
    t["sources.delta.log_replay_s"] = ("s", "lower", delta_moves)
    py_moves = "latency_p50_s on stream_ingest; zero where the plans are JVM-only"
    t["python.rows"] = ("count", "lower", py_moves)
    t["python.cpu_s"] = ("s", "lower", py_moves)
    t["python.udf_time_s"] = ("s", "lower", py_moves)
    for k in ("jobs", "stages", "tasks"):
        t[f"spark.{k}"] = ("count", "lower", "rows_per_s on dedup_corpus (fixed per-stage cost)")
    t["trace.overhead_s"] = ("s", "lower", "none: time the recorder spent reading the status store")
    t["trace.latency_p50_s"] = ("s", "lower",
                                "none: latency_p50_s under tracing; its excess over the "
                                "untraced latency_p50_s is the tracing overhead")
    return t


PER_LAYER = _per_layer()
