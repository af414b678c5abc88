"""stream_ingest: compressed JSONL shards ingested as a fixed sequence of
micro-batches, with writes beside reads through the commit machinery.

Each batch, in order:
  1. decode: ``decode_shard_lines`` (the mapInPandas boundary) over the
     batch's shard files, then a JSON parse; the batch is cached once,
     as a foreachBatch body would;
  2. probe: ``probe_minhash_index`` against the running index, then
     ``build_minhash_index`` appends the batch to it;
  3. commit: ``commit_batch_to_delta`` with auto-maintenance on;
  4. sketch merge: per-(day, tenant) HLL sketches of the batch's viewers
     merged into the stored table by ``merge_sketch_table``;
  5. read: a ``read_delta`` snapshot count and a sketch-estimate read.

A timed pass ingests the whole sequence into fresh tables; the warm-up
ingests the first batches into tables of its own. The unit operation for
latency is one micro-batch.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from perfbench import checks
from perfbench.common import dir_bytes, latency_summary, median

WARMUP_BATCHES = 2
PASS_SECONDS = 12.0  # nominal time of one timed pass on a 4-core box
MAINTAIN_EVERY = 2
MAINTAIN_TARGET_FILES = 2
SKETCH_B = 8  # per-(day, tenant) sketches: small, as a per-key streaming table would be
PROBE = dict(threshold=0.7, num_hashes=16, bands=4)
LINE_SCHEMA = "doc_id bigint, tenant int, day int, viewers array<bigint>, text string"
_SHARD = re.compile(r"shard-(\d+)\.jsonl\.(\w+)$")
_CODEC = {"gz": "gzip", "xz": "xz", "bz2": "bz2"}


def _shards(spark, batch_dir: str):
    files = spark.read.format("binaryFile").load(batch_dir)
    name = F.regexp_extract("path", _SHARD.pattern, 1).cast("int")
    codec = F.element_at(F.create_map(*[x for k, v in _CODEC.items()
                                        for x in (F.lit(k), F.lit(v))]),
                         F.regexp_extract("path", _SHARD.pattern, 2))
    return files.select(name.alias("shard"), codec.alias("codec"), F.col("content").alias("blob"))


def _decode(spark, batch_dir: str):
    from hive_udf_spark.streaming.shard_sink import decode_shard_lines

    lines = decode_shard_lines(_shards(spark, batch_dir))
    return lines.select(F.from_json("line", LINE_SCHEMA).alias("d"), "decode_error") \
        .select("d.*", "decode_error")


def _versions(table: str) -> list[int]:
    log = os.path.join(table, "_delta_log")
    return sorted(int(n[:20]) for n in os.listdir(log) if re.fullmatch(r"\d{20}\.json", n))


def _log_actions(table: str, version: int) -> list[dict]:
    with open(os.path.join(table, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def run(ctx) -> dict:
    from hive_udf_spark.operators.dedup import build_minhash_index, probe_minhash_index
    from hive_udf_spark.sources.delta import delta_snapshot, read_delta
    from hive_udf_spark.functions.sketch import approx_distinct
    from hive_udf_spark.streaming.delta_sink import commit_batch_to_delta
    from hive_udf_spark.streaming.sketch_sink import merge_sketch_table

    spark, tr, truth = ctx.spark, ctx.tracer, ctx.truth
    cfg = truth["cfg"]
    shard_root = os.path.join(ctx.data_dir, "shards")
    texts = truth["texts"]
    token_sets: dict = {}
    live_bytes: list[int] = []  # cached or checkpointed bytes after each batch

    def tokens(i):
        if i not in token_sets:
            token_sets[i] = set(texts[i].split())
        return token_sets[i]

    def jaccard_ok(p):
        a, b = tokens(p[0]), tokens(p[1])
        return len(a & b) * 1_000_000 >= int(PROBE["threshold"] * 1_000_000) * len(a | b)

    def one_batch(b: int, dirs: dict, found: set, latencies: list | None) -> None:
        batch_dir = os.path.join(shard_root, f"batch-{b:04d}")
        with tr.span("streaming.batch", batch=b) as batch_sp:
            with tr.span("streaming.decode") as sp:
                docs = _decode(spark, batch_dir).cache()
                sp.force()
                n_rows = docs.count()
                n_bad = docs.filter(F.col("decode_error").isNotNull()).count()
            ctx.op([f"batch {b}: {n_rows} rows, {n_bad} decode errors, expected "
                    f"{truth['rows_per_batch'][b]}"]
                   if n_rows != truth["rows_per_batch"][b] or n_bad else [])
            with tr.span("streaming.probe"):
                if os.path.exists(dirs["index"]):
                    with tr.span("operators.probe_minhash_index", op="probe_minhash_index") as sp:
                        index = spark.read.parquet(dirs["index"])
                        out = probe_minhash_index(index, docs, "doc_id", "text", **PROBE)
                        sp.force()
                        rows = out.collect()
                    pairs = [(r["batch_id"], r["corpus_id"]) for r in rows]
                    sp.attrs["verified"] = len(pairs)
                    ctx.op(checks.pair_errors("probe_minhash_index", pairs, None, jaccard_ok))
                    found.update(pairs)
                with tr.span("operators.build_minhash_index"):
                    build_minhash_index(docs, "doc_id", "text", num_hashes=PROBE["num_hashes"]) \
                        .write.mode("append").parquet(dirs["index"])
            with tr.span("streaming.commit", maintenance=(b + 1) % MAINTAIN_EVERY == 0):
                ok = (b == 1 and ctx.corrupt("commit")) or commit_batch_to_delta(
                    docs.drop("decode_error"), b, dirs["table"], app_id="perfbench",
                    maintain_every=MAINTAIN_EVERY, maintain_target_files=MAINTAIN_TARGET_FILES,
                    retention_seconds=0.0)
            ctx.op([] if ok else [f"batch {b}: commit reported a replay"])
            with tr.span("streaming.sketch_merge"):
                sketches = (docs.select("day", "tenant", F.explode("viewers").alias("viewer"))
                            .groupBy("day", "tenant")
                            .agg(approx_distinct("viewer", b=SKETCH_B).alias("s")))
                merge_sketch_table(spark, sketches, dirs["sketch"], ["day", "tenant"], "s")
            with tr.span("streaming.read"):
                with tr.span("sources.delta.log_replay"):
                    delta_snapshot(dirs["table"])
                n_table = read_delta(spark, dirs["table"]).count()
                est = {(r["day"], r["tenant"]): r["est"] for r in
                       spark.read.parquet(dirs["sketch"])
                       .select("day", "tenant", F.col("s.cardinality").alias("est")).collect()}
            docs.unpersist()
        if tr.enabled:
            live_bytes.append(tr.store.storage_bytes())
        if latencies is not None:
            latencies.append(batch_sp.wall_s)
        # every table holds batches 0..b, so the truth after batch b applies
        expected_rows = sum(truth["rows_per_batch"][: b + 1])
        problems = [] if n_table == expected_rows else [
            f"batch {b}: snapshot has {n_table} rows, expected {expected_rows}"]
        problems += checks.estimate_errors(
            "hll", [(f"batch {b} key {k}", est.get(k), e)
                    for k, e in truth["exact_after_batch"][b].items()], hll_b=SKETCH_B)
        ctx.op(problems)
        dirs["est"] = est

    def fresh_dirs(tag: str) -> dict:
        return {"table": ctx.fresh(tag, "delta"), "index": ctx.fresh(tag, "index"),
                "sketch": ctx.fresh(tag, "sketch")}

    # warm-up: the first batches into tables of their own, untimed
    warm = fresh_dirs("warm")
    for b in range(WARMUP_BATCHES):
        ctx.guarded(f"batch {b}", one_batch, b, warm, set(), None)

    latencies: list[float] = []
    recalls: list[float] = []
    runs: list[dict] = []

    def one_pass(i: int):
        dirs = fresh_dirs(f"pass{i}")
        found: set = set()
        for b in range(cfg["batches"]):
            ctx.guarded(f"batch {b}", one_batch, b, dirs, found, latencies)
        recalls.append(checks.recall(found, truth["planted_pairs"]))
        runs.append(dirs)

    passes = ctx.timed_passes(one_pass, PASS_SECONDS)
    last = runs[-1]
    final_exact = truth["exact_after_batch"][-1]
    pairs = [(k, last.get("est", {}).get(k), e) for k, e in final_exact.items()]

    # end-of-run checks: contiguous versions, a replayed batch is a no-op
    versions = _versions(last["table"])
    b_last = cfg["batches"] - 1
    replay = commit_batch_to_delta(
        _decode(spark, os.path.join(shard_root, f"batch-{b_last:04d}")).drop("decode_error"),
        b_last, last["table"], app_id="perfbench", maintain_every=MAINTAIN_EVERY,
        maintain_target_files=MAINTAIN_TARGET_FILES, retention_seconds=0.0)
    snapshot_rows = read_delta(spark, last["table"]).count()
    ctx.op(checks.delta_errors(versions, replay is False and _versions(last["table"]) == versions,
                               snapshot_rows, truth["rows"]))

    lat = latency_summary(latencies)
    e2e = {
        "rows_per_s": truth["rows"] / median(p["wall_s"] for p in passes),
        "cpu_s": median(p["cpu_s"] for p in passes),
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "storage_ratio": dir_bytes(last["table"]) / truth["raw_bytes"],
        "err_hll": checks.rms_rel_error(pairs),
        "pair_recall": median(recalls),
    }
    layers = _layers(ctx, last["table"]) if tr.enabled else {}
    if live_bytes:
        layers["operators.storage_live_bytes"] = max(live_bytes)
    return {"e2e": e2e, "latency": lat, "layers": layers}


def _layers(ctx, table: str) -> dict:
    from perfbench.dedup_corpus import operator_layers

    tr = ctx.tracer
    timed = ctx.timed_span_ids()

    def spans(name):
        return [s for s in tr.named(name) if s.id in timed]

    out = operator_layers(ctx, ("probe_minhash_index",))
    for key, name in (("decode_s", "streaming.decode"), ("probe_s", "streaming.probe"),
                      ("commit_s", "streaming.commit"), ("sketch_merge_s", "streaming.sketch_merge"),
                      ("read_s", "streaming.read")):
        out[f"streaming.{key}"] = median(s.wall_s for s in spans(name))
    out["streaming.jobs_per_batch"] = median(tr.total(s, "jobs") for s in spans("streaming.batch"))
    out["functions.hll.merge_s"] = out["streaming.sketch_merge_s"]
    commits = spans("streaming.commit")
    plain = [s.wall_s for s in commits if not s.attrs["maintenance"]]
    maint = [s.wall_s for s in commits if s.attrs["maintenance"]]
    out["sources.delta.commit_s"] = median(plain)
    out["sources.delta.maintenance_s"] = max(0.0, median(maint) - median(plain)) if maint else 0.0
    out["sources.delta.log_replay_s"] = median(s.wall_s for s in spans("sources.delta.log_replay"))
    files = runs_ops = rewritten = 0
    for v in _versions(table):
        actions = _log_actions(table, v)
        adds = [a["add"] for a in actions if "add" in a]
        files += len(adds)
        if any(a.get("commitInfo", {}).get("operation") == "OPTIMIZE" for a in actions):
            runs_ops += 1
            rewritten += sum(a.get("size", 0) for a in adds)
    out["sources.delta.files_written"] = files
    out["sources.delta.maintenance_runs"] = runs_ops
    out["sources.delta.bytes_rewritten"] = rewritten
    return out
