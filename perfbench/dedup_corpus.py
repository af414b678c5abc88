"""dedup_corpus: near-duplicate detection over one single-row-group
documents file plus seeded embeddings.

A pass calls the five operators in turn, each under its own span; a span
first times the public call (jobs started inside it are eager jobs), then
forces the result with ``collect`` and checks it against the brute-force
truth from the generator. The unit operation for latency is one pass: the
five operators over the corpus, which is what a dedup job runs; the five
calls differ too much for a median over single calls to be steady.
"""

from __future__ import annotations

import numpy as np

from perfbench import checks
from perfbench.common import latency_summary, median
from perfbench.gen import DEDUP_PARAMS as P

OPS = ("near_dup_pairs", "dedup_clusters", "prefix_filter_pairs", "containment_pairs",
       "embedding_near_pairs_lsh")
# the quantized cosine the operator verifies with may differ from the
# float cosine by rounding; a pair below threshold by more than this fails
COSINE_TOLERANCE = 0.01
PASS_SECONDS = 10.0  # nominal time of one timed pass on a 4-core box


def _call(op: str, docs, vecs):
    from hive_udf_spark.operators.dedup import (
        containment_pairs,
        dedup_clusters,
        near_dup_pairs,
        prefix_filter_pairs,
    )
    from hive_udf_spark.operators.similarity import embedding_near_pairs_lsh

    if op == "near_dup_pairs":
        return near_dup_pairs(docs, "doc_id", "text", threshold=P["near_dup_threshold"],
                              num_hashes=P["near_dup_hashes"], bands=P["near_dup_bands"])
    if op == "dedup_clusters":
        return dedup_clusters(docs, "doc_id", "text", threshold=P["cluster_threshold"],
                              mode="star")
    if op == "prefix_filter_pairs":
        return prefix_filter_pairs(docs, "doc_id", "text", threshold=P["prefix_threshold"])
    if op == "containment_pairs":
        return containment_pairs(docs, "doc_id", "text", threshold=P["containment_threshold"])
    if op == "embedding_near_pairs_lsh":
        return embedding_near_pairs_lsh(vecs, "vec_id", "embedding", min_cosine=P["min_cosine"],
                                        nbits=P["nbits"], bands=P["vec_bands"], dim=64)
    raise ValueError(op)


def check(op: str, rows, truth: dict) -> tuple[list[str], set]:
    """(problems, pairs found) for one operator's collected output."""
    inter, sizes = truth["inter"], truth["sizes"]

    def jaccard_ok(t):
        return lambda p: inter[p] * 1_000_000 >= int(round(t * 1_000_000)) * (
            sizes[p[0]] + sizes[p[1]] - inter[p])

    if op == "dedup_clusters":
        return checks.cluster_errors([(r[0], r[1], r[2]) for r in rows],
                                     range(truth["docs"])), set()
    if op == "containment_pairs":
        pairs = [(r["id_a"], r["id_b"]) for r in rows]
        t = P["containment_threshold"]
        ok = lambda p: inter[p] * 1_000_000 >= int(round(t * 1_000_000)) * sizes[p[0]]  # noqa: E731
        return checks.pair_errors(op, pairs, truth["containment_exact"], ok), set(pairs)
    if op == "embedding_near_pairs_lsh":
        v = truth["vectors"]
        pairs = [tuple(sorted((r["id_a"], r["id_b"]))) for r in rows]
        ok = lambda p: float(np.dot(v[p[0]], v[p[1]])) >= P["min_cosine"] - COSINE_TOLERANCE  # noqa: E731
        return checks.pair_errors(op, pairs, None, ok), set(pairs)
    pairs = [tuple(sorted((r["id_a"], r["id_b"]))) for r in rows]
    if op == "near_dup_pairs":
        return checks.pair_errors(op, pairs, None, jaccard_ok(P["near_dup_threshold"])), set(pairs)
    return checks.pair_errors(op, pairs, truth["prefix_exact"],
                              jaccard_ok(P["prefix_threshold"])), set(pairs)


def run(ctx) -> dict:
    from hive_udf_spark.sources import load_table

    spark, tr, truth = ctx.spark, ctx.tracer, ctx.truth
    with tr.span("sources.load_table"):
        docs = load_table(spark, ctx.data_dir, "documents")
        vecs = load_table(spark, ctx.data_dir, "embeddings")
    recalls: list[float] = []
    live_bytes: list[int] = []
    planted = truth["planted_pairs"] | {("v",) + p for p in truth["planted_vec_pairs"]}

    def one_call(op: str, found: set) -> None:
        with tr.span(f"operators.{op}", op=op) as sp:
            out = _call(op, docs, vecs)
            sp.force()
            rows = out.collect()
        if op == "prefix_filter_pairs" and rows and ctx.corrupt("pair"):
            rows = rows[1:]
        problems, pairs = check(op, rows, truth)
        # verified pairs; for clusters, the docs merged into another by a
        # verified edge
        sp.attrs["verified"] = (sum(1 for r in rows if not r[2]) if op == "dedup_clusters"
                                else len(rows))
        ctx.op(problems)
        if op == "near_dup_pairs":
            found |= pairs
        if op == "embedding_near_pairs_lsh":
            found |= {("v",) + p for p in pairs}
        if tr.enabled:
            live_bytes.append(tr.store.storage_bytes())

    def one_pass(_i):
        found: set = set()
        for op in OPS:
            ctx.guarded(op, one_call, op, found)
        recalls.append(checks.recall(found, planted))

    # warm-up, untimed: every operator once, concurrently
    def warm(op: str) -> None:
        ctx.op(check(op, _call(op, docs, vecs).collect(), truth)[0])

    ctx.parallel("warm-up", warm, OPS)
    passes = ctx.timed_passes(one_pass, PASS_SECONDS)

    lat = latency_summary([p["wall_s"] for p in passes])
    e2e = {
        "rows_per_s": truth["rows"] / median(p["wall_s"] for p in passes),
        "cpu_s": median(p["cpu_s"] for p in passes),
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "pair_recall": median(recalls),
    }
    layers = operator_layers(ctx, OPS) if tr.enabled else {}
    if live_bytes:
        layers["operators.storage_live_bytes"] = max(live_bytes)
    return {"e2e": e2e, "latency": lat, "layers": layers}


def operator_layers(ctx, ops) -> dict:
    """operators.<op>.* medians over the timed calls of each operator."""
    tr = ctx.tracer
    timed = ctx.timed_span_ids()
    out = {}
    for op in ops:
        spans = [s for s in tr.named(f"operators.{op}") if s.id in timed]
        if not spans:
            continue
        pre = f"operators.{op}."

        def med(fn):
            return median(fn(s) for s in spans)

        out[pre + "wall_s"] = med(lambda s: s.wall_s)
        out[pre + "self_s"] = med(tr.self_s)
        out[pre + "cpu_s"] = med(lambda s: tr.total(s, "cpu_s"))
        out[pre + "jobs"] = med(lambda s: tr.total(s, "jobs"))
        out[pre + "eager_jobs"] = med(lambda s: tr.total(s, "eager_jobs"))
        out[pre + "stages"] = med(lambda s: tr.total(s, "stages"))
        out[pre + "tasks"] = med(lambda s: tr.total(s, "tasks"))
        out[pre + "shuffle_bytes"] = med(lambda s: tr.total(s, "shuffle_write_bytes"))
        out[pre + "spill_bytes"] = med(lambda s: tr.total(s, "spill_bytes"))
        out[pre + "verify_yield"] = med(
            lambda s: s.attrs.get("verified", 0) / max(1.0, tr.total(s, "join_rows")))
    return out
