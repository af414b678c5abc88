#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "queries_cold": {name: sec, ...},
   "warm_runs": 3, "sf": 0.1}

"queries" (and the headline total) are the MEDIAN of
$SPARK_GRAFT_BENCH_RUNS warm runs per entry (default 3) — robust to the
machine-contention windows that inflated six entries in the r5 driver
artifact with git-verified unchanged code. "queries_cold" keeps each
entry's first (cold) run on record.

Queries are forced end-to-end with the noop sink (full computation, no
driver collect cost). Scale-path variants are benchmarked (fast xxhash64
hashes, LSH instead of brute force) — the oracle gate covers correctness;
this measures throughput of the plans we'd run at 100 TB.

Every entry is declared once, in ``BENCHES`` at the bottom of the
entry definitions: a registry query name (the timed body is
``QUERIES[name].fn(spark, sf_dir)``, so adding one is one table line),
or a bespoke body ``q_<key>(c)`` over a ``Ctx``. A bespoke body returns
the one DataFrame the runner forces — the same object
``scripts/plans.py`` explains — or is a generator yielding each
DataFrame it forces (several sinks, iterative trainers), which has no
single plan to capture.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What a bench body reads: the session, the fixture tables, and the
    state the runner undoes after each run (operator ``caches=`` lists
    and session confs set by ``set_conf``)."""

    def __init__(self, spark, sf_dir: str):
        from hive_udf_spark.sources import load_table

        self.spark, self.sf_dir = spark, sf_dir
        self.lineitem = load_table(spark, sf_dir, "lineitem")
        self.events = load_table(spark, sf_dir, "events")
        self.orders = load_table(spark, sf_dir, "orders")
        self.docs = load_table(spark, sf_dir, "documents")
        self.emb = load_table(spark, sf_dir, "embeddings")
        self.caches: list = []
        self._saved_confs: dict[str, str] = {}

    def set_conf(self, key: str, value: str) -> None:
        self._saved_confs.setdefault(key, self.spark.conf.get(key))
        self.spark.conf.set(key, value)

    def release(self) -> None:
        for c in self.caches:
            c.unpersist()
        self.caches.clear()
        for key, value in self._saved_confs.items():
            self.spark.conf.set(key, value)
        self._saved_confs.clear()

    @functools.cached_property
    def pq_index(self):
        """PQ codebooks + encoded corpus, trained once: the index build
        (training + corpus encoding, both write-once in production) is
        kept out of ann_pq_pretrained's timed body."""
        from hive_udf_spark.operators.similarity import pq_codebooks, pq_encode

        books = pq_codebooks(self.emb, n_subspaces=8, n_codes=64)
        return books, pq_encode(self.emb, books).localCheckpoint(eager=True)


# --- bespoke entries ------------------------------------------------------


def q_hll_grouped_lineitem(c):
    from hive_udf_spark.functions import approx_distinct

    return c.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        approx_distinct("l_orderkey").alias("s")
    )


def q_hll_vs_exact_events(c):
    from hive_udf_spark.functions import approx_distinct

    return c.events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"),
        approx_distinct("user_id").alias("s"),
    )


def q_lc_grouped_orders(c):
    from hive_udf_spark.functions.lc import lc_cardinality

    return c.orders.groupBy("o_orderpriority").agg(
        lc_cardinality("o_custkey", 1_000_000).alias("lc")
    )


def q_sketch_rollup(c):
    from hive_udf_spark.functions import approx_distinct, sketch_merge_agg

    daily = c.events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        approx_distinct("user_id").alias("s")
    )
    return daily.agg(sketch_merge_agg("s").alias("m"))


def q_minhash_lsh_dedup(c):
    from hive_udf_spark.operators.dedup import near_dup_pairs

    return near_dup_pairs(
        c.docs,
        "doc_id",
        "text",
        threshold=0.7,
        num_hashes=16,
        bands=4,  # r=4: right s-curve for t=0.7
        portable=False,
        sig_prefilter_margin=0.25,
        hashed_tokens=True,  # 8-byte set ops on the fast path
        caches=c.caches,
    )


def q_dedup_clusters(c):
    # default mode (star since r4): the no-thought call is scale-safe
    from hive_udf_spark.operators.dedup import dedup_clusters

    return dedup_clusters(c.docs, "doc_id", "text", threshold=0.7, hashed_tokens=True)


def q_dedup_clusters_exact(c):
    # opt-in quadratic regime, kept measured so the cost stays visible
    from hive_udf_spark.operators.dedup import dedup_clusters

    return dedup_clusters(
        c.docs, "doc_id", "text", threshold=0.7, hashed_tokens=True, mode="exact"
    )


def q_dedup_clusters_star(c):
    from hive_udf_spark.operators.dedup import dedup_clusters_star

    return dedup_clusters_star(c.docs, "doc_id", "text", threshold=0.7)


def q_simhash_blocked(c):
    from hive_udf_spark.operators.dedup import simhash_block_pairs

    return simhash_block_pairs(
        c.docs, "doc_id", "text", max_hamming=6, portable=False, caches=c.caches
    )


def q_topk_dot_bruteforce(c):
    from hive_udf_spark.operators.similarity import topk_dot_quantized

    queries = c.emb.filter(F.col("vec_id") % 10 == 0)
    return topk_dot_quantized(c.emb, queries, k=5)


# (brute embedding_near_pairs is the oracle baseline, not an engine
# path: measured 56.8 s vs 6.3 s for the LSH path at sf0.1 — 9× —
# recorded in SCALE_NOTES.md, not re-run every round)
def q_near_pairs_lsh(c):
    from hive_udf_spark.operators.similarity import embedding_near_pairs_lsh

    return embedding_near_pairs_lsh(
        c.emb, min_cosine=0.35, nbits=32, bands=8, caches=c.caches
    )


def q_vec_dedup_clusters(c):
    from hive_udf_spark.operators.similarity import embedding_dedup_clusters

    return embedding_dedup_clusters(c.emb, min_cosine=0.35, nbits=32, bands=8)


def q_ann_lsh(c):
    from hive_udf_spark.operators.similarity import ann_hyperplane_lsh

    queries = c.emb.filter(F.col("vec_id") % 10 == 0)
    return ann_hyperplane_lsh(c.emb, queries, k=5, nbits=16, bands=4)


def q_ann_ivf(c):
    from hive_udf_spark.operators.similarity import ann_ivf

    queries = c.emb.filter(F.col("vec_id") % 10 == 0)
    return ann_ivf(c.emb, queries, k=5, n_centroids=16, nprobe=4)


def q_ann_pq(c):
    from hive_udf_spark.operators.similarity import ann_pq

    queries = c.emb.filter(F.col("vec_id") % 10 == 0)
    return ann_pq(c.emb, queries, k=5, n_subspaces=8, n_codes=64, refine=50)


def q_ann_pq_pretrained(c):
    # steady-state regime (r4 verdict item 4): train-once/search-many.
    # Codebook training runs OUTSIDE the timed body (Ctx.pq_index), so
    # this entry is the warm per-batch search cost alone; ann_pq keeps
    # the cold train+search cost on record.
    from hive_udf_spark.operators.similarity import ann_pq

    books, codes = c.pq_index
    queries = c.emb.filter(F.col("vec_id") % 10 == 0)
    return ann_pq(c.emb, queries, k=5, refine=50, books=books, codes=codes)


def q_pipeline_prep(c):
    from hive_udf_spark.operators.chunking import (
        chunk_documents,
        mixture_weighted_repeat,
        pack_documents,
        stratified_sample,
    )

    docs = c.docs
    yield chunk_documents(docs, "doc_id", "text", chunk_tokens=128, overlap=16)
    yield pack_documents(docs, "doc_id", "text", budget=2048, shard_col="lang")
    yield stratified_sample(docs, "lang", "doc_id", {"en": 0.5, "de": 0.25}, seed=7)
    yield mixture_weighted_repeat(docs, "lang", "doc_id", {"en": 2.5, "de": 0.4})


def q_decontaminate(c):
    from hive_udf_spark.functions.text import tokenize
    from hive_udf_spark.operators.decontam import contamination_report

    bench_set = c.docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(tokenize("text"), 1, 12), " ").alias("prompt"),
    )
    return contamination_report(
        c.docs, bench_set, "doc_id", "text", "bench_id", "prompt", n=8
    )


def q_bloom_prefilter(c):
    from hive_udf_spark.functions.bloom import bloom_prefilter_join
    from hive_udf_spark.sources import load_table

    part = load_table(c.spark, c.sf_dir, "part").filter(F.col("p_size") <= 5)
    return bloom_prefilter_join(
        c.lineitem, part, "l_partkey", "p_partkey", m_bits=1 << 16, k=5
    )


def q_freq_sketches(c):
    from hive_udf_spark.functions.freq import cms_lookup, cms_table, top_k_exploded
    from hive_udf_spark.functions.text import tokenize

    toks = c.docs.select(F.explode(tokenize("text")).alias("token"))
    yield top_k_exploded(toks, "token", k=20, max_items_tracked=10000)
    cms = cms_table(toks, "token", depth=4, width=1024)
    yield cms_lookup(cms, toks, "token", depth=4, width=1024)


def q_lc_struct_table(c):
    # packed-word relational LC facade (r4): bit_or words before the
    # exchange, JVM-serialized bitmaps
    from hive_udf_spark.functions.lc import lc_table

    return lc_table(c.orders, ["o_orderpriority"], "o_custkey", size_bytes=65536)


def q_lc_struct_table_default(c):
    # same facade at the reference's 1 MB default map (131,072 words):
    # linearity proof for the r5 run-length serializer — cost must stay
    # flat vs the 64 KiB entry, not grow 16x with the map size
    from hive_udf_spark.functions.lc import lc_table

    return lc_table(c.orders, ["o_orderpriority"], "o_custkey", size_bytes=1_000_000)


def q_quantile_sketch(c):
    # fast path: xxhash64 row sample (oracle covers portable mode)
    from hive_udf_spark.functions.qsketch import qsketch_quantile, quantile_sketch_table

    cents = c.orders.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    return quantile_sketch_table(
        cents, ["o_orderpriority"], "cents", "o_orderkey", k=256
    ).select("o_orderpriority", qsketch_quantile("qs", 0.5))


def q_gopher_filter(c):
    from hive_udf_spark.functions.text import gopher_filter_table

    # The test corpus is ONE parquet row group → one task; real corpora
    # arrive in thousands of splits. Spread the scan so the bench
    # measures the (shuffle-free) operator, not the fixture's file
    # layout. The repartition is bench-side only — the operator itself
    # never shuffles.
    spread = c.docs.repartition(int(c.spark.sparkContext.defaultParallelism))
    return gopher_filter_table(spread, "text", id_cols=("doc_id",))


def q_kmv_grouped(c):
    from hive_udf_spark.functions.kmv import kmv_table

    return kmv_table(c.events, ["event_type"], "user_id", k=64)


def q_incremental_dedup(c):
    # fast path: xxhash64 tokens/bands (the oracle covers portable mode)
    from hive_udf_spark.operators.dedup import build_minhash_index, probe_minhash_index

    corpus = c.docs.filter(F.col("doc_id") % 10 != 0)
    batch = c.docs.filter(F.col("doc_id") % 10 == 0)
    index = build_minhash_index(corpus, "doc_id", "text", 16, hashed_tokens=True)
    return probe_minhash_index(
        index, batch, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8,
        hashed_tokens=True,
    )


def q_incremental_dedup_shuffle(c):
    # broadcast disabled + 50/50 split: the batch is too big to ship
    # to executors, proving the shuffle-only probe plan (SMJ/shuffled
    # hash on the verify joins; band-key-only candidate exchange) —
    # r3 verdict item 7. Timing recorded alongside the broadcast
    # regime above.
    from hive_udf_spark.operators.dedup import build_minhash_index, probe_minhash_index

    c.set_conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    corpus = c.docs.filter(F.col("doc_id") % 2 != 0)
    batch = c.docs.filter(F.col("doc_id") % 2 == 0)
    index = build_minhash_index(corpus, "doc_id", "text", 16, hashed_tokens=True)
    return probe_minhash_index(
        index, batch, "doc_id", "text", threshold=0.5, num_hashes=16,
        bands=8, hashed_tokens=True,
    )


def q_dsir_weights(c):
    # fast path: xxhash64 features (the oracle covers portable mode)
    from hive_udf_spark.operators.importance import dsir_weights

    return dsir_weights(
        c.docs, c.docs.filter(F.col("lang") == "en"), "doc_id", "text", buckets=8192
    )


def q_strip_spans(c):
    # full span pipeline at xxhash64 speed: postings -> mark (join
    # mode, AQE-skew-splittable) -> islands -> O(len) strip fold
    from hive_udf_spark.operators.spandedup import strip_duplicate_spans

    return strip_duplicate_spans(c.docs, n=5, min_count=2, keep_first=True)


def q_bpe_train(c):
    # iterative trainer: 8 Spark jobs over the vocab-reduced corpus
    from hive_udf_spark.functions.bpe import bpe_doc_token_counts, bpe_train

    _, vocab = bpe_train(c.docs, "text", num_merges=8)
    yield bpe_doc_token_counts(c.docs, vocab)


def q_bpe_train_256(c):
    # batched trainer at realistic merge depth (r5 verdict item 3):
    # 256 merges at batch=16 ≈ 16 rounds, not 256 sequential jobs —
    # the scheduler-cost scaling path for 32k-merge vocabs. The
    # documents table's generator vocabulary is only 31 words
    # (pair-exhausts near 100 merges), so train on a deterministic
    # 50k-word hex corpus where 256 merges are real work.
    from hive_udf_spark.functions.bpe import bpe_train

    corpus = c.spark.range(50_000).select(
        F.lower(F.hex(F.xxhash64("id"))).alias("text")
    )
    merges, vocab = bpe_train(corpus, "text", num_merges=256, batch=16)
    assert len(merges) >= 256, len(merges)
    yield vocab


def _ascii_payload(docs, encode):
    """Each doc's first 64 chars (space-padded, ASCII-only rows) mapped
    through ``encode`` into a ``(doc_id, blob)`` relation."""
    payload = F.rpad(F.substring("text", 1, 64), 64, " ")
    return docs.select("doc_id", payload.alias("__s")).filter(
        F.col("__s").rlike("^[\\x00-\\x7F]*$")
    ).select("doc_id", encode(F.col("__s")).alias("blob"))


def q_image_near_dup(c):
    # mapInPandas decode + aHash + blocked Hamming pairs over 8x8
    # PGM blobs built from each doc's first 64 chars
    from hive_udf_spark.operators.dedup import hamming_block_pairs
    from hive_udf_spark.operators.multimodal import image_ahash_table

    blobs = _ascii_payload(
        c.docs, lambda s: F.concat(F.lit(b"P5\n8 8\n255\n"), F.encode(s, "UTF-8"))
    )
    return hamming_block_pairs(image_ahash_table(blobs), "doc_id", "ahash", max_hamming=6)


def q_prefix_filter_join(c):
    # EXACT similarity join (no LSH recall): complete pair set at
    # J >= 0.9 — contract-bound to true-pair volume like the other
    # pair emitters
    from hive_udf_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(c.docs, "doc_id", "text", threshold=0.9, caches=c.caches)


def q_pcsa_grouped(c):
    from hive_udf_spark.functions.pcsa import pcsa_estimate, pcsa_table

    return pcsa_estimate(
        pcsa_table(c.lineitem, ["l_returnflag"], "l_orderkey", m=256),
        ["l_returnflag"],
        m=256,
    )


def q_kmv_sliding_7d(c):
    # trailing 7-day distinct from the daily sketch table alone
    from hive_udf_spark.functions.kmv import kmv_merge_table, kmv_table

    daily = kmv_table(
        c.events.withColumn("day", F.date_trunc("day", "ts")), ["day"], "user_id", k=256
    )
    src = daily.select(F.col("day").alias("src_day"), "kmv")
    joined = daily.select("day").join(
        src,
        (F.col("src_day") <= F.col("day"))
        & (F.col("src_day") >= F.col("day") - F.expr("INTERVAL 6 DAYS")),
    )
    return kmv_merge_table(joined, ["day"], "kmv", 256)


def q_funnel_cohort(c):
    from hive_udf_spark.operators.temporal import cohort_retention, funnel_steps

    yield funnel_steps(
        c.events, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within_hours=72,
    )
    yield cohort_retention(c.events, "user_id", "ts")


def q_incremental_spans(c):
    from hive_udf_spark.operators.spandedup import build_ngram_index, probe_duplicate_spans

    corpus = c.docs.filter(F.col("doc_id") % 10 != 0)
    batch = c.docs.filter(F.col("doc_id") % 10 == 0)
    return probe_duplicate_spans(build_ngram_index(corpus, n=5), batch, n=5)


def q_bm25_search(c):
    from hive_udf_spark.operators.retrieval import bm25_topk, build_tfidf_index

    index = build_tfidf_index(c.docs)
    queries = c.docs.filter(F.col("doc_id") % 97 == 0)
    return bm25_topk(index, queries, k=10)


def q_semantic_decontam(c):
    from hive_udf_spark.operators.decontam import semantic_decontam

    ev = c.emb.filter(F.col("vec_id") % 41 == 0)
    corpus = c.emb.filter(F.col("vec_id") % 41 != 0)
    return semantic_decontam(corpus, ev, min_cosine=0.35)


def q_lm_perplexity(c):
    from hive_udf_spark.operators.importance import lm_perplexity_scores

    return lm_perplexity_scores(c.docs, c.docs.filter(F.col("lang") == "en"))


def q_containment_join(c):
    # EXACT asymmetric containment (3-gram shingles): prefix-probed
    # candidates vs the quadratic brute oracle — contract-bound to
    # true subset-pair volume
    from hive_udf_spark.operators.dedup import containment_pairs

    return containment_pairs(c.docs, "doc_id", "text", threshold=0.8, shingle_n=3)


def q_pagerank_1m(c):
    # pure iteration throughput: 5 integer power-iterations over a
    # deterministic 1M-edge graph (200k nodes, out-degree 5) —
    # graph CONSTRUCTION cost is a different operator's bench
    # (simhash_blocked / minhash_lsh_dedup generate the pair sets)
    from hive_udf_spark.operators.graph import pagerank_fixed

    n, m = 200_000, 5
    edges = c.spark.range(n * m).selectExpr(
        f"id % {n} AS src",
        f"(id * 2654435761 + id div {n} * 40503 + 7) % {n} AS dst",
    ).filter("src != dst")
    return pagerank_fixed(edges, iters=5)


def q_hybrid_rrf(c):
    # BM25 leg + brute vector leg + integer RRF fusion
    from hive_udf_spark.operators.retrieval import build_tfidf_index, hybrid_rrf_topk

    queries = c.docs.filter(F.col("doc_id") % 97 == 0)
    qvecs = c.emb.filter(F.col("vec_id") % 97 == 0)
    return hybrid_rrf_topk(build_tfidf_index(c.docs), queries, c.emb, qvecs, k=10)


def q_hllp_grouped(c):
    # portable HLL: relational register build + bit-exact estimate
    from hive_udf_spark.functions.hllp import hllp_estimate, hllp_table

    return hllp_estimate(
        hllp_table(c.lineitem, ["l_returnflag"], "l_orderkey", m=256),
        ["l_returnflag"],
        m=256,
    )


def q_nb_classify(c):
    # fast path: xxhash64 buckets (the oracle covers portable mode);
    # closed-form fit on the 4/5 split + full-corpus argmax scoring
    from hive_udf_spark.operators.importance import nb_classify

    return nb_classify(c.docs, c.docs.filter(F.col("doc_id") % 5 != 0), buckets=4096)


def q_video_near_dup(c):
    # container build -> real frame walk (2:1 sampled) -> per-frame
    # aHash -> shared-keyframe pair join
    from hive_udf_spark.operators.dedup import shared_signature_pairs
    from hive_udf_spark.operators.multimodal import video_frame_signatures

    sigs = video_frame_signatures(c.docs)
    return shared_signature_pairs(sigs, "doc_id", "ahash", min_shared=2)


# Codec decode entries repartition to 32 first: sf0.1 documents is ONE
# parquet file (2 splits) — at 100 TB the scan has thousands of splits,
# so 2-way parallelism would misrepresent the plan.


def q_codec_png_decode(c):
    # compressed-image decode throughput (r6): Paeth-filtered zlib
    # PNG fixture encode + full vendored decode, Arrow-batched
    from hive_udf_spark.operators.multimodal import decode_image_features, png_encoder_udf

    blobs = _ascii_payload(c.docs.repartition(32), png_encoder_udf(8, 8, filter_type=4))
    return decode_image_features(blobs, fake=False)


def q_codec_jpeg_decode(c):
    # baseline-JPEG decode throughput (r6): Huffman entropy decode +
    # dequant + IDCT per 64x64 image, Arrow-batched
    from hive_udf_spark.operators.multimodal import (
        decode_image_features,
        jpeg_block_encoder_udf,
    )

    blobs = _ascii_payload(c.docs.repartition(32), jpeg_block_encoder_udf(8, quality=100))
    return decode_image_features(blobs, fake=False)


def q_codec_progressive_jpeg_decode(c):
    # r8: multi-scan SOF2 decode (4 scan kinds + in-scan restarts)
    from hive_udf_spark.operators.multimodal import (
        decode_image_features,
        jpeg_block_encoder_udf,
    )

    enc = jpeg_block_encoder_udf(8, quality=100, progressive=True, restart_interval=5)
    return decode_image_features(_ascii_payload(c.docs.repartition(32), enc), fake=False)


def q_codec_webp_decode(c):
    # r9: lossless-WebP decode throughput — VP8L prefix-code decode
    # + transform inverses, mode-rotated fixture encode, Arrow-batched
    from hive_udf_spark.operators.multimodal import decode_image_features, webp_encoder_udf

    blobs = _ascii_payload(c.docs.repartition(32), webp_encoder_udf(8, 8))
    return decode_image_features(blobs, fake=False)


def q_media_probe(c):
    # r9: Ogg/ID3/WebM/HEIF structural probes — the O(header) triage pass
    from hive_udf_spark.plans import QUERIES

    for name in (
        "multimodal_ogg_probe",
        "multimodal_id3_probe",
        "multimodal_webm_probe",
        "multimodal_heif_probe",
    ):
        yield QUERIES[name].fn(c.spark, c.sf_dir)


# Every bench entry, in run order (before the quiet-first move): a
# registry query name, or the bespoke body above. A registry-backed
# entry is one line here.
BENCHES = {
    "hll_grouped_lineitem": q_hll_grouped_lineitem,
    "hll_vs_exact_events": q_hll_vs_exact_events,
    "lc_grouped_orders": q_lc_grouped_orders,
    "sketch_rollup": q_sketch_rollup,
    "tpch_q1": "tpch_q1_pricing_summary",
    "tpch_q5": "tpch_q5_regional_volume",
    "window_topk": "window_topk_parts_per_brand",
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_exact": q_dedup_clusters_exact,
    "dedup_clusters_star": q_dedup_clusters_star,
    "simhash_blocked": q_simhash_blocked,
    "topk_dot_bruteforce": q_topk_dot_bruteforce,
    "near_pairs_lsh": q_near_pairs_lsh,
    "vec_dedup_clusters": q_vec_dedup_clusters,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_pq": q_ann_pq,
    "ann_pq_pretrained": q_ann_pq_pretrained,
    "pipeline_prep": q_pipeline_prep,
    "decontaminate": q_decontaminate,
    "bloom_prefilter": q_bloom_prefilter,
    "freq_sketches": q_freq_sketches,
    "asof_join": "asof_latest_order_before_event",
    "range_join": "range_join_events_next_hour",
    "tpch_q7": "tpch_q7ish_nation_trade_volume",
    "tpch_q10": "tpch_q10_returned_items",
    "lc_two_phase": "approx_distinct_lc_two_phase",
    "lc_struct_table": q_lc_struct_table,
    "lc_struct_table_default": q_lc_struct_table_default,
    "quantile_sketch": q_quantile_sketch,
    "text_profile": "text_token_stats_by_lang",
    "gopher_filter": q_gopher_filter,
    "kmv_grouped": q_kmv_grouped,
    "incremental_dedup": q_incremental_dedup,
    "incremental_dedup_shuffle": q_incremental_dedup_shuffle,
    "dsir_weights": q_dsir_weights,
    "strip_spans": q_strip_spans,
    "bpe_train": q_bpe_train,
    "bpe_train_256": q_bpe_train_256,
    "image_near_dup": q_image_near_dup,
    "prefix_filter_join": q_prefix_filter_join,
    "pcsa_grouped": q_pcsa_grouped,
    "kmv_sliding_7d": q_kmv_sliding_7d,
    "funnel_cohort": q_funnel_cohort,
    "incremental_spans": q_incremental_spans,
    "bm25_search": q_bm25_search,
    "semantic_decontam": q_semantic_decontam,
    "quantile_sliding_7d": "sketch_quantile_sliding_window",
    "lm_perplexity": q_lm_perplexity,
    "containment_join": q_containment_join,
    "pagerank_1m": q_pagerank_1m,
    "hybrid_rrf": q_hybrid_rrf,
    "hllp_grouped": q_hllp_grouped,
    "nb_classify": q_nb_classify,
    "video_near_dup": q_video_near_dup,
    "codec_png_decode": q_codec_png_decode,
    "codec_jpeg_decode": q_codec_jpeg_decode,
    "profile_histogram": "profile_histogram_totalprice",
    "url_canonicalize": "web_url_canonicalize",
    "url_dedup": "web_url_dedup",
    "mojibake_repair": "text_mojibake_repair",
    "crawl_frontier": "pipeline_crawl_frontier",
    "codec_progressive_jpeg_decode": q_codec_progressive_jpeg_decode,
    "fuzzy_edit_join": "dedup_fuzzy_edit_join",
    "host_pagerank": "web_host_pagerank",
    "codec_tiff_tiled_decode": "multimodal_tiff_tiled_decode",
    "codec_pdf_extract": "multimodal_pdf_extract",
    "c4_line_filter": "text_c4_line_filter",
    "boilerplate_removal": "text_boilerplate_line_removal",
    "correlation_matrix": "profile_correlation_matrix",
    "luhn_validation": "text_pii_luhn_validation",
    "line_repetition": "text_line_repetition_stats",
    "semdedup": "similarity_semdedup",
    "token_entropy": "text_token_entropy",
    "jsonl_ingest": "source_jsonl_roundtrip_quarantine",
    "politeness_schedule": "web_crawl_politeness_schedule",
    "winsorize": "profile_winsorize_totalprice",
    "audio_quality": "multimodal_audio_quality",
    "centroid_outliers": "similarity_centroid_outliers",
    "politeness_crawl_delay": "web_politeness_crawl_delay",
    "footer_audit": "source_parquet_footer_audit",
    "percent_rank": "profile_percent_rank_totalprice",
    "codec_docx_extract": "multimodal_docx_extract",
    "markdown_extract": "text_markdown_extract",
    "codec_xlsx_extract": "multimodal_xlsx_extract",
    "srt_parse": "multimodal_srt_parse",
    "codec_epub_extract": "multimodal_epub_extract",
    "streaming_boilerplate": "streaming_incremental_boilerplate",
    "codec_webp_decode": q_codec_webp_decode,
    "codec_webp_lossy_decode": "multimodal_webp_lossy_decode",
    "warc_br_encoding": "text_warc_br_content_encoding",
    "codec_avif_decode": "multimodal_avif_decode",
    "codec_webp_anim_frame_sample": "multimodal_webp_anim_frame_sample",
    "codec_pdf_xrefstream_extract": "multimodal_pdf_xrefstream_extract",
    "codec_pdf_type0_extract": "multimodal_pdf_type0_extract",
    "codec_pdf_encrypted_extract": "multimodal_pdf_encrypted_extract",
    "codec_flac_decode": "multimodal_flac_audio_features",
    "codec_tar_extract": "multimodal_tar_extract",
    "webdataset_group": "multimodal_webdataset_group",
    "vtt_parse": "multimodal_vtt_parse",
    "exif_extract": "multimodal_exif_extract",
    "exif_strip": "multimodal_exif_strip",
    "png_metadata_extract": "multimodal_png_metadata_extract",
    "warc_content_encoding": "text_warc_content_encoding",
    "codec_zstd_roundtrip": "multimodal_zstd_roundtrip",
    "warc_zstd_encoding": "text_warc_zstd_content_encoding",
    "compressed_shards_scan": "source_compressed_shards_scan",
    "streaming_shards_ingest": "streaming_compressed_shards_ingest",
    "media_probe": q_media_probe,
    "orc_roundtrip": "source_orc_roundtrip",
    "avro_roundtrip": "source_avro_roundtrip",
    "arrow_ipc_roundtrip": "source_arrow_ipc_roundtrip",
    "msgpack_roundtrip": "source_msgpack_roundtrip",
    "cbor_roundtrip": "source_cbor_roundtrip",
    "sqlite_roundtrip": "source_sqlite_roundtrip",
    "xml_roundtrip": "source_xml_roundtrip",
    "idn_fold": "web_url_idn_fold",
    "langid_stopwords": "text_lang_id_stopwords",
    "delta_roundtrip": "source_delta_roundtrip",
    "iceberg_roundtrip": "source_iceberg_roundtrip",
    "hudi_roundtrip": "source_hudi_roundtrip",
    "iceberg_v2_deletes": "source_iceberg_v2_deletes",
    "delta_dv_column_mapping": "source_delta_dv_column_mapping",
    "streaming_delta_ingest": "streaming_delta_ingest",
    "color_features": "multimodal_color_features",
    "color_near_dup": "multimodal_color_near_dup",
    "codec_av1_frame_sample": "multimodal_mp4_av1_frame_sample",
    "codec_hevc_frame_sample": "multimodal_mp4_hevc_frame_sample",
    "codec_avc_frame_sample": "multimodal_mp4_avc_frame_sample",
    "codec_webm_av1_frame_sample": "multimodal_webm_av1_frame_sample",
    "codec_webm_hevc_frame_sample": "multimodal_webm_hevc_frame_sample",
    "codec_heic_decode": "multimodal_heic_decode",
    "heic_exif_extract": "multimodal_heic_exif_extract",
    "codec_au_audio": "multimodal_au_audio_features",
    "webm_subtitles": "multimodal_webm_subtitles",
    "mp4_subtitles": "multimodal_mp4_subtitles",
    "codec_aiff_audio": "multimodal_aiff_audio_features",
    "hudi_mor_roundtrip": "source_hudi_mor_roundtrip",
    "delta_dv_id_mode": "source_delta_dv_id_mode",
    "iceberg_nested_types": "source_iceberg_nested_types",
    "fmp4_frame_sample": "multimodal_fmp4_frame_sample",
    "codec_mp1_audio": "multimodal_mp1_audio_features",
    "delta_v2_checkpoint": "source_delta_v2_checkpoint",
    "streaming_iceberg_ingest": "streaming_iceberg_ingest",
    "streaming_hudi_ingest": "streaming_hudi_ingest",
    "hudi_mor_deletes": "source_hudi_mor_deletes",
    "iceberg_field_id_reads": "source_iceberg_renamed_column",
    "iceberg_schema_evolution": "source_iceberg_schema_evolution",
    "codec_mp3_dispatch": "multimodal_mp3_audio_features",
    "delta_compaction": "sink_delta_compaction",
    "iceberg_compaction": "sink_iceberg_compaction",
    "hudi_clustering": "sink_hudi_clustering",
    "delta_checkpointed_ingest": "streaming_delta_checkpointed_ingest",
    "delta_vacuum_lifecycle": "sink_delta_vacuum_lifecycle",
    "iceberg_name_mapping": "source_iceberg_name_mapping",
    "hudi_upsert_ingest": "streaming_hudi_upsert_ingest",
    "iceberg_upsert_ingest": "streaming_iceberg_upsert_ingest",
    "iceberg_partitioned_compaction": "sink_iceberg_partitioned_compaction",
    "hudi_partitioned_clustering": "sink_hudi_partitioned_clustering",
    "hudi_composite_key": "source_hudi_mor_composite_key",
    "tfrecord_roundtrip": "source_tfrecord_roundtrip",
    "iceberg_multiname_mapping": "source_iceberg_multiname_mapping",
    "delta_auto_maintained_ingest": "streaming_delta_auto_maintained_ingest",
    "codec_ogg_dispatch": "multimodal_ogg_audio_features",
    "delta_dv_delete": "sink_delta_dv_delete",
    "delta_changes": "source_delta_changes",
    "iceberg_incremental": "source_iceberg_incremental",
    "hudi_incremental": "source_hudi_incremental",
    "delta_cdf_stream": "streaming_delta_cdf_source",
    "iceberg_incremental_stream": "streaming_iceberg_incremental_source",
    "hudi_incremental_stream": "streaming_hudi_incremental_source",
    "delta_merge": "sink_delta_merge",
    "iceberg_merge": "sink_iceberg_merge",
    "hudi_merge": "sink_hudi_merge",
}


def is_single_frame(key: str) -> bool:
    """Whether entry ``key`` forces exactly one DataFrame (so it has one
    plan to capture); generator bodies force several."""
    return not inspect.isgeneratorfunction(BENCHES[key])


def frames(c: Ctx, key: str):
    """The DataFrames entry ``key`` forces, built in timing order."""
    spec = BENCHES[key]
    if isinstance(spec, str):
        from hive_udf_spark.plans import QUERIES

        yield QUERIES[spec].fn(c.spark, c.sf_dir)
    elif is_single_frame(key):
        yield spec(c)
    else:
        yield from spec(c)


def run_entry(c: Ctx, key: str) -> None:
    try:
        for df in frames(c, key):
            _force(df)
    finally:
        c.release()


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    # Contention-robust protocol (r5 verdict item 1): a single-shot run
    # lets one OS/contention window inflate whatever entry it overlaps —
    # r5's official artifact showed 6 entries at 2-6x with git-verified
    # unchanged code. Per entry: one COLD run (recorded separately), then
    # SPARK_GRAFT_BENCH_RUNS warm runs (default 3) whose MEDIAN is the
    # headline number. Cache is cleared before every run so "warm" means
    # JIT/codegen-warm, never inherited cached data.
    # Quiet-first ordering (r14 — the r13 verdict's task 7): three
    # entries moved 1.5-2.5x between in-run and standalone measurement
    # in EVERY round since r11 with git-verified unchanged code
    # (SCALE_NOTES r12 batch 4 / r13 batch 6) — heavy Python-worker
    # entries whose cost is sensitive to the session state the
    # preceding ~150 entries leave behind (GC pressure, allocator
    # fragmentation in the 32 long-lived workers).  Running them FIRST,
    # against the same just-warmed session state the standalone
    # protocol measures, removes the recurring in-run skew every
    # verdict has had to re-adjudicate instead of re-measuring by hand.
    quiet_first = ("exif_strip", "media_probe", "pagerank_1m")
    keys = [*quiet_first, *(k for k in BENCHES if k not in quiet_first)]
    n_warm = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Iteration aid: SPARK_GRAFT_BENCH_ONLY=a,b,c runs a subset. The
    # driver never sets it, so official artifacts stay full-registry.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {w for w in only.split(",") if w}
        unknown = wanted - BENCHES.keys()
        if unknown:
            raise SystemExit(f"unknown bench entries: {sorted(unknown)}")
        keys = [k for k in keys if k in wanted]
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    c = Ctx(spark, sf_dir)
    # trained before the first entry whatever the subset, so a subset run
    # starts from the same session state as a full run
    c.pq_index  # noqa: B018

    def _timed(key) -> float:
        spark.catalog.clearCache()
        t0 = time.time()
        run_entry(c, key)
        return round(time.time() - t0, 3)

    for key in keys:
        cold[key] = _timed(key)
        warm = sorted(_timed(key) for _ in range(n_warm))
        times[key] = warm[len(warm) // 2]
    return times, cold, n_warm
# The compact stdout line's key set (see main()): every key any prior
# round's compact line printed, in the r14 printed order. Append-only —
# removing or renaming a key here makes the driver's round-over-round
# diff report a dropped query.
_COMPACT_PINNED = (
    "exif_strip", "media_probe", "pagerank_1m", "hll_grouped_lineitem",
    "hll_vs_exact_events", "lc_grouped_orders", "sketch_rollup", "tpch_q1",
    "tpch_q5", "window_topk", "minhash_lsh_dedup", "dedup_clusters",
    "dedup_clusters_exact", "dedup_clusters_star", "simhash_blocked",
    "topk_dot_bruteforce", "near_pairs_lsh", "vec_dedup_clusters",
    "ann_lsh", "ann_ivf", "ann_pq", "ann_pq_pretrained", "pipeline_prep",
    "decontaminate", "bloom_prefilter", "freq_sketches", "asof_join",
    "range_join", "tpch_q7", "tpch_q10", "lc_two_phase", "lc_struct_table",
    "lc_struct_table_default", "quantile_sketch", "text_profile",
    "gopher_filter", "kmv_grouped", "incremental_dedup",
    "incremental_dedup_shuffle", "dsir_weights", "strip_spans", "bpe_train",
    "bpe_train_256", "image_near_dup", "prefix_filter_join", "pcsa_grouped",
    "kmv_sliding_7d", "funnel_cohort", "incremental_spans", "bm25_search",
    "semantic_decontam", "quantile_sliding_7d", "lm_perplexity",
    "containment_join", "hybrid_rrf", "hllp_grouped", "nb_classify",
    "video_near_dup", "codec_png_decode", "codec_jpeg_decode",
    "profile_histogram", "url_canonicalize", "url_dedup", "mojibake_repair",
    "crawl_frontier", "codec_progressive_jpeg_decode",
)


def warm_up(spark) -> None:
    """Warm the JVM/session so timings measure the queries, not startup.

    The Python workers are warmed too: as of r4 almost every operator is
    JVM-only, so without this the ONE bench entry that still uses a
    pandas UDF (lc_two_phase) would absorb the whole 32-process
    interpreter spin-up (~3-4 s) that earlier rounds amortized across
    many Python-using queries — making cross-round numbers
    incomparable. Real deployments run with warm workers."""
    spark.range(1000).select(F.sum("id")).collect()

    def _noop(batches):
        yield from batches

    spark.range(32 * 4).repartition(32).mapInPandas(_noop, schema="id long").count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from hive_udf_spark.session import get_spark

    spark = get_spark("bench")
    warm_up(spark)
    times, cold, n_warm = bench_queries(spark, sf_dir)
    total = round(sum(times.values()), 3)
    payload = json.dumps(
        {
            "metric": "total_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": times,
            "queries_cold": cold,
            "warm_runs": n_warm,
            "sf": sf,
        }
    )
    # The stdout line is the driver contract, but the driver's artifact
    # keeps only the LAST ~2000 chars of stdout — r8/r9 committed
    # "parsed": null because the full per-query JSON (~5 KB for 100+
    # entries) can never survive that tail intact. So: the COMPLETE
    # JSON goes to a committed file + an early stdout line (for humans
    # reading logs), and the FINAL stdout line is a compact variant
    # guaranteed to fit in the tail — same metric/value/sf contract,
    # "queries" filled greedily in registry order until the line would
    # exceed the budget, with an explicit count of what was elided.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_full_latest.json"),
            "w",
        ) as f:
            f.write(payload + "\n")
    except OSError:
        pass  # read-only checkout: stdout lines still carry the result
    print(payload)
    # r15 (r14 verdict "What's wrong" #2): the compact line's key set is
    # PINNED, not filled greedily in registry order. Greedy fill meant any
    # dict reorder or added entry shifted which ~65 keys got printed — the
    # r14 PERF diff reported one "dropped" and two "new" queries that were
    # neither. The pinned set is exactly the 65 keys the r14 line printed
    # plus codec_progressive_jpeg_decode (the r14 phantom drop, restored).
    # Additions-only vs every previous round's printed set; deterministic
    # under any future registry edit. New registry entries stay in
    # BENCH_full_latest.json (the complete artifact) by design.
    compact = {k: times[k] for k in _COMPACT_PINNED if k in times}
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY"):
        # iteration-aid subset runs (never the driver): print what ran
        compact = dict(times)
    base = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": compact,
        "queries_elided": len(times) - len(compact),
        "queries_total": len(times),
        "full": "BENCH_full_latest.json",
        "warm_runs": n_warm,
        "sf": sf,
    }
    line = json.dumps(base)
    assert len(line) <= 2000, len(line)
    print(line, flush=True)
    try:
        spark.stop()
    except Exception:
        pass  # a teardown hiccup must not turn a finished bench into rc!=0
    os._exit(0)


if __name__ == "__main__":
    main()
