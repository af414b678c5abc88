#!/usr/bin/env python
"""Scale-stress artifact (r10 verdict item 6): synthesize an
sf1-equivalent corpus (10× sf0.1) for the three big tables the
expensive bench entries read — documents / embeddings / events — and
run the most expensive bench queries on it, recording per-query growth
vs the committed sf0.1 medians.

Corpus synthesis (deterministic, Spark-side, no driver loops):

* documents ×10 — replica k offsets doc_id by k·10M and rewrites every
  second word with a replica tag, so replicas are NOT near-duplicates
  of each other (Jaccard ≈ 0.33): dedup-family growth measures corpus
  size, not an artificial 10-way duplicate explosion;
* embeddings ×10 — vec_id offset, per-dimension deterministic
  perturbation (replicas are distinct points, not copies);
* events ×10 — event_id offset, ts shifted k days with the SAME
  user_ids: per-user history deepens 10×, the realistic growth mode
  for temporal/sessionization work;
* the seven small TPC-H tables copy through unchanged (dims don't grow
  10× when a corpus does).

Usage:  python scripts/bench_sf1.py [--dir /tmp/spark_graft_sf1]
Writes: BENCH_sf1.json  {queries, ratios vs BENCH_full_latest.json}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
REPLICAS = 10

# the most expensive documents/embeddings/events entries from the
# committed sf0.1 artifact (BENCH_full_latest.json, r10 tail)
TOP = [
    "bpe_train_256",
    "streaming_shards_ingest",
    "containment_join",
    "incremental_dedup_shuffle",
    "fuzzy_edit_join",
    "strip_spans",
    "prefix_filter_join",
    "codec_pdf_encrypted_extract",
    "dedup_clusters_exact",
    "minhash_lsh_dedup",
    "mojibake_repair",
    "codec_tiff_tiled_decode",
    "incremental_spans",
    "ann_pq",
    "pagerank_1m",
    "semdedup",
]


def build_corpus(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    ks = ", ".join(str(k) for k in range(REPLICAS))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    scaled = (
        docs.select("*", F.explode(F.expr(f"array({ks})")).alias("k"))
        .select(
            (F.col("doc_id") + F.col("k") * 10_000_000).alias("doc_id"),
            F.when(F.col("k") == 0, F.col("text")).otherwise(F.expr(
                "array_join(transform(split(text, ' '), (w, i) -> "
                "CASE WHEN i % 2 = 0 THEN concat(w, 'r', k) ELSE w END), ' ')"
            )).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    (
        emb.select("*", F.explode(F.expr(f"array({ks})")).alias("k"))
        .select(
            (F.col("vec_id") + F.col("k") * 10_000_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> "
                "cast(x + k * 0.003 * ((i % 7) - 3) as float))"
            ).alias("embedding"),
            "label",
        )
        .repartition(32).write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    (
        ev.select("*", F.explode(F.expr(f"array({ks})")).alias("k"))
        .select(
            (F.col("event_id") + F.col("k") * 100_000_000).alias("event_id"),
            F.expr("ts + make_interval(0, 0, 0, k)").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        .repartition(32).write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copy(f"{SRC}/{t}.parquet", dst)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/spark_graft_sf1")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--only", default=None,
                    help="comma-separated subset of TOP")
    args = ap.parse_args()

    from hive_udf_spark.session import get_spark

    spark = get_spark("bench-sf1")
    marker = os.path.join(args.dir, "_BUILT")
    if args.rebuild or not os.path.exists(marker):
        t0 = time.time()
        build_corpus(spark, args.dir)
        open(marker, "w").write("ok\n")
        print(f"corpus built in {time.time() - t0:.1f}s -> {args.dir}",
              flush=True)

    wanted = args.only.split(",") if args.only else TOP
    os.environ["SPARK_GRAFT_BENCH_ONLY"] = ",".join(wanted)
    os.environ.setdefault("SPARK_GRAFT_BENCH_RUNS", "1")

    import bench

    bench.warm_up(spark)
    times, cold, n_warm = bench.bench_queries(spark, args.dir)

    base = {}
    try:
        with open(os.path.join(REPO, "BENCH_full_latest.json")) as f:
            base = json.load(f).get("queries", {})
    except OSError:
        pass
    ratios = {
        k: round(v / base[k], 2) for k, v in times.items()
        if base.get(k)
    }
    payload = {
        "metric": "total_wall_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_cold": cold,
        "growth_vs_sf01": ratios,
        "warm_runs": n_warm,
        "sf": 1.0,
        "replicas": REPLICAS,
    }
    out = os.path.join(REPO, "BENCH_sf1.json")
    with open(out, "w") as f:
        f.write(json.dumps(payload) + "\n")
    print(json.dumps({k: payload[k] for k in
                      ("value", "growth_vs_sf01", "sf")}), flush=True)
    print(f"written: {out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
