"""Seeded input generators with ground truth, one per workload.

Every generator is a pure function of (seed, size): the same seed always
writes the same files and returns the same truth. Outputs are cached per
(workload, size, seed) under the benchmark's work directory, so a second
run with the same seed skips generation; generation time is reported on
its own and never counts toward ``setup_s``.

Ground truth is computed here with numpy alone (no Spark), so the
program's answers are checked against an independent computation.
"""

from __future__ import annotations

import bz2
import gzip
import hashlib
import json
import lzma
import os
import pickle
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import dir_bytes

# Sizes per workload. "full" is what the benchmark measures; "tiny" is the
# self-test's size, small enough to run all three workloads in seconds.
SIZES = {
    "sketch_rollup": {
        "full": dict(rows=250_000, days=8, tenants=256, zipf_s=1.3, files=8,
                     queries=400, max_tenants_per_query=8,
                     sweep_groups=32, sweep_min=16, sweep_max=65536),
        "tiny": dict(rows=20_000, days=4, tenants=16, zipf_s=1.3, files=4,
                     queries=40, max_tenants_per_query=4,
                     sweep_groups=12, sweep_min=16, sweep_max=16384),
    },
    "dedup_corpus": {
        "full": dict(docs=1200, dup_rate=0.1, vocab=4000, min_len=20, max_len=90,
                     vecs=800, vec_dup_rate=0.1, dim=64),
        "tiny": dict(docs=200, dup_rate=0.1, vocab=1500, min_len=20, max_len=60,
                     vecs=150, vec_dup_rate=0.1, dim=64),
    },
    "stream_ingest": {
        "full": dict(batches=5, shards_per_batch=3, docs_per_shard=40,
                     dup_rate=0.1, vocab=4000, min_len=20, max_len=90,
                     days=4, tenants=64, min_viewers=20, max_viewers=40,
                     viewer_universe=5000),
        "tiny": dict(batches=5, shards_per_batch=2, docs_per_shard=10,
                     dup_rate=0.2, vocab=1500, min_len=20, max_len=60,
                     days=2, tenants=4, min_viewers=10, max_viewers=20,
                     viewer_universe=500),
    },
}

_VERSION = 7  # bump when a generator's code changes, so stale caches are ignored


def dataset(work_dir: str, workload: str, size: str, seed: int) -> tuple[str, dict, float]:
    """Return (data_dir, truth, generation seconds); generate on a miss.

    A cache hit reports the seconds the original generation took, so the
    printed generation time does not depend on cache state."""
    cfg = SIZES[workload][size]
    tag = hashlib.sha1(repr(sorted(cfg.items())).encode()).hexdigest()[:8]
    data_dir = os.path.join(work_dir, "data", f"{workload}-{size}-s{seed}-v{_VERSION}-{tag}")
    truth_path = os.path.join(data_dir, "truth.pkl")
    if os.path.exists(truth_path):
        with open(truth_path, "rb") as fh:
            truth = pickle.load(fh)
        return data_dir, truth, truth["gen_s"]
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    t0 = time.perf_counter()
    truth = _GENERATORS[workload](data_dir, np.random.default_rng(seed), cfg)
    truth["gen_s"] = time.perf_counter() - t0
    truth["cfg"] = cfg
    tmp = truth_path + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(truth, fh)
    os.replace(tmp, truth_path)
    return data_dir, truth, truth["gen_s"]


# ---------------------------------------------------------------------------
# sketch_rollup: (day, tenant, user_id) events, Zipf-skewed tenants
# ---------------------------------------------------------------------------
def _gen_sketch_rollup(data_dir: str, rng: np.random.Generator, cfg: dict) -> dict:
    n, days, tenants = cfg["rows"], cfg["days"], cfg["tenants"]
    p = 1.0 / np.arange(1, tenants + 1) ** cfg["zipf_s"]
    p /= p.sum()
    tenant = rng.choice(tenants, size=n, p=p).astype(np.int32)
    day = rng.integers(0, days, size=n, dtype=np.int32)
    # Each tenant draws from its own user universe (80% of its row count),
    # so returning users repeat across days and tenants never share users.
    universe = np.maximum(8, (np.bincount(tenant, minlength=tenants) * 0.8).astype(np.int64))
    user = (rng.random(n) * universe[tenant]).astype(np.int64)
    user_id = (tenant.astype(np.int64) << 32) | user

    events_dir = os.path.join(data_dir, "events.parquet")
    os.makedirs(events_dir)
    table = pa.table({"day": day, "tenant": tenant, "user_id": user_id})
    step = -(-n // cfg["files"])
    for i in range(cfg["files"]):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(events_dir, f"part-{i:05d}.parquet"))
    raw_bytes = dir_bytes(events_dir)

    # Exact truth: one day bitmask per distinct (tenant, user); a rollup's
    # distinct count is the number of its tenants' users whose mask meets
    # the day range.
    order = np.lexsort((user_id, tenant))
    t_sorted, u_sorted = tenant[order], user_id[order]
    bits = (np.int64(1) << day[order].astype(np.int64))
    starts = np.flatnonzero(np.r_[True, u_sorted[1:] != u_sorted[:-1]])
    masks = np.bitwise_or.reduceat(bits, starts)
    mask_tenant = t_sorted[starts]
    by_tenant = {int(t): masks[mask_tenant == t] for t in np.unique(mask_tenant)}

    def exact(tenant_set, d0, d1) -> int:
        rm = np.int64(((1 << (d1 - d0 + 1)) - 1) << d0)
        return int(sum(np.count_nonzero(by_tenant.get(t, np.zeros(0, np.int64)) & rm)
                       for t in tenant_set))

    # queries favour large tenants (weight sqrt of the row share), so their
    # answers span the whole cardinality range
    q_weight = np.sqrt(p) / np.sqrt(p).sum()

    def query(i: int) -> dict:
        k = int(rng.integers(1, cfg["max_tenants_per_query"] + 1))
        ts = sorted(int(t) for t in rng.choice(tenants, size=k, replace=False, p=q_weight))
        d0 = int(rng.integers(0, days))
        d1 = int(rng.integers(d0, days))
        return {"qid": i, "tenants": ts, "d0": d0, "d1": d1, "exact": exact(ts, d0, d1)}

    queries = [query(i) for i in range(cfg["queries"])]
    return {
        "rows": n,
        "raw_bytes": raw_bytes,
        "stream": queries,
        "sweep": _accuracy_sweep(data_dir, cfg),
    }


def _accuracy_sweep(data_dir: str, cfg: dict) -> dict:
    """The accuracy set: groups of log-spaced exact cardinalities, drawn
    from a FIXED generator, so the same for every seed. Sketch error is a
    deterministic function of the input, and the errors of a few hundred
    thousand rows are dominated by their few largest groups; a seeded set
    this small would make err_<family> vary from seed to seed by more than
    any accuracy change worth catching. Fixed, it reads the same on every
    run until the estimator or its hashing changes."""
    rng = np.random.default_rng(0)
    g_n, lo, hi = cfg["sweep_groups"], cfg["sweep_min"], cfg["sweep_max"]
    cards = np.unique(np.rint(lo * (hi / lo) ** (np.arange(g_n) / (g_n - 1))).astype(np.int64))
    groups, values = [], []
    for g, c in enumerate(cards):
        v = np.unique((np.int64(g) << 40) | rng.integers(0, 1 << 40, size=int(c)))
        groups.append(np.full(len(v), g, dtype=np.int32))
        values.append(v)
    pq.write_table(pa.table({"g": np.concatenate(groups), "user_id": np.concatenate(values)}),
                   os.path.join(data_dir, "sweep.parquet"))
    return {"exact": {g: len(v) for g, v in enumerate(values)}}


# ---------------------------------------------------------------------------
# Text corpora shared by dedup_corpus and stream_ingest
# ---------------------------------------------------------------------------
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
              "qu", "dor", "fen", "gil", "hax", "jor", "lum", "mek", "nix", "pol"]


def _vocab(size: int) -> np.ndarray:
    """Deterministic pseudo-words (the same list for every seed)."""
    words, i = [], 0
    s = len(_SYLLABLES)
    while len(words) < size:
        j, w = i, []
        for _ in range(3):
            w.append(_SYLLABLES[j % s])
            j //= s
        words.append("".join(w) + str(i % 7))
        i += 1
    return np.array(words)


def _docs(rng: np.random.Generator, n: int, cfg: dict) -> list[list[str]]:
    vocab = _vocab(cfg["vocab"])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.0
    p /= p.sum()
    lens = rng.integers(cfg["min_len"], cfg["max_len"] + 1, size=n)
    flat = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=p)]
    out, pos = [], 0
    for ln in lens:
        out.append(list(flat[pos: pos + ln]))
        pos += ln
    return out


def _near_copy(rng: np.random.Generator, tokens: list[str], vocab: np.ndarray) -> list[str]:
    """A near-duplicate: about 3% of tokens replaced, order kept."""
    out = list(tokens)
    for i in np.flatnonzero(rng.random(len(out)) < 0.03):
        out[i] = str(vocab[rng.integers(0, len(vocab))])
    return out


def _jaccard_matrix(docs: list[list[str]]) -> tuple[np.ndarray, np.ndarray]:
    """Exact word-set intersection counts and set sizes, all pairs."""
    index: dict[str, int] = {}
    rows, cols = [], []
    for i, d in enumerate(docs):
        for w in set(d):
            rows.append(i)
            cols.append(index.setdefault(w, len(index)))
    x = np.zeros((len(docs), len(index)), dtype=np.float32)
    x[rows, cols] = 1.0
    inter = x @ x.T
    return np.rint(inter).astype(np.int64), x.sum(axis=1).astype(np.int64)


# ---------------------------------------------------------------------------
# dedup_corpus: one single-row-group documents file + embeddings
# ---------------------------------------------------------------------------
DEDUP_PARAMS = dict(near_dup_threshold=0.7, near_dup_hashes=16, near_dup_bands=4,
                    cluster_threshold=0.7, prefix_threshold=0.7,
                    containment_threshold=0.9, min_cosine=0.9, nbits=32,
                    vec_bands=4)


def _gen_dedup_corpus(data_dir: str, rng: np.random.Generator, cfg: dict) -> dict:
    vocab = _vocab(cfg["vocab"])
    base = _docs(rng, cfg["docs"], cfg)
    docs = list(base)
    clusters: list[list[int]] = []
    for i in np.flatnonzero(rng.random(len(base)) < cfg["dup_rate"]):
        members = [int(i)]
        for _ in range(int(rng.integers(1, 3))):
            members.append(len(docs))
            docs.append(_near_copy(rng, base[i], vocab))
        clusters.append(members)
    perm = rng.permutation(len(docs))  # doc ids do not reveal planting order
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[perm] = np.arange(len(docs))
    docs = [docs[j] for j in perm]
    clusters = [sorted(int(new_id[m]) for m in c) for c in clusters]
    texts = [" ".join(d) for d in docs]
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [("en", "de", "fr")[i % 3] for i in range(n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(data_dir, "documents.parquet"), row_group_size=1 << 30)

    inter, sizes = _jaccard_matrix(docs)
    union = sizes[:, None] + sizes[None, :] - inter
    iu = np.triu_indices(n, k=1)
    t_p = DEDUP_PARAMS["prefix_threshold"]
    p_ok = inter[iu] * 1_000_000 >= int(round(t_p * 1_000_000)) * union[iu]
    prefix = set(zip(iu[0][p_ok].tolist(), iu[1][p_ok].tolist()))

    t_c = DEDUP_PARAMS["containment_threshold"]
    c_ok = (inter * 1_000_000 >= int(round(t_c * 1_000_000)) * sizes[:, None])
    np.fill_diagonal(c_ok, False)
    containment = set(zip(*[a.tolist() for a in np.nonzero(c_ok)]))

    # embeddings: unit vectors, planted copies at small angular noise
    dim = cfg["dim"]
    nv = cfg["vecs"]
    vecs = rng.standard_normal((nv, dim))
    vclusters = []
    extra = []
    for i in np.flatnonzero(rng.random(nv) < cfg["vec_dup_rate"]):
        j = nv + len(extra)
        extra.append(vecs[i] + 0.08 * rng.standard_normal(dim))
        vclusters.append([int(i), j])
    allv = np.vstack([vecs] + ([np.array(extra)] if extra else []))
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    allv = allv.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(len(allv), dtype=np.int64),
        "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
        "label": np.zeros(len(allv), dtype=np.int32),
    }), os.path.join(data_dir, "embeddings.parquet"), row_group_size=1 << 30)

    planted = {tuple(sorted((a, b))) for c in clusters for k, a in enumerate(c) for b in c[k + 1:]}
    vplanted = {tuple(sorted(c)) for c in vclusters}
    return {
        "rows": n + len(allv),
        "docs": n,
        "raw_bytes": dir_bytes(data_dir),
        "planted_pairs": planted,
        "planted_vec_pairs": vplanted,
        "prefix_exact": prefix,
        "containment_exact": containment,
        "inter": inter,
        "sizes": sizes,
        "vectors": allv,
    }


# ---------------------------------------------------------------------------
# stream_ingest: compressed JSONL shards, one directory per micro-batch
# ---------------------------------------------------------------------------
_CODECS = (("gzip", ".jsonl.gz", gzip.compress), ("xz", ".jsonl.xz", lzma.compress),
           ("bz2", ".jsonl.bz2", bz2.compress))


def _gen_stream_ingest(data_dir: str, rng: np.random.Generator, cfg: dict) -> dict:
    vocab = _vocab(cfg["vocab"])
    per_batch = cfg["shards_per_batch"] * cfg["docs_per_shard"]
    total = cfg["batches"] * per_batch
    docs = _docs(rng, total, cfg)
    # planted cross-batch near-duplicates: a doc in batch b >= 1 that is a
    # near copy of a doc from an earlier batch
    planted = set()
    for i in range(per_batch, total):
        if rng.random() < cfg["dup_rate"]:
            src = int(rng.integers(0, (i // per_batch) * per_batch))
            docs[i] = _near_copy(rng, docs[src], vocab)
            planted.add((i, src))
    texts = [" ".join(d) for d in docs]
    # (tenant, day, viewers) come from a FIXED generator, like sketch_rollup's
    # accuracy sweep: the merged per-key HLL error behind err_hll is then the
    # same for every seed, instead of varying with a few hundred small keys
    fixed = np.random.default_rng(0)
    tenants = fixed.integers(0, cfg["tenants"], size=total)
    days = fixed.integers(0, cfg["days"], size=total)
    n_view = fixed.integers(cfg["min_viewers"], cfg["max_viewers"] + 1, size=total)
    viewers = [(int(t) << 32 | fixed.integers(0, cfg["viewer_universe"], size=k)).tolist()
               for t, k in zip(tenants, n_view)]
    raw = 0
    rows_per_batch, exact_after_batch = [], []
    seen: dict = {}
    shard = 0
    for b in range(cfg["batches"]):
        bdir = os.path.join(data_dir, "shards", f"batch-{b:04d}")
        os.makedirs(bdir)
        for s in range(cfg["shards_per_batch"]):
            lo = b * per_batch + s * cfg["docs_per_shard"]
            lines = [json.dumps({"doc_id": i, "tenant": int(tenants[i]), "day": int(days[i]),
                                 "viewers": viewers[i], "text": texts[i]})
                     for i in range(lo, lo + cfg["docs_per_shard"])]
            codec, ext, compress = _CODECS[shard % len(_CODECS)]
            path = os.path.join(bdir, f"shard-{shard:06d}{ext}")
            with open(path, "wb") as fh:
                fh.write(compress(("\n".join(lines) + "\n").encode()))
            raw += os.path.getsize(path)
            shard += 1
        for i in range(b * per_batch, (b + 1) * per_batch):
            seen.setdefault((int(days[i]), int(tenants[i])), set()).update(viewers[i])
        rows_per_batch.append(per_batch)
        exact_after_batch.append({k: len(v) for k, v in seen.items()})
    return {
        "rows": total,
        "raw_bytes": raw,
        "rows_per_batch": rows_per_batch,
        "planted_pairs": planted,
        "texts": texts,
        "exact_after_batch": exact_after_batch,
    }


_GENERATORS = {
    "sketch_rollup": _gen_sketch_rollup,
    "dedup_corpus": _gen_dedup_corpus,
    "stream_ingest": _gen_stream_ingest,
}
