"""Output checks. Each returns a list of failure messages (empty = pass),
so the self-test can feed them corrupted outputs and see them flagged."""

from __future__ import annotations

import math

# Sketch parameters the benchmark builds with (library defaults except LC,
# whose 1 MB default is sized for one global count, not thousands of groups).
HLL_B = 16
HLLP_M = 256
PCSA_M = 64
KMV_K = 64
LC_BYTES = 8192

# An estimate fails its check when it is further from the exact count than
# Z_BOUND theoretical standard errors plus Z_BOUND. The absolute term covers
# small counts, where errors are integers with a Poisson tail (hash
# collisions among a few hundred values) that the normal bound understates.
Z_BOUND = 6.0

FAMILIES = ("hll", "hllp", "pcsa", "kmv", "lc")

# PCSA's 0.78/sqrt(m) holds only for n well above m. Below that, the
# small-range-corrected estimator's relative standard error at m = 64 is
# larger; these points were simulated from the estimator's formula (2000
# trials per n, uniform hashes) and are interpolated in log n.
_PCSA_SMALL_RSE = ((5, 0.566), (10, 0.428), (20, 0.323), (30, 0.266),
                   (50, 0.194), (100, 0.122), (200, 0.085))


def rse(family: str, n: int, hll_b: int = HLL_B) -> float:
    """Theoretical relative standard error of one estimate at true count n."""
    if family == "hll":
        return 1.04 / math.sqrt(1 << hll_b)
    if family == "hllp":
        return 1.04 / math.sqrt(HLLP_M)
    if family == "pcsa":
        return max(0.78 / math.sqrt(PCSA_M), _interp_log(_PCSA_SMALL_RSE, n))
    if family == "kmv":
        return 0.0 if n < KMV_K else 1.0 / math.sqrt(KMV_K - 2)
    if family == "lc":
        m = LC_BYTES * 8
        t = n / m
        return math.sqrt(m * (math.exp(t) - t - 1)) / max(n, 1)
    raise ValueError(family)


def _interp_log(points, n: int) -> float:
    if n >= points[-1][0]:
        return 0.0
    if n <= points[0][0]:
        return points[0][1]
    for (n0, r0), (n1, r1) in zip(points, points[1:]):
        if n <= n1:
            w = (math.log(n) - math.log(n0)) / (math.log(n1) - math.log(n0))
            return r0 + w * (r1 - r0)
    return 0.0


def estimate_errors(family: str, pairs, hll_b: int = HLL_B) -> list[str]:
    """pairs: iterable of (label, estimate, exact)."""
    bad = []
    for label, est, exact in pairs:
        if est is None:
            bad.append(f"{family} {label}: no estimate (exact {exact})")
            continue
        r = rse(family, exact, hll_b)
        if abs(est - exact) > Z_BOUND * (r * exact + 1):
            bad.append(f"{family} {label}: estimate {est} vs exact {exact} "
                       f"(bound {Z_BOUND:g} x RSE {r:.4f})")
    return bad


def rms_rel_error(pairs) -> float:
    errs = [((est - exact) / exact) ** 2 for _l, est, exact in pairs
            if est is not None and exact > 0]
    return math.sqrt(sum(errs) / len(errs)) if errs else 0.0


def equal_merge(family: str, merged: dict, direct: dict) -> list[str]:
    """Merge-then-estimate must equal a direct build (lossless merges)."""
    return [f"{family} query {q}: merged estimate {merged.get(q)} != direct {direct[q]}"
            for q in sorted(direct) if merged.get(q) != direct[q]]


def pair_errors(name: str, emitted, exact: set | None = None, verify=None) -> list[str]:
    """Pairs of one operator. ``verify(pair) -> bool`` re-checks each
    emitted pair against its threshold; ``exact`` (for exact joins) is
    the brute-force pair set the output must equal."""
    bad = []
    emitted = list(emitted)
    if len(set(emitted)) != len(emitted):
        bad.append(f"{name}: {len(emitted) - len(set(emitted))} duplicate pairs")
    if verify is not None:
        wrong = [p for p in emitted if not verify(p)]
        if wrong:
            bad.append(f"{name}: {len(wrong)} emitted pairs below threshold, e.g. {wrong[:3]}")
    if exact is not None:
        got = set(emitted)
        if got != exact:
            bad.append(f"{name}: {len(exact - got)} pairs missing, {len(got - exact)} extra "
                       f"vs brute force, e.g. missing {sorted(exact - got)[:3]}")
    return bad


def cluster_errors(assignments, doc_ids) -> list[str]:
    """Every doc in exactly one cluster; one canonical doc per cluster."""
    bad = []
    seen: dict = {}
    canon: dict = {}
    for doc, cluster, is_canonical in assignments:
        if doc in seen:
            bad.append(f"dedup_clusters: doc {doc} in clusters {seen[doc]} and {cluster}")
        seen[doc] = cluster
        if is_canonical:
            canon[cluster] = canon.get(cluster, 0) + 1
    missing = set(doc_ids) - set(seen)
    if missing:
        bad.append(f"dedup_clusters: {len(missing)} docs in no cluster, e.g. {sorted(missing)[:3]}")
    extra = set(seen) - set(doc_ids)
    if extra:
        bad.append(f"dedup_clusters: {len(extra)} unknown docs")
    multi = [c for c, k in canon.items() if k != 1]
    no_canon = set(seen.values()) - set(canon)
    if multi or no_canon:
        bad.append(f"dedup_clusters: {len(multi) + len(no_canon)} clusters without exactly one canonical doc")
    return bad


def recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0


def delta_errors(versions: list[int], replay_noop: bool, snapshot_rows: int,
                 expected_rows: int) -> list[str]:
    bad = []
    if versions != list(range(len(versions))):
        bad.append(f"delta: versions not contiguous from 0: {versions[:5]}...{versions[-5:]}")
    if not replay_noop:
        bad.append("delta: a replayed batch was not a no-op")
    if snapshot_rows != expected_rows:
        bad.append(f"delta: snapshot has {snapshot_rows} rows, expected {expected_rows}")
    return bad
