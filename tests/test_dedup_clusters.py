"""Connected-components dedup vs a Python union-find ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_udf_spark.operators.dedup import connected_components, dedup_clusters, near_dup_pairs
from hive_udf_spark.sources import load_table


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def test_connected_components_matches_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    nodes = list(range(1, 4)) + [10, 11] + list(range(20, 23)) + [99]  # 99 isolated
    e_df = spark.createDataFrame(edges, "id_a long, id_b long")
    n_df = spark.createDataFrame([(n,) for n in nodes], "id long")
    got = {r.id: r.component for r in connected_components(e_df, n_df).collect()}
    uf = _UF()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        uf.union(a, b)
    want = {n: uf.find(n) for n in nodes}
    # canonical root: min of each component
    comp_min = {}
    for n in nodes:
        r = uf.find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[uf.find(n)] for n in nodes}
    assert got == want


def test_dedup_clusters_on_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    clusters = dedup_clusters(docs, "doc_id", "text", threshold=0.6, mode="exact")
    rows = clusters.collect()
    assert len(rows) == docs.count()  # linear output: one row per doc
    by_id = {r.doc_id: r for r in rows}
    # cluster representative is a member and is canonical
    for r in rows:
        assert by_id[r.cluster].cluster == r.cluster
        assert by_id[r.cluster].is_canonical
    # consistency vs the pair graph (same params as dedup_clusters)
    pairs = near_dup_pairs(
        docs, "doc_id", "text", threshold=0.6, num_hashes=16, bands=4,
        sig_prefilter_margin=0.25,
    ).collect()
    uf = _UF()
    for r in rows:
        uf.find(r.doc_id)
    for p in pairs:
        uf.union(p.id_a, p.id_b)
    comp_min = {}
    for r in rows:
        root = uf.find(r.doc_id)
        comp_min[root] = min(comp_min.get(root, r.doc_id), r.doc_id)
    for r in rows:
        assert r.cluster == comp_min[uf.find(r.doc_id)]


def test_dedup_clusters_star_close_to_exact(spark, sf_dir):
    """Star reduction preserves almost all cluster structure: pairwise
    same-cluster agreement vs the exact variant stays high, and every
    doc appears exactly once."""
    from hive_udf_spark.operators.dedup import dedup_clusters, dedup_clusters_star

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r.doc_id: r.cluster
        for r in dedup_clusters(docs, "doc_id", "text", 0.7, mode="exact").collect()
    }
    star = {r.doc_id: r.cluster for r in dedup_clusters_star(docs, "doc_id", "text", 0.7).collect()}
    assert set(exact) == set(star)

    # compare the partitions via pairwise same-cluster agreement on the
    # docs that the exact variant groups (recall of merges)
    from collections import defaultdict

    def pairs(assign):
        groups = defaultdict(list)
        for d, c in assign.items():
            groups[c].append(d)
        out = set()
        for members in groups.values():
            members.sort()
            out.update((a, b) for i, a in enumerate(members) for b in members[i + 1 :])
        return out

    pe, ps = pairs(exact), pairs(star)
    if pe:
        recall = len(pe & ps) / len(pe)
        assert recall >= 0.8, f"star cluster recall {recall:.3f}"


def test_dedup_clusters_mode_dispatch(spark, sf_dir):
    """mode='star' through the single entry point ≡ dedup_clusters_star;
    unknown modes are rejected."""
    import pytest as _pytest

    from hive_udf_spark.operators.dedup import dedup_clusters, dedup_clusters_star

    docs = load_table(spark, sf_dir, "documents").limit(120)
    via_mode = sorted(
        map(
            tuple,
            dedup_clusters(
                docs, "doc_id", "text", 0.7, mode="star", sig_prefilter_margin=None
            ).collect(),
        )
    )
    direct = sorted(map(tuple, dedup_clusters_star(docs, "doc_id", "text", 0.7).collect()))
    assert via_mode == direct
    # star mode honors the fast-path kwargs instead of silently dropping
    # them: hashed-token star produces the same partition on this corpus
    hashed = sorted(
        map(
            tuple,
            dedup_clusters(
                docs, "doc_id", "text", 0.7, mode="star", hashed_tokens=True,
                sig_prefilter_margin=0.25,
            ).collect(),
        )
    )
    assert {t[0] for t in hashed} == {t[0] for t in direct}
    with _pytest.raises(ValueError):
        dedup_clusters(docs, "doc_id", "text", mode="fast")
    with _pytest.raises(ValueError):
        dedup_clusters_star(docs, "doc_id", "text", 0.7, portable=True, hashed_tokens=True)


def test_distributed_and_driver_cc_paths_agree(spark, sf_dir):
    """connected_components' three paths must produce identical
    components: the driver-side union-find over the whole edge list (the
    default when it fits), the driver-side union-find over the contracted
    graph (the bound lies between the contracted and full edge counts),
    and the distributed min-label fixpoint (bound 0)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.dedup import connected_components, near_dup_pairs
    from hive_udf_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    edges = near_dup_pairs(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    nodes = docs.select(F.col("doc_id").alias("id"))
    pairs = [(r.id_a, r.id_b) for r in edges.collect()]
    # the contracted graph connected_components builds: both edge
    # directions relabeled by the min of each closed neighborhood, the
    # self-loops dropped
    sym = pairs + [(b, a) for a, b in pairs]
    label: dict = {}
    for a, b in sym:
        label[a] = min(label.get(a, a), b)
    n_contracted = len({(label[a], label[b]) for a, b in sym if label[a] != label[b]})
    assert n_contracted < len(pairs) - 1

    def components(**kw):
        return sorted(map(tuple, connected_components(edges, nodes, **kw).collect()))

    direct = components()
    contracted = components(driver_solve_max_edges=len(pairs) - 1)
    distributed = components(driver_solve_max_edges=0)
    assert direct == contracted == distributed and len(direct) == 200
    assert len({c for _, c in direct}) < 200


def test_dedup_representatives_conservation(spark, sf_dir):
    """One row per cluster; representatives are cluster minima;
    multiplicities sum to the corpus size (nothing lost or repeated)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.dedup import dedup_representatives
    from hive_udf_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    reps = dedup_representatives(docs, "doc_id", "text", threshold=0.7, mode="exact")
    rows = reps.collect()
    assert len({r.cluster for r in rows}) == len(rows)
    assert all(r.rep_id == r.cluster for r in rows)  # canonical = min id
    assert sum(r.multiplicity for r in rows) == docs.count()
    assert any(r.multiplicity > 1 for r in rows)  # corpus is duplicate-dense


def test_best_quality_rep_beats_min_id(spark):
    """Quality-aware representative selection: when the cluster's min-id
    member is the repetitive variant, the cleaner higher-id member must
    be chosen (exactly where min-id reps go wrong)."""
    from pyspark.sql import functions as F
    from hive_udf_spark.functions.text import gopher_quality
    from hive_udf_spark.operators.dedup import dedup_clusters
    from pyspark.sql import Window

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # identical word SETS (Jaccard 1.0 -> guaranteed co-banding) but
    # different repetition: doc 1 repeats 'spam' 10x (high dup-trigram),
    # doc 2 mentions it once (zero repeated trigrams)
    spammy = base + " spam" * 10
    clean = base + " spam"
    rows = [(1, spammy), (2, clean), (9, "totally different words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = dedup_clusters(
        docs, "doc_id", "text", threshold=0.5, portable=True,
        sig_prefilter_margin=None, mode="exact",
    )
    m = gopher_quality("text")
    q = docs.select(
        "doc_id", m["n_words"].alias("n_words"),
        m["dup_trigram_ppm"].alias("dup_trigram_ppm"),
    )
    win = Window.partitionBy("cluster").orderBy(
        F.col("dup_trigram_ppm").asc(), F.col("n_words").desc(), F.col("doc_id").asc()
    )
    reps = (
        clusters.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
    )
    got = {r.cluster: r.doc_id for r in reps.collect()}
    # docs 1 and 2 cluster together (cluster id = min node = 1), but the
    # clean doc 2 must be the representative despite its higher id
    assert got[1] == 2
    assert got[9] == 9
