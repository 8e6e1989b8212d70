"""End-to-end pipeline: LSH recall ≥ 0.99 vs the exact brute-force oracle
(the reference's exhaustive semantics, reference: src/simages/extractor.py:321-342),
cluster golden membership, determinism, and resume-from-checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from simages_spark.checkpoint import TableCheckpointStore
from simages_spark.config import DedupConfig
from simages_spark.operators.groups import duplicate_groups, keep_first_policy
from simages_spark.pipeline import find_duplicates, top_pairs

CFG = DedupConfig()


def _pairs(rows):
    return {(r["src"], r["dst"]) for r in rows}


def _co_cluster_pairs(cluster_rows):
    by_cluster: dict[int, list[int]] = {}
    for r in cluster_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    pairs = set()
    for members in by_cluster.values():
        ms = sorted(members)
        pairs |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]}
    return pairs


def test_recall_vs_bruteforce_oracle(dedup_sf001, oracle_edges_sf001):
    """Dup-pair recall ≥ 0.99 at tau=0.5 (BASELINE.json north_star).

    A pair counts as detected when both docs land in the same cluster —
    the dedup decision surface. (With cfg.exact_first the edge list is
    the minimal connectivity certificate, not all within-group pairs, so
    recall is defined on cluster co-membership.)"""
    edges, clusters = dedup_sf001
    truth = _pairs(oracle_edges_sf001)
    assert truth, "oracle found no pairs — fixture assumption broken"
    got = _co_cluster_pairs(clusters)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall} ({len(got & truth)}/{len(truth)})"
    # precision is exact by construction on the certificate edges:
    # star edges are true jaccard-1.0 pairs, rep edges are verified
    assert _pairs(edges) <= truth, f"false positives: {_pairs(edges) - truth}"


def test_verified_jaccard_matches_oracle_values(dedup_sf001, oracle_edges_sf001):
    edges, _ = dedup_sf001
    truth = {(r["src"], r["dst"]): r["jaccard"] for r in oracle_edges_sf001}
    for r in edges:
        # hashed-shingle Jaccard == string-shingle Jaccard (no collisions)
        assert abs(r["jaccard"] - truth[(r["src"], r["dst"])]) < 1e-12


def _union_find_components(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_clusters_match_oracle_components(dedup_sf001, oracle_edges_sf001):
    """Golden cluster membership: Spark large/small-star CC over the
    pipeline's edges equals union-find over the exact-oracle edges
    (analog of the reference's exact group-count assertions,
    reference: src/simages/duplicate_images/tests/test.py:171-203)."""
    _, clusters = dedup_sf001
    expected = _union_find_components(_pairs(oracle_edges_sf001))
    got = {r["doc_id"]: r["cluster_id"] for r in clusters}
    assert got == expected


def test_top_pairs_contract(spark, docs_sf0001):
    tp = top_pairs(docs_sf0001, n=5, cfg=CFG).collect()
    assert len(tp) <= 5
    js = [r["jaccard"] for r in tp]
    assert js == sorted(js, reverse=True)


def test_pipeline_deterministic_across_parallelism(spark, docs_sf001, dedup_sf001):
    edges, _ = dedup_sf001
    e2 = _pairs(find_duplicates(docs_sf001.repartition(17), CFG).edges.collect())
    assert _pairs(edges) == e2


def test_exact_first_equivalent_clusters(spark, docs_sf0001):
    """exact_first computes signatures on distinct texts only; clusters
    must be IDENTICAL to the all-docs path — including copies of near-dup
    docs, the case where rep-level edges must carry the connectivity."""
    copies = docs_sf0001.orderBy("doc_id").limit(20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000_000)
    )
    docs = docs_sf0001.unionByName(copies)
    on = find_duplicates(docs, DedupConfig(exact_first=True))
    off = find_duplicates(docs, DedupConfig(exact_first=False))
    c_on = {r["doc_id"]: r["cluster_id"] for r in on.clusters.collect()}
    c_off = {r["doc_id"]: r["cluster_id"] for r in off.clusters.collect()}
    assert c_on == c_off
    # and the signature stage really shrank to distinct texts
    n_distinct = docs.where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).select("text").distinct().count()
    assert on.signatures.count() == n_distinct
    assert off.signatures.count() > n_distinct


def test_checkpoint_resume(spark, docs_sf0001, tmp_path):
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    r1 = find_duplicates(docs_sf0001, cfg)
    edges1 = _pairs(r1.edges.collect())
    clusters1 = {(r["doc_id"], r["cluster_id"]) for r in r1.clusters.collect()}
    # resume: stages exist → read back, identical output
    r2 = find_duplicates(docs_sf0001, cfg)
    assert _pairs(r2.edges.collect()) == edges1
    assert {(r["doc_id"], r["cluster_id"]) for r in r2.clusters.collect()} == clusters1
    store = TableCheckpointStore(spark, str(tmp_path / "ckpt"))
    for stage in ("signatures", "edges", "clusters"):
        assert store.exists(stage), stage
        # the resume read the stage, it did not write a second version
        assert len(store.history(stage)) == 1, stage


def test_groups_and_policy(spark, docs_sf001, dedup_sf001):
    _, cluster_rows = dedup_sf001
    clusters = spark.createDataFrame(cluster_rows)
    groups = duplicate_groups(clusters, docs_sf001).collect()
    assert groups
    for g in groups:
        assert g["total"] > 1
        assert len(g["items"]) == g["total"]
    policy = keep_first_policy(clusters, docs_sf001, CFG)
    per_cluster = (
        policy.groupBy("cluster_id")
        .agg(
            F.sum(F.col("is_keeper").cast("int")).alias("keepers"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    for row in per_cluster:
        assert row["keepers"] == 1
        assert row["n"] >= 2
