"""Group-level operators: A2 sentinel semantics, O3 pagination,
annotation patching, checkpoint staleness."""

from __future__ import annotations

from pyspark.sql import functions as F

from simages_spark.operators.groups import (
    duplicate_groups,
    paginate_groups,
    patch_annotations,
    same_time_filter,
)


def test_same_time_filter_sentinel(spark):
    """Reference semantics (duplicate_images/duplicate_finder.py:243-252):
    keep when all known timestamps agree, AND keep whenever any member's
    time is unknown — even if the known timestamps disagree."""
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20), (5, 30), (6, 30), (7, 30)],
        ["doc_id", "cluster_id"],
    )
    docs = spark.createDataFrame(
        [
            (1, 100, "a"), (2, 100, "b"),         # same ts → keep
            (3, 100, "c"), (4, 200, "d"),         # differ, no null → drop
            (5, 100, "e"), (6, 200, "f"), (7, None, "g"),  # null ⇒ KEEP
        ],
        "doc_id long, warc_ts long, text string",
    )
    groups = duplicate_groups(clusters, docs)
    kept = {r["cluster_id"] for r in same_time_filter(groups).collect()}
    assert kept == {10, 30}


def test_group_items_keeper_first_null_ts(spark):
    """items[0] must be the keep_first_policy keeper even when a member
    has a null warc_ts (round-2 advice: struct sort_array put nulls FIRST
    while the policy window orders asc_nulls_last)."""
    from simages_spark.operators.groups import keep_first_policy

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], ["doc_id", "cluster_id"]
    )
    docs = spark.createDataFrame(
        [(1, None, "a"), (2, 200, "b"), (3, 100, "c")],
        "doc_id long, warc_ts long, text string",
    )
    g = duplicate_groups(clusters, docs).collect()[0]
    # keeper rank: ts=100 (doc 3), ts=200 (doc 2), null LAST (doc 1)
    assert [it["doc_id"] for it in g["items"]] == [3, 2, 1]
    keeper = {
        r["doc_id"]
        for r in keep_first_policy(clusters, docs).collect()
        if r["is_keeper"]
    }
    assert g["items"][0]["doc_id"] in keeper


def test_group_member_cap_flood(spark):
    """A 5000-copy cluster materializes only max_members items; total
    keeps the true count and group_metrics surfaces the truncation."""
    from simages_spark.operators.groups import group_metrics

    n = 5000
    clusters = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("cluster_id")
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    groups = duplicate_groups(clusters, docs, max_members=10)
    g = groups.collect()[0]
    assert g["total"] == n
    assert len(g["items"]) == 10
    # capped members are the 10 lowest doc_ids (keeper rank order)
    assert [it["doc_id"] for it in g["items"]] == list(range(10))
    m = group_metrics(groups).collect()[0]
    assert m["n_capped_groups"] == 1 and m["max_total"] == n
    assert m["max_materialized"] == 10


def test_paginate_groups(spark):
    groups = spark.createDataFrame(
        [(i, 100 - i) for i in range(1, 13)], ["cluster_id", "total"]
    )
    paged = paginate_groups(groups, page_size=5).collect()
    by_rank = sorted(paged, key=lambda r: r["rank"])
    # ordered by total desc → cluster 1 first
    assert [r["cluster_id"] for r in by_rank[:3]] == [1, 2, 3]
    assert [r["page"] for r in by_rank] == [1] * 5 + [2] * 5 + [3] * 2


def test_pairwise_groups_debug_view(spark):
    """A3: one group per edge, both members carry the pair's jaccard
    (reference pre-clustering groups, duplicate_finder.py:158-186)."""
    from simages_spark.operators.groups import pairwise_groups

    edges = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.6)], "src long, dst long, jaccard double"
    )
    got = pairwise_groups(edges).collect()
    assert len(got) == 2
    by_members = {
        tuple(sorted(it["doc_id"] for it in r["items"])): r for r in got
    }
    assert set(by_members) == {(1, 2), (3, 4)}
    g12 = by_members[(1, 2)]
    assert all(it["jaccard"] == 0.9 for it in g12["items"])
    assert len({r["group_id"] for r in got}) == 2  # distinct group ids


def test_patch_annotations(spark):
    policy = spark.createDataFrame(
        [(1, 10, True), (2, 10, False), (3, 10, False), (4, 20, True)],
        ["doc_id", "cluster_id", "is_keeper"],
    )
    ann = spark.createDataFrame(
        [(2, "cat"), (3, "cat"), (3, "dog"), (4, "bird"), (99, "fish")],
        ["doc_id", "label"],
    )
    got = {(r["doc_id"], r["label"]) for r in patch_annotations(ann, policy).collect()}
    # 2,3 remap to keeper 1 (identical (1,cat) rows dedup); 4 is its own
    # keeper; 99 outside any cluster passes through
    assert got == {(1, "cat"), (1, "dog"), (4, "bird"), (99, "fish")}


def test_checkpoint_fingerprint_invalidation(spark, tmp_path):
    """A stage written under one config must NOT satisfy a run under a
    different config (e.g. cli --threshold change)."""
    from simages_spark.checkpoint import TableCheckpointStore, config_fingerprint
    from simages_spark.config import DedupConfig

    store = TableCheckpointStore(spark, str(tmp_path / "ck"))
    fp1 = config_fingerprint(DedupConfig(jaccard_threshold=0.5))
    fp2 = config_fingerprint(DedupConfig(jaccard_threshold=0.8))
    assert fp1 != fp2

    calls = []

    def make(v):
        def f():
            calls.append(v)
            return spark.createDataFrame([(v,)], ["x"])
        return f

    assert store.get_or_compute("s", make(1), fingerprint=fp1).collect()[0][0] == 1
    assert store.get_or_compute("s", make(2), fingerprint=fp1).collect()[0][0] == 1
    # changed config → stale → recompute
    assert store.get_or_compute("s", make(3), fingerprint=fp2).collect()[0][0] == 3
    assert calls == [1, 3]


def test_checkpoint_missing_stage_friendly_error(spark, tmp_path):
    from simages_spark.checkpoint import TableCheckpointStore

    store = TableCheckpointStore(spark, str(tmp_path / "ck2"))
    try:
        store.read("clusters")
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError as e:
        assert "producing stage" in str(e)


def test_dedup_tier_summary(spark):
    """Tier attribution: exact copies attributed to tier 1, unique-text
    cluster members to the near tier, one keeper per cluster."""
    from simages_spark.operators.groups import dedup_tier_summary

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "aaa almost"), (4, "zzz"), (5, "zzz")],
        ["doc_id", "text"],
    )
    # one cluster {1,2,3} (1-2 exact, 3 near), one cluster {4,5} (exact)
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], ["doc_id", "cluster_id"]
    )
    got = {r["tier"]: r["n_docs"]
           for r in dedup_tier_summary(clusters, docs).collect()}
    assert got == {"keeper": 2, "exact": 2, "near": 1}


def test_keep_best_policy_longest_wins(spark):
    """keep_best keeps the highest-score member (default n_chars),
    tie-break min doc_id; drop-in shape parity with keep_first."""
    from simages_spark.operators.groups import keep_best_policy, keep_first_policy

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)],
        ["doc_id", "cluster_id"],
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 400), (3, 400), (4, 50), (5, None), (6, 7)],
        "doc_id long, n_chars long",
    )
    best = {r["doc_id"]: r["is_keeper"] for r in keep_best_policy(clusters, docs).collect()}
    # cluster 10: 2 and 3 tie at 400 → min doc_id (2) keeps, not doc 1
    # cluster 20: NULL score loses to any known score
    assert best == {1: False, 2: True, 3: False, 4: True, 5: False, 6: True}
    first = {r["doc_id"]: r["is_keeper"] for r in keep_first_policy(clusters, docs).collect()}
    assert first[1] and not first[2]  # the two policies genuinely differ
    assert set(keep_best_policy(clusters, docs).columns) == set(
        keep_first_policy(clusters, docs).columns
    )
