"""Incremental cluster maintenance: labels must literally equal a
from-scratch connected_components over all edges consumed so far, at
EVERY tick — the repo's cluster-equality methodology (round-5 item 1)."""

from __future__ import annotations

import random

import pytest

from simages_spark.config import DedupConfig
from simages_spark.operators.cluster_state import ClusterState
from simages_spark.operators.connected_components import connected_components


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def _label_set(df):
    return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}


def test_incremental_equals_from_scratch_every_tick(spark, tmp_path):
    """Random messy graph in 6 batches — including later batches that
    introduce doc ids SMALLER than existing cluster minima (the label
    must drop to the new global min via forwarding)."""
    rng = random.Random(41)
    ids = list(range(1000, 1300)) + list(range(0, 60))  # small ids exist
    batches = [
        [(rng.choice(ids), rng.choice(ids)) for _ in range(80)]
        for _ in range(6)
    ]
    state = ClusterState(spark, str(tmp_path / "cs"))
    seen: list = []
    for b, pairs in enumerate(batches):
        seen.extend(pairs)
        m = state.update(_edges_df(spark, pairs), batch_id=b)
        assert m["edges"] > 0
        scratch = connected_components(_edges_df(spark, seen), DedupConfig())
        assert _label_set(state.clusters()) == _label_set(scratch)


def test_replay_is_idempotent(spark, tmp_path):
    state = ClusterState(spark, str(tmp_path / "cs"))
    state.update(_edges_df(spark, [(1, 2), (3, 4)]), batch_id=0)
    state.update(_edges_df(spark, [(2, 3), (10, 11)]), batch_id=1)
    before = _label_set(state.clusters())
    m = state.update(_edges_df(spark, [(2, 3), (10, 11)]), batch_id=1)
    assert m["replayed"] is True
    assert m["merges"] == 0  # endpoints already resolve to one root
    assert _label_set(state.clusters()) == before


def test_crash_between_commits_heals_on_retry(spark, tmp_path):
    """members appended, forward write crashes → the retry of the same
    batch repairs forward (the documented two-commit crash window)."""
    state = ClusterState(spark, str(tmp_path / "cs"))
    state.update(_edges_df(spark, [(5, 9)]), batch_id=0)  # cluster min 5
    # batch 1 merges {5,9} with {2}: label must drop 5 -> 2
    real_overwrite = state.forward.overwrite
    calls = {"n": 0}

    def failing_overwrite(df):
        calls["n"] += 1
        raise OSError("injected crash before forward commit")

    state.forward.overwrite = failing_overwrite
    with pytest.raises(OSError):
        state.update(_edges_df(spark, [(2, 9)]), batch_id=1)
    assert calls["n"] == 1
    state.forward.overwrite = real_overwrite
    # retry of the same tick (foreachBatch replay)
    state.update(_edges_df(spark, [(2, 9)]), batch_id=1)
    scratch = connected_components(
        _edges_df(spark, [(5, 9), (2, 9)]), DedupConfig()
    )
    assert _label_set(state.clusters()) == _label_set(scratch)


def test_fold_preserves_labels_and_empties_forward(spark, tmp_path):
    rng = random.Random(7)
    state = ClusterState(spark, str(tmp_path / "cs"))
    seen: list = []
    for b in range(4):
        pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(60)]
        seen.extend(pairs)
        state.update(_edges_df(spark, pairs), batch_id=b)
    before = _label_set(state.clusters())
    r = state.fold()
    assert r["folded"] and r["forward_entries_applied"] > 0
    assert _label_set(state.clusters()) == before
    assert state.fold() == {"folded": False, "reason": "nothing to fold"}
    # folding is transparent to later ticks
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(60)]
    seen.extend(pairs)
    state.update(_edges_df(spark, pairs), batch_id=4)
    scratch = connected_components(_edges_df(spark, seen), DedupConfig())
    assert _label_set(state.clusters()) == _label_set(scratch)


def test_multi_source_ticks(spark, tmp_path):
    """Two edge sources (the crawl's star + near streams) with their own
    batch id sequences interleave into one consistent labeling."""
    state = ClusterState(spark, str(tmp_path / "cs"))
    state.update(_edges_df(spark, [(1, 2)]), batch_id=0, source_id="star")
    state.update(_edges_df(spark, [(2, 7)]), batch_id=0, source_id="near")
    state.update(_edges_df(spark, [(7, 0)]), batch_id=1, source_id="star")
    scratch = connected_components(
        _edges_df(spark, [(1, 2), (2, 7), (7, 0)]), DedupConfig()
    )
    assert _label_set(state.clusters()) == _label_set(scratch)
