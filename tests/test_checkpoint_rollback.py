"""Checkpoint staleness guards (per-stage fingerprints, the consumer-side
cross-config refusal) and the one-open resume path.
"""
from __future__ import annotations

import pytest

from simages_spark.checkpoint import TableCheckpointStore


def test_per_stage_fingerprints_scope_invalidation(spark, tmp_path):
    """A threshold-only config change must NOT invalidate the
    (threshold-independent) signature checkpoint, but MUST invalidate
    edges/clusters; a signature-affecting change invalidates everything."""
    from simages_spark.checkpoint import config_fingerprint
    from simages_spark.config import DedupConfig

    base = DedupConfig()
    thresh = DedupConfig(jaccard_threshold=0.9)
    shingle = DedupConfig(shingle_size=7)

    for stage in ("signatures", "sig_index", "candidates"):
        assert config_fingerprint(base, stage) == config_fingerprint(
            thresh, stage
        ), stage
    for stage in ("edges", "clusters"):
        assert config_fingerprint(base, stage) != config_fingerprint(
            thresh, stage
        ), stage
    for stage in ("signatures", "sig_index", "candidates", "edges", "clusters"):
        assert config_fingerprint(base, stage) != config_fingerprint(
            shingle, stage
        ), stage
    # bucket caps bind at candidate generation, not key generation
    capped = DedupConfig(max_bucket_size=50)
    assert config_fingerprint(base, "signatures") == config_fingerprint(
        capped, "signatures"
    )
    assert config_fingerprint(base, "sig_index") == config_fingerprint(
        capped, "sig_index"
    )
    assert config_fingerprint(base, "candidates") != config_fingerprint(
        capped, "candidates"
    )
    # unknown stage / no stage = the conservative whole-config hash
    assert config_fingerprint(base) != config_fingerprint(thresh)


def test_read_refuses_cross_config_stage(spark, tmp_path):
    """Consumer-side staleness guard: read(expected_fingerprint=...) must
    refuse a stage computed under other knobs — the CLI
    `cluster` command must not silently mix configs across stages."""
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    store = TableCheckpointStore(spark, str(tmp_path / "wd"))
    store.write("signatures", df, fingerprint="fpA")
    assert store.read("signatures", expected_fingerprint="fpA").count() == 1
    with pytest.raises(ValueError, match="different\\s+config"):
        store.read("signatures", expected_fingerprint="fpB")


def test_resume_hit_opens_stage_table_once(spark, tmp_path, monkeypatch):
    """A `get_or_compute` that finds its stage opens the stage's table
    once (one version listing, one manifest parse), computes nothing and
    reads the stored rows; a fingerprint miss writes a new version."""
    from simages_spark import table

    store = TableCheckpointStore(spark, str(tmp_path / "ck"))
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    store.get_or_compute("sig", lambda: df, fingerprint="f1")

    opened = []
    real_init = table.SnapshotTable.__init__

    def counting_init(self, *args, **kwargs):
        opened.append(args[1] if len(args) > 1 else kwargs.get("root"))
        real_init(self, *args, **kwargs)

    monkeypatch.setattr(table.SnapshotTable, "__init__", counting_init)

    def must_not_run():
        raise AssertionError("a resume hit must not recompute the stage")

    hit = store.get_or_compute("sig", must_not_run, fingerprint="f1")
    assert sorted(r.doc_id for r in hit.collect()) == [0, 1, 2, 3, 4]
    assert len(opened) == 1, opened

    opened.clear()
    store.get_or_compute("sig", lambda: df.where("doc_id < 2"), fingerprint="f2")
    versions = table.SnapshotTable(spark, str(tmp_path / "ck" / "sig")).history()
    assert [m["version"] for m in versions] == [0, 1]
