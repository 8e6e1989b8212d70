"""Checkpoint staleness guards (per-stage fingerprints, the consumer-side
cross-config refusal) and the narrowed 'no data yet' exception handling
in the streaming reads.
"""
from __future__ import annotations

import pytest

from simages_spark.checkpoint import TableCheckpointStore
from simages_spark.streaming import _read_data_or_none


def test_read_data_or_none_only_masks_no_data(spark, tmp_path):
    """None for missing path and schema-less dir; a corrupt data file
    must RAISE (round-4 advice item 1 — a masked read error silently
    drops cross-corpus dup edges forever)."""
    missing = str(tmp_path / "missing")
    assert _read_data_or_none(spark, missing) is None

    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_data_or_none(spark, str(empty)) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        df = _read_data_or_none(spark, str(corrupt))
        # schema inference may be lazy for a single file — force it
        if df is not None:
            df.collect()


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
