"""Probe index over the signatures store — the continuous-crawl lookup
structure (SURVEY.md §2.3 J4 at scale).

The round-2 incremental probe recomputed LSH band keys over the WHOLE
signatures store and unioned the full shingle payload per batch — an
O(|corpus| · payload) scan every call, contradicting the operator's own
cost claim. This module maintains the slim inverted index that makes the
claim true:

    index(pkey long, doc_id long)

with one row per (doc, probe key): the 16 MinHash band keys AND the
C(6,3)=20 SimHash combination-block keys (round-2 advice: probing bands
only gave the incremental path strictly lower recall than the batch
pipeline, which unions simhash_candidates). Both key families are folded
into a single 64-bit `pkey` = xxhash64(kind, ...), so the probe is ONE
equi-join on one long column; a cross-family hash collision can only add
a spurious candidate, which exact-Jaccard verify discards.

Cost at scale: the index row is 16 bytes (vs the 1-64 KB/doc signature
payload), so a batch probe scans ~36 slim rows/doc instead of the store's
minhash+shingle columns, recomputes nothing, and fetches shingle payload
ONLY for matched docs (left-semi join). Incremental maintenance is an
append of the batch's own keys — the streaming sink partitions it by
batch_id for idempotent retry overwrite (streaming.py).

`write_probe_index_bucketed` is the cluster-scale layout: a table
bucketed + sorted by pkey, so a probe whose batch side is repartitioned
to the bucket count joins with NO exchange on the store side (the same
measured bucketed-verify result in BENCH/BASELINE.md, applied to the
index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from simages_spark.config import DedupConfig
from simages_spark.operators.lsh import band_keys
from simages_spark.operators.simhash_join import simhash_keys

INDEX_SCHEMA = "kind int, pkey long, doc_id long, simhash long"


def probe_keys(
    signatures: DataFrame, cfg: DedupConfig | None = None, use_simhash: bool = True
) -> DataFrame:
    """(kind, pkey, doc_id, simhash): every probe key of every doc —
    MinHash band keys (kind 0) plus SimHash combination-block keys
    (kind 1). All JVM expressions over the signature columns; no Python.

    `simhash` rides along so the probe can apply the batch pipeline's
    exact `bit_count(xor) <= d` filter to kind-1 matches — without it the
    probe's candidate condition is a SUPERSET of the batch pipeline's
    (combination-key agreement without the Hamming cut), making edge
    existence depend on which micro-batch a doc arrived in. Detection
    must be arrival-order-invariant: a 1M-doc crawl-loop soak
    (tools/soak_crawl_loop.py) caught the 0.03% divergence."""
    cfg = cfg or DedupConfig()
    sig = signatures.select("doc_id", "minhash", "simhash", "num_shingles")
    keys = band_keys(sig, cfg, extra_cols=("simhash",)).selectExpr(
        "0 AS kind", "xxhash64(0, band, band_key) AS pkey", "doc_id", "simhash"
    )
    if use_simhash:
        keys = keys.unionByName(
            simhash_keys(sig, cfg).selectExpr(
                "1 AS kind", "xxhash64(1, key) AS pkey", "doc_id", "simhash"
            )
        )
    return keys


def write_probe_index(
    signatures: DataFrame,
    path: str,
    cfg: DedupConfig | None = None,
    use_simhash: bool = True,
    mode: str = "overwrite",
) -> None:
    """Materialize the index as plain parquet (the local/checkpoint form;
    the probe join then relies on AQE to broadcast the small batch side)."""
    probe_keys(signatures, cfg, use_simhash).write.mode(mode).parquet(path)


def read_probe_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_probe_index_bucketed(
    signatures: DataFrame,
    table: str,
    cfg: DedupConfig | None = None,
    use_simhash: bool = True,
    n_buckets: int = 64,
) -> None:
    """Cluster-scale layout: bucketBy(pkey) + sortBy(pkey) catalog table.
    A probe that repartitions its (small) batch side to `n_buckets` on
    pkey joins this table with no exchange on the store side."""
    (
        probe_keys(signatures, cfg, use_simhash)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "pkey")
        .sortBy("pkey")
        .format("parquet")
        .saveAsTable(table)
    )
