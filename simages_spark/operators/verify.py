"""Exact-Jaccard verification of candidate pairs (SURVEY.md §2.3 J2).

The reference's distances are exact by construction
(reference: src/simages/extractor.py:335-340); LSH candidates are not, so
every candidate edge is verified with exact Jaccard over the docs' hashed
shingle sets. Runs entirely JVM-side (`array_intersect`/`array_union` on
array<long>), no Python: the shingle sets were materialized once by the
signature UDF and ride along as `shingle_hashes`.

Scale notes: the two joins shuffle candidates on src then dst against the
signatures table; AQE skew-split covers hot docs that appear in many
candidate pairs. Writing the signatures checkpoint bucketBy(doc_id)
provably removes both corpus-sized exchanges from this join's plan —
measured in tools/bench_bucketed_verify.py (8 → 6 exchanges, identical
edges); it only pays off where shuffle is cross-executor network, so
plain parquet stays the local default (numbers in BENCH/BASELINE.md). When the shingle-array payload
dominates (hot docs replicated per candidate pair, or a checkpointed
signatures table that must stay slim), `verify_pairs_recompute` trades a
second text scan over *candidate docs only* for not carrying
`shingle_hashes` through the shuffle at all — measured side by side in
tools/bench_verify_payload.py; BENCH/BASELINE.md records the numbers.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig


def _jaccard_edges(
    candidates: DataFrame, sets: DataFrame, threshold: float | None
) -> DataFrame:
    """candidates(src,dst) ⋈ sets(doc_id, shingle_hashes) on both sides →
    (src, dst, jaccard). Inner joins reproduce the reference's
    drop-if-missing enrichment semantics
    (reference: src/simages/duplicate_finder.py:162-164)."""
    # The payload side is pinned to sort-merge (hint("merge")): its rows
    # are dominated by the shingle-hash ARRAY, and Catalyst's static
    # size estimate prices an array<long> at ArrayType.defaultSize (a
    # few bytes) — an unmaterialized in-memory signatures chain (no
    # parquet footer, cache not yet built) therefore looks broadcastable
    # at ANY corpus size. Measured failure: at 10M docs the planner
    # auto-broadcast the ~5 GB payload side and the broadcast collect
    # blew spark.driver.maxResultSize (the 10M profile run only survived
    # because its cache was materialized BEFORE planning — accurate
    # stats, and Spark then picks SMJ on its own). SMJ is what this join
    # wants at target scale anyway: spillable, AQE skew-split applies
    # (the hot-doc posture documented above), and bucketed-signature
    # layouts still elide the exchange under SMJ.
    edges = (
        candidates.join(
            sets.selectExpr("doc_id AS src", "shingle_hashes AS h_src").hint("merge"),
            "src",
        )
        .join(
            sets.selectExpr("doc_id AS dst", "shingle_hashes AS h_dst").hint("merge"),
            "dst",
        )
        # guard the denominator: a pair of zero-shingle docs (null/
        # whitespace-only text reaching verify via the exact-hash layer)
        # would yield 0/0 = NaN, and Spark orders NaN ABOVE all doubles so
        # it would silently pass any >= threshold — drop such pairs, same
        # as the oracle's len(shingles) > 0 semantics
        .where("size(h_src) + size(h_dst) > 0")
        # one projection: `jaccard` reads `n_inter` as a lateral column
        # alias, so the intersection is still computed once per pair
        .selectExpr(
            "src",
            "dst",
            "size(array_intersect(h_src, h_dst)) AS n_inter",
            "n_inter / CAST(size(h_src) + size(h_dst) - n_inter AS DOUBLE) AS jaccard",
        )
        .drop("n_inter")
    )
    if threshold is not None:
        edges = edges.where(F.col("jaccard") >= threshold)
    return edges


def verify_pairs(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig | None = None,
    keep_below_threshold: bool = False,
) -> DataFrame:
    """candidates(src,dst) × signatures → edges(src, dst, jaccard)."""
    cfg = cfg or DedupConfig()
    return _jaccard_edges(
        candidates,
        signatures.select("doc_id", "shingle_hashes"),
        None if keep_below_threshold else cfg.jaccard_threshold,
    )


def verify_pairs_recompute(
    candidates: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    keep_below_threshold: bool = False,
) -> DataFrame:
    """Verify WITHOUT the signatures table: re-derive shingle sets from
    `text`, for candidate docs only (semi-join first).

    The documented alternative when the shingle-array payload is the
    bottleneck: the signatures checkpoint shrinks to minhash+simhash
    (~1 KB/doc instead of up to 64 KB/doc), at the price of re-reading
    `text` for the (typically small) fraction of docs that appear in a
    candidate pair. Output is identical to `verify_pairs` by construction
    — both hash through functions/shingles.py.
    """
    cfg = cfg or DedupConfig()
    cap, k = cfg.max_shingles_per_doc, cfg.shingle_size
    ids = (
        candidates.select(F.col("src").alias("doc_id"))
        .unionByName(candidates.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(ids, "doc_id", "left_semi").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from simages_spark.functions.shingles import (
            hash_shingles,
            shingle_strings,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "shingle_hashes": [
                        hash_shingles(shingle_strings(t, k))[:cap].astype(np.int64)
                        for t in pdf["text"].fillna("")
                    ],
                }
            )

    # persist: the recomputed sets feed both the src- and dst-side joins;
    # without it the hashing UDF runs twice (the round-1 suffix lesson)
    sets = cand_docs.mapInPandas(
        run, schema="doc_id long, shingle_hashes array<long>"
    ).persist()
    return _jaccard_edges(
        candidates,
        sets,
        None if keep_below_threshold else cfg.jaccard_threshold,
    )


def top_k_pairs(edges: DataFrame, k: int) -> DataFrame:
    """Global top-k most-similar pairs, the reference's result contract
    (closest first, reference: README.md:9-10; n clamp src/simages/extractor.py:330-333).
    orderBy().limit() compiles to TakeOrderedAndProject — no full sort.
    """
    return edges.orderBy(F.col("jaccard").desc(), "src", "dst").limit(k)


def quantile_pairs(edges: DataFrame, q: float) -> DataFrame:
    """All pairs in the closest q-quantile (reference: src/simages/extractor.py:328,
    `quantile` param). Exact percentile; at extreme scale swap for
    approxQuantile — documented tradeoff, not silent.

    The edge set is consumed twice (threshold scan + filter); persist so
    an expensive upstream (e.g. the brute-force oracle join) runs once.
    Cache lifetime is owned by the CALLER: the cached edges block stays
    until `edges.unpersist()` or session end — a long-lived session
    issuing many quantile_pairs calls over different edge sets should
    unpersist each input once the filtered result is materialized
    (same contract for the recomputed `sets` in verify_pairs_recompute).
    """
    edges = edges.persist()
    thresh = edges.agg(
        F.expr(f"percentile(jaccard, {1.0 - q})").alias("t")
    ).collect()[0]["t"]
    return edges.where(F.col("jaccard") >= thresh)
