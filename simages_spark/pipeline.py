"""End-to-end near-duplicate pipeline — API parity with the reference's
`find_duplicates` (reference: src/simages/main.py:136-205).

    docs → [exact-first: one representative per distinct text]
         → signatures (MinHash+SimHash, Arrow UDF)
         → LSH candidates ∪ SimHash candidates [∪ exact-hash edges]
         → exact-Jaccard verify (JVM) [∪ exact-hash star edges]
         → connected components (large-star/small-star)
         → clusters / groups / keep-first policy

Each arrow is a checkpointable stage; pass `cfg.checkpoint_dir` to get
resume-from-checkpoint with lineage + metrics (north_rule).

With `cfg.exact_first` (default), signatures are computed for ONE
representative per distinct text and exact copies connect through the
linear star layer — cluster output is identical (every star edge is a
true jaccard-1.0 pair; every brute-force ≥τ pair is witnessed by
star + rep-edge paths), but signature/LSH cost scales with *distinct*
texts, which at web scale is 2-3× smaller than the corpus and immune
to identical-content floods. `DedupResult.edges` is then the minimal
connectivity certificate rather than all within-group pairs (a 10⁵-copy
page contributes 10⁵-1 edges, not C(10⁵,2)).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from simages_spark.checkpoint import TableCheckpointStore, config_fingerprint
from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.exact import exact_dup_edges, with_content_hash
from simages_spark.operators.groups import keep_first_policy
from simages_spark.operators.lsh import candidate_pairs
from simages_spark.operators.simhash_join import simhash_candidates
from simages_spark.operators.verify import verify_pairs


@dataclass
class DedupResult:
    signatures: DataFrame
    candidates: DataFrame
    edges: DataFrame  # verified (src, dst, jaccard)
    clusters: DataFrame  # (doc_id, cluster_id), only docs in some edge


def build_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    return compute_signatures(docs, cfg)


def representative_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One representative (min doc_id) per distinct non-empty text.

    The near-dup machinery only needs distinct texts: identical copies
    share the representative's shingle set exactly, and connectivity to
    the representative is owned by the exact-hash star layer. One shuffle
    on the content hash.

    `text` rides as a GROUP KEY, not an `any_value` aggregate: the sha
    determines the text (byte-identical within a group), so the groups —
    and the output — are unchanged, but the aggregation buffer is now a
    single mutable long (min doc_id). With `any_value(text)` the buffer
    held a string, which no hash-based aggregate supports — the planner
    fell back to SortAggregate and SORTED the full (sha, text) corpus on
    both sides of the exchange (observed in the e2e plan; guide §7.2).
    Group keys may be var-length, so this form is a plain HashAggregate
    with map-side partial aggregation."""
    nonempty = docs.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    return (
        with_content_hash(nonempty, text_col)
        .groupBy("text_sha", text_col)
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", text_col)
    )


def build_candidates(
    docs: DataFrame, signatures: DataFrame, cfg: DedupConfig, use_simhash: bool = True
) -> DataFrame:
    """Near-dup candidate pairs over whatever `signatures` covers.

    With cfg.exact_first the exact-hash layer contributes already-exact
    star EDGES in `build_edges`, not candidates — representatives have
    pairwise-distinct texts and identical docs never need verification.
    Legacy path: exact pairs union in here (cheap, guarantees identical
    docs pair up even if both LSH and SimHash somehow missed).

    The union's final dropDuplicates is the ONLY pair-dedup exchange:
    both branches run with dedup=False (guide §2.4 — their internal
    dedups produced the same distinct set the union dedup recomputes;
    per-branch duplicate rows are full-row identical, so the merged
    distinct set is unchanged)."""
    cand = candidate_pairs(signatures, cfg, dedup=False)
    if use_simhash:
        cand = cand.unionByName(
            simhash_candidates(signatures, cfg, dedup=False).select("src", "dst")
        )
    if not cfg.exact_first:
        cand = cand.unionByName(exact_dup_edges(docs).select("src", "dst"))
    return cand.dropDuplicates(["src", "dst"])


def build_edges(
    candidates: DataFrame,
    signatures: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Verified edges (src, dst, jaccard). With cfg.exact_first, unions
    the exact-hash star edges — jaccard 1.0 by construction, linear in
    group size, no re-verification."""
    edges = verify_pairs(candidates, signatures, cfg)
    if cfg.exact_first:
        edges = edges.unionByName(
            exact_dup_edges(docs).select("src", "dst", "jaccard")
        )
    return edges


def find_duplicates(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    use_simhash: bool = True,
) -> DedupResult:
    """The flagship path (reference: src/simages/main.py:136-205).

    `docs` needs (doc_id long, text string). Returns lazy DataFrames; with
    cfg.checkpoint_dir set, signatures/edges/clusters are materialized and
    a rerun resumes from whatever stages already exist.
    """
    cfg = cfg or DedupConfig()
    store = (
        TableCheckpointStore(docs.sparkSession, cfg.checkpoint_dir)
        if cfg.checkpoint_dir
        else None
    )

    sig_docs = representative_docs(docs) if cfg.exact_first else docs
    if store:
        # per-stage fingerprints: a threshold-only rerun must NOT
        # invalidate the (threshold-independent) signature checkpoint —
        # each stage hashes only the knobs that can change ITS output
        signatures = store.get_or_compute(
            "signatures",
            lambda: build_signatures(sig_docs, cfg),
            fingerprint=config_fingerprint(cfg, stage="signatures"),
        )
    else:
        # signatures feed 4 consumers (bands, simhash, verify×2): without a
        # checkpoint the Arrow UDF would re-run per consumer — persist once
        # (disk-spillable; the parquet checkpoint is the cluster-
        # scale equivalent, reference analog: extractor.py:179-189 cache)
        signatures = build_signatures(sig_docs, cfg).persist()

    candidates = build_candidates(docs, signatures, cfg, use_simhash)

    def _edges() -> DataFrame:
        return build_edges(candidates, signatures, docs, cfg)

    # edges feed CC (iterative) and the caller — persist when not stored
    edges = (
        store.get_or_compute(
            "edges", _edges, fingerprint=config_fingerprint(cfg, stage="edges")
        )
        if store
        else _edges().persist()
    )

    def _clusters() -> DataFrame:
        return connected_components(edges, cfg)

    clusters = (
        store.get_or_compute(
            "clusters",
            _clusters,
            fingerprint=config_fingerprint(cfg, stage="clusters"),
        )
        if store
        else _clusters()
    )

    return DedupResult(
        signatures=signatures, candidates=candidates, edges=edges, clusters=clusters
    )


def dedup_plan(docs: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """clusters + keeper policy in one call: (doc_id, cluster_id, is_keeper)."""
    cfg = cfg or DedupConfig()
    result = find_duplicates(docs, cfg)
    return keep_first_policy(result.clusters, docs, cfg)


def top_pairs(docs: DataFrame, n: int = 5, cfg: DedupConfig | None = None) -> DataFrame:
    """(src, dst, jaccard) — closest pairs first, the reference's return
    contract (pairs+distances, reference: src/simages/main.py:197-205;
    default n=5 reference: src/simages/main.py:138). n is clamped to the
    number of edges naturally (LIMIT semantics vs the explicit clamp at
    reference: src/simages/extractor.py:330-333)."""
    result = find_duplicates(docs, cfg)
    return result.edges.orderBy(F.col("jaccard").desc(), "src", "dst").limit(n)
