"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship near-dup pipeline on sf0.001.
`queries()` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; `oracle_sql()` carries the DuckDB
equivalent for every SQL-expressible one. Column names + rounding are
aligned on both sides (driver hashes values after sorting columns by
name), and the shared shingle/tokenize semantics are defined once in
simages_spark.functions.shingles and mirrored verbatim in the SQL below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from simages_spark.config import DedupConfig
from simages_spark.functions.multimodal import media_metadata
from simages_spark.functions.shingles import DUCKDB_TOKENS_SQL, duckdb_shingles_sql
from simages_spark.functions.signatures import compute_signatures, perm_params_ints
from simages_spark.functions.text_stats import (
    STOPWORDS,
    doc_fingerprint,
    quality_columns,
    quality_filter,
    repetition_stats,
)
from simages_spark.operators.ann import (
    ann_cosine_pairs,
    cosine_topk,
    hyperplane_matrix,
)
from simages_spark.operators.bruteforce import bruteforce_jaccard_pairs, shingle_sets
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.exact import source_dup_stats, with_content_hash
from simages_spark.operators.groups import (
    duplicate_groups,
    keep_best_policy,
    keep_first_policy,
    paginate_groups,
    patch_annotations,
    same_time_filter,
)
from simages_spark.operators.ivf import (
    ivf_centroids_trained,
    ivf_cosine_pairs,
    ivf_knn,
)
from simages_spark.operators.joins import enrich_pairs
from simages_spark.operators.lsh import candidate_pairs
from simages_spark.operators.pca import embedding_covariance, pca_projection_2d
from simages_spark.operators.simhash_join import simhash_candidates
from simages_spark.operators.suffix import (
    strip_duplicate_spans,
    substring_dup_pairs,
    substring_dup_spans,
)
from simages_spark.operators.verify import quantile_pairs
from simages_spark.operators.incremental import incremental_dedup_edges
from simages_spark.operators.groups import dedup_tier_summary
from simages_spark.operators.curation import (
    SAMPLE_MOD,
    curated_corpus,
    decontamination_report,
    sample_key_sql,
    stratified_sample,
    token_budget_mix,
)
from simages_spark.functions.urls import (
    duckdb_normalize_url_sql,
    normalize_url_col,
    revisit_stats,
    with_normalized_url,
)
from simages_spark.operators.line_dedup import (
    duckdb_segments_cte,
    line_dup_stats,
    line_deduped_corpus,
)
from simages_spark.pipeline import find_duplicates
from simages_spark.relational import (
    brand_volume,
    customer_order_ranks,
    pricing_summary,
    region_revenue,
    top_customers,
)
from simages_spark.streaming import windowed_event_counts

CFG = DedupConfig()
TAU = CFG.jaccard_threshold

# ---- curation-query constants (shared verbatim by the Spark queries
# and the generated oracle SQL below so the two cannot drift) ----
# decontamination: the "benchmark suite" is the deterministic eval split
EVAL_SPLIT_MOD = 7
# stratified sampling: per-lang keep rates (thresholds are integer
# floor(rate * SAMPLE_MOD) — no float crosses an engine boundary)
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
SAMPLE_DEFAULT_RATE = 0.05
# token-budget mix: per-source token budgets (sf-independent constants)
MIX_BUDGETS = {f"src{i}": 400 + 100 * (i % 4) for i in range(20)}
MIX_DEFAULT_BUDGET = 0


# ---- synthetic crawl URLs for the canonicalization queries ----------------
# documents has no url column, so the queries derive one deterministically
# from (source, doc_id) — messy on purpose (scheme/host case, a default
# port, tracking params, unsorted params, fragment, trailing slash) so the
# normalizer has real work to do, and built so distinct doc_ids collide
# AFTER canonicalization (doc_id%3 ∈ {0,1} variants normalize identically
# when (source, doc_id%7, doc_id%97) match — genuine revisit groups). The
# Spark column and the DuckDB fragment are generated side by side here so
# they cannot drift.
def _synth_url_col():
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTP://"),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/cat/"),
        (d % 20).cast("string"),
        F.lit("/p"),
        F.floor(d / 140).cast("string"),
        F.when(d % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1#frag"))
        .when(d % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("/")),
    )


# path residues (d%20, ⌊d/140⌋) are chosen so docs in the same 140-block
# sharing d%20 (⇒ same `source`, which is src(doc_id%20) in the driver
# testdata) collide after canonicalization when their d%3 variant is 0 or
# 1 — the rollup sees real multi-snapshot groups, not 1-row trivia
_SYNTH_URL_SQL = """
    'HTTP://' || source || '.Example.COM'
    || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
    || '/cat/' || CAST(doc_id % 20 AS VARCHAR)
    || '/p' || CAST(CAST(floor(doc_id / 140) AS BIGINT) AS VARCHAR)
    || CASE doc_id % 3
         WHEN 0 THEN '/?utm_source=feed&b=2&a=1#frag'
         WHEN 1 THEN '?a=1&b=2'
         ELSE '/' END
""".strip()


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {int(rate * SAMPLE_MOD)}"
        for lang, rate in sorted(SAMPLE_RATES.items())
    )
    return (
        f"CASE lang {whens} ELSE {int(SAMPLE_DEFAULT_RATE * SAMPLE_MOD)} END"
    )


def _budget_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{src}' THEN {budget}"
        for src, budget in sorted(MIX_BUDGETS.items())
    )
    return f"CASE source {whens} ELSE {MIX_DEFAULT_BUDGET} END"


def _docs_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic warc_ts surrogate for the A2 filter:
    ts = doc_id % 3 (three 'capture times'), null for doc_id % 7 == 0
    (the reference's "Time unknown" sentinel)."""
    d = _docs(spark, sf_dir)
    return d.withColumn(
        "warc_ts",
        F.when(d.doc_id % 7 == 0, F.lit(None).cast("long")).otherwise(
            d.doc_id % 3
        ),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _exact_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact-Jaccard edges — the reference semantics
    (src/simages/extractor.py:321-342) and the shared base of several
    oracle-checked queries."""
    return bruteforce_jaccard_pairs(_docs(spark, sf_dir), CFG, threshold=TAU)


def _training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's end product: the doc set a training run would
    read — keep-first exact-Jaccard dedup (cluster keepers + docs in no
    cluster) intersected with the composed quality gate. Two semi/anti
    joins over already-oracle-checked building blocks."""
    docs = _docs(spark, sf_dir)
    policy = keep_first_policy(
        connected_components(_exact_edges(spark, sf_dir), CFG), docs, CFG
    )
    dropped = policy.where(~F.col("is_keeper")).select("doc_id")
    kept_quality = quality_filter(docs).where(F.col("keep")).select("doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .join(dropped, "doc_id", "left_anti")
        .join(kept_quality, "doc_id", "left_semi")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full LSH near-dup pipeline on sf0.001, verified edges."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    result = find_duplicates(docs, CFG)
    return result.edges.select(
        "src", "dst", F.round("jaccard", 6).alias("jaccard")
    ).orderBy(F.col("jaccard").desc(), "src", "dst")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # S11/A6 — counts / cardinality
        "corpus_stats": lambda spark, sf: _docs(spark, sf).agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        ),
        # J7a — exact-duplicate hash layer (sha-256 grouping)
        "exact_dup_hash": lambda spark, sf: with_content_hash(_docs(spark, sf))
        .groupBy("text_sha")
        .agg(F.count("*").alias("total")),
        # J7a rollup — dedup attribution by crawl source (which source
        # feeds the duplicates: redundant docs under corpus-wide
        # keep-first exact dedup, per source)
        "source_dup_stats": lambda spark, sf: source_dup_stats(
            _docs(spark, sf), by="source"
        ),
        # M4 precursor — shingling stats (value-checks the shingle semantics)
        "shingle_stats": lambda spark, sf: shingle_sets(_docs(spark, sf), CFG).select(
            "doc_id", F.size("shingles").alias("num_shingles")
        ),
        # J1/J2 reference semantics — brute-force exact Jaccard pairs
        "ngram_jaccard_pairs": lambda spark, sf: _exact_edges(spark, sf).select(
            "src", "dst", F.round("jaccard", 6).alias("jaccard")
        ),
        # O1/O2 — global top-k closest pairs
        "topk_pairs": lambda spark, sf: _exact_edges(spark, sf)
        .select("src", "dst", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "src", "dst")
        .limit(10),
        # J3 — quantile variant (pairs at/above the median similarity)
        "quantile_pairs": lambda spark, sf: quantile_pairs(
            _exact_edges(spark, sf), 0.5
        ).select("src", "dst", F.round("jaccard", 6).alias("jaccard")),
        # A4 — connected components over the exact edges
        "dup_clusters": lambda spark, sf: connected_components(
            _exact_edges(spark, sf), CFG
        ),
        # A1 — group + collect + having + sort
        "dup_groups": lambda spark, sf: connected_components(
            _exact_edges(spark, sf), CFG
        )
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("members"),
        )
        .where(F.col("total") > 1),
        # A5 — keep-first dedup policy
        "dedup_keep_first": lambda spark, sf: keep_first_policy(
            connected_components(_exact_edges(spark, sf), CFG),
            _docs(spark, sf),
            CFG,
        ),
        # quality-aware keeper variant: keep the LONGEST member (ties →
        # min doc_id) — the standard refinement when near-dups are
        # truncated variants of one page; same window shape as keep-first
        "dedup_keep_best": lambda spark, sf: keep_best_policy(
            connected_components(_exact_edges(spark, sf), CFG),
            _docs(spark, sf),
        ),
        # the materialized end product: docs surviving keep-first dedup
        # AND the composed quality gate — what a training run would read
        "training_corpus": lambda spark, sf: _training_corpus(spark, sf),
        # J4 — anti-join: docs NOT in any duplicate pair (unique docs)
        "unique_docs": lambda spark, sf: _docs(spark, sf)
        .join(
            _exact_edges(spark, sf)
            .select(F.col("src").alias("doc_id"))
            .unionAll(_exact_edges(spark, sf).select(F.col("dst").alias("doc_id")))
            .distinct(),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "lang", "n_chars"),
        # J5 — semi-join: docs that ARE in some duplicate pair
        "duplicated_docs": lambda spark, sf: _docs(spark, sf)
        .join(
            _exact_edges(spark, sf)
            .select(F.col("src").alias("doc_id"))
            .unionAll(_exact_edges(spark, sf).select(F.col("dst").alias("doc_id")))
            .distinct(),
            "doc_id",
            "left_semi",
        )
        .select("doc_id", "lang", "n_chars"),
        # J6 — enrichment lookup join (drop-if-missing via inner joins)
        "enriched_pairs": lambda spark, sf: enrich_pairs(
            _exact_edges(spark, sf).select(
                "src", "dst", F.round("jaccard", 6).alias("jaccard")
            ),
            _docs(spark, sf),
            ["lang", "n_chars"],
        ),
        # M3 — text quality metrics (training-data pipeline op)
        "doc_quality": lambda spark, sf: quality_columns(_docs(spark, sf)),
        # M3 — Gopher-style repetition filters (dup-token / top-token /
        # dup-2-gram ratios)
        "doc_repetition": lambda spark, sf: repetition_stats(_docs(spark, sf)),
        # M3 — the composed training-set gate: first-failing-rule reason
        "quality_filter": lambda spark, sf: quality_filter(_docs(spark, sf)),
        # fingerprinting (portable 1-perm MinHash via md5)
        "doc_fingerprint": lambda spark, sf: doc_fingerprint(_docs(spark, sf)),
        # multimodal plumbing over a binary column (sha/byte metadata)
        "binary_metadata": lambda spark, sf: media_metadata(
            _docs(spark, sf).withColumn("html", F.encode("text", "UTF-8"))
        ).select("doc_id", "n_bytes", "sha256"),
        # embedding brute-force cosine top-k (the closely.solve form)
        "cosine_topk": lambda spark, sf: cosine_topk(_emb(spark, sf), 50),
        # M4 — MinHash/SimHash signatures. Portable by construction
        # (60-bit md5-prefix shingle hashes, functions/shingles.py), so
        # the SimHash VALUES are value-checked against DuckDB.
        "minhash_signatures": lambda spark, sf: compute_signatures(
            _docs(spark, sf), CFG
        ).select("doc_id", "num_shingles", "simhash"),
        # J1 — LSH banding candidates (pure banding path; the oracle
        # replays the 128 multiply-shift permutations + 16-band agreement)
        "lsh_candidates": lambda spark, sf: candidate_pairs(
            compute_signatures(_docs(spark, sf), CFG), CFG
        ),
        # J1+J2 — full scale-path pipeline: LSH → verify
        "lsh_verified_edges": lambda spark, sf: find_duplicates(
            _docs(spark, sf), CFG
        ).edges.select("src", "dst", F.round("jaccard", 6).alias("jaccard")),
        # A4 over the scale path
        "pipeline_clusters": lambda spark, sf: find_duplicates(
            _docs(spark, sf), CFG
        ).clusters,
        # J4 at near-dup level — new-batch-vs-corpus incremental dedup
        # (one band-key equi-join against the maintained signatures; the
        # continuous-crawl workflow). Deterministic split: docs with
        # pmod(doc_id, 4) == 0 arrive as the "new batch".
        "incremental_dedup": lambda spark, sf: incremental_dedup_edges(
            _docs(spark, sf).where(F.pmod("doc_id", F.lit(4)) == 0),
            compute_signatures(
                _docs(spark, sf).where(F.pmod("doc_id", F.lit(4)) != 0), CFG
            ),
            CFG,
        ).select("src", "dst", F.round("jaccard", 6).alias("jaccard")),
        # Tier-dedup attribution: per-tier workload split of the dedup
        # decision (exact tier vs near tier vs keepers) over the full
        # pipeline's clusters
        "dedup_tier_summary": lambda spark, sf: dedup_tier_summary(
            find_duplicates(_docs(spark, sf), CFG).clusters, _docs(spark, sf), CFG
        ),
        # J1b — SimHash Hamming-ball pairs (exactly Hamming ≤ d by the
        # Manku pigeonhole; oracle = all-pairs bit_count over the
        # portable simhash values)
        "simhash_pairs": lambda spark, sf: simhash_candidates(
            compute_signatures(_docs(spark, sf), CFG), CFG
        ),
        # J7b — substring-level duplicates (winnowing + extension verify:
        # EXACT "shares a ≥64-char run" semantics, oracle = brute-force
        # 64-char window self-join)
        "substring_pairs": lambda spark, sf: substring_dup_pairs(
            _docs(spark, sf), min_len=64
        ).select("src", "dst"),
        # J7b with spans: every maximal shared ≥64-char run with its
        # aligned 0-based positions — the boilerplate-removal output
        # (oracle = diagonal-chain grouping of the window self-join)
        "substring_spans": lambda spark, sf: substring_dup_spans(
            _docs(spark, sf), min_len=64
        ),
        # J7b payoff — substring dedup as text surgery (Lee et al.
        # ACL'22 shape): keep-first loser of every maximal run has the
        # occurrence removed, per-doc intervals merged, splice JVM-side
        # (oracle = spans oracle + gaps-and-islands merge + ordered
        # string_agg splice)
        "substring_stripped_corpus": lambda spark, sf: strip_duplicate_spans(
            _docs_with_ts(spark, sf), min_len=64
        ),
        # ANN over embeddings (hyperplane-LSH bucketed, exact re-rank).
        # Quantized Rademacher sketches are exact integer math, so the
        # oracle replays the bucketing and the output value-checks even
        # where banding recall < 1.
        "ann_cosine_pairs": lambda spark, sf: ann_cosine_pairs(
            _emb(spark, sf), threshold=0.4, dim=64, bands=16, bits=8
        ),
        # IVF ANN variant (inverted-file cells, nprobe=2, exact re-rank).
        # Deterministic codebook (lowest-id vectors) + integer-dot
        # assignment make the cells — and hence the output — replayable
        # in the oracle.
        "ivf_cosine_pairs": lambda spark, sf: ivf_cosine_pairs(
            _emb(spark, sf), threshold=0.4, n_cells=16, nprobe=2
        ),
        # semantic dedup end-to-end: CC over the IVF cosine edge set —
        # embedding-space duplicate clusters (min-label ids)
        "semantic_dup_clusters": lambda spark, sf: connected_components(
            ivf_cosine_pairs(_emb(spark, sf), threshold=0.4, n_cells=16, nprobe=2),
            CFG,
        ).select(F.col("doc_id").alias("vec_id"), "cluster_id"),
        # per-query top-k ANN search (IVF probe + exact re-rank + windowed
        # rank): queries = every 10th vector, corpus = all
        "ivf_knn": lambda spark, sf: ivf_knn(
            _emb(spark, sf).where(F.col("vec_id") % 10 == 0),
            _emb(spark, sf),
            k=5,
            n_cells=16,
            nprobe=2,
        ),
        # A2 — same-time group filter over a warc_ts surrogate (null =
        # "Time unknown" sentinel ⇒ keep)
        "same_time_groups": lambda spark, sf: same_time_filter(
            duplicate_groups(
                connected_components(_exact_edges(spark, sf), CFG),
                _docs_with_ts(spark, sf),
            )
        ).select("cluster_id", "total"),
        # O3 — report pagination (reference chunks 25/page; 5/page here so
        # sf0.01 exercises multiple pages)
        "paged_groups": lambda spark, sf: paginate_groups(
            connected_components(_exact_edges(spark, sf), CFG)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("total"))
            .where(F.col("total") > 1),
            page_size=5,
        ).select("cluster_id", "total", "rank", "page"),
        # annotation-patch analog: annotations of deleted dups re-point at
        # the cluster keeper
        "patched_annotations": lambda spark, sf: patch_annotations(
            _docs(spark, sf)
            .where(F.col("doc_id") % 5 == 0)
            .select("doc_id", F.col("lang").alias("label")),
            keep_first_policy(
                connected_components(_exact_edges(spark, sf), CFG),
                _docs(spark, sf),
                CFG,
            ),
        ),
        # event-time tumbling-window aggregation (batch twin of the
        # watermarked streaming agg; window bounds as epoch seconds so the
        # values are timezone-independent)
        "windowed_event_counts": lambda spark, sf: windowed_event_counts(
            spark.read.parquet(f"{sf}/events.parquet")
        ),
        # A7 support — covariance entries (the SQL-checkable half of PCA)
        "embedding_covariance": lambda spark, sf: embedding_covariance(
            _emb(spark, sf), dim=64
        ),
        # ---------------- non-SQL-expressible (rows-only check) ----------
        # A7 — PCA 2-D projection (eigendecomposition is not expressible
        # in SQL; value-checked against numpy in tests/test_pca.py)
        "pca_projection_2d": lambda spark, sf: pca_projection_2d(
            _emb(spark, sf), dim=64
        ),
        # IVF kNN with the Lloyd-TRAINED codebook. Deterministic by
        # integer-sum construction (bit-identical across partitionings,
        # tests/test_operators.py); recall vs exact brute force beats the
        # lowest-id codebook at every nprobe (BENCH/ivf_recall.json).
        # Oracle-checked since round 5: a FIXED Lloyd iteration count is
        # SQL-expressible (one CTE block per iteration — _IVF_KMEANS_KNN)
        "ivf_kmeans_knn": lambda spark, sf: ivf_knn(
            _emb(spark, sf).where(F.col("vec_id") % 10 == 0),
            _emb(spark, sf),
            k=5,
            n_cells=16,
            nprobe=2,
            centroids=ivf_centroids_trained(_emb(spark, sf), 16, n_iters=4),
        ),
        # ---------------- corpus curation (post-dedup assembly) ----------
        # benchmark decontamination: corpus docs sharing any 5-gram
        # shingle with the deterministic eval split (broadcast benchmark
        # grams; one map-side explode + one partial-agg shuffle)
        "decontamination": lambda spark, sf: decontamination_report(
            _docs(spark, sf).where(F.col("doc_id") % EVAL_SPLIT_MOD != 0),
            _docs(spark, sf).where(F.col("doc_id") % EVAL_SPLIT_MOD == 0),
            k=CFG.shingle_size,
            max_shingles=CFG.max_shingles_per_doc,
        ),
        # deterministic per-lang downsampling (pure map, zero shuffles;
        # keep decision a property of the row, not the engine)
        "stratified_sample": lambda spark, sf: stratified_sample(
            _docs(spark, sf), SAMPLE_RATES, SAMPLE_DEFAULT_RATE
        ).select("doc_id", "lang", "source", "n_chars", "sample_key"),
        # per-source token-budget mix via the two-phase distributed
        # prefix sum (NOT Window.partitionBy(source) — that serializes
        # each source through one task at any cluster size)
        "token_budget_mix": lambda spark, sf: token_budget_mix(
            _docs(spark, sf), MIX_BUDGETS, MIX_DEFAULT_BUDGET
        ),
        # segment(line)-level corpus-wide dedup — the CCNet/RefinedWeb
        # boilerplate tier: fixed 10-token windows, keep-first per md5
        # of the window corpus-wide (election = groupBy+min partial agg,
        # NOT a per-key window — hot boilerplate keys reduce map-side)
        "line_dup_stats": lambda spark, sf: line_dup_stats(_docs(spark, sf)),
        "line_deduped_corpus": lambda spark, sf: line_deduped_corpus(
            _docs(spark, sf)
        ),
        # URL canonicalization tier (the crawl-identity analog of the
        # reference's path-normalized _id): pure per-row map, zero
        # shuffles — the value check IS the normalizer spec
        "normalized_urls": lambda spark, sf: _docs(spark, sf).select(
            "doc_id",
            _synth_url_col().alias("url"),
            normalize_url_col(_synth_url_col()).alias("url_norm"),
        ),
        # revisit rollup: snapshots per canonical URL + latest crawl
        # (doc_id as the crawl-order proxy); one partial-agg shuffle
        # the full curation composition (dedup → quality → decontaminate
        # → line-dedup over survivors) — the C4/RefinedWeb assembly line
        # as ONE value-hashed query, text surgery included
        "curated_corpus": lambda spark, sf: curated_corpus(
            _docs(spark, sf).where(F.col("doc_id") % EVAL_SPLIT_MOD != 0),
            _docs(spark, sf).where(F.col("doc_id") % EVAL_SPLIT_MOD == 0),
            connected_components(
                bruteforce_jaccard_pairs(
                    _docs(spark, sf).where(
                        F.col("doc_id") % EVAL_SPLIT_MOD != 0
                    ),
                    CFG,
                    threshold=TAU,
                ),
                CFG,
            ),
            k=CFG.shingle_size,
            max_shingles=CFG.max_shingles_per_doc,
        ),
        "url_revisit_dedup": lambda spark, sf: revisit_stats(
            with_normalized_url(
                _docs(spark, sf).select("doc_id", _synth_url_col().alias("url"))
            ),
            order_col="doc_id",
        ),
        # --- relational breadth over the star-schema tables (broadcast
        # fact⋈dimension joins, partial aggs, keyed windows — the plan
        # shapes are asserted in tests/test_relational.py) ---
        "tpch_pricing_summary": lambda spark, sf: pricing_summary(
            spark.read.parquet(f"{sf}/lineitem.parquet")
        ),
        "tpch_region_revenue": lambda spark, sf: region_revenue(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/customer.parquet"),
            spark.read.parquet(f"{sf}/nation.parquet"),
            spark.read.parquet(f"{sf}/region.parquet"),
        ),
        "tpch_top_customers": lambda spark, sf: top_customers(
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/customer.parquet"),
            spark.read.parquet(f"{sf}/nation.parquet"),
        ),
        "tpch_order_ranks": lambda spark, sf: customer_order_ranks(
            spark.read.parquet(f"{sf}/orders.parquet")
        ),
        "tpch_brand_volume": lambda spark, sf: brand_volume(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/part.parquet"),
        ),
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

# shared SQL fragments — DERIVED from the package's own single-source
# mirrors (functions/shingles.py exports them for exactly this purpose);
# a hand-copied fragment here would silently go stale when tokenization
# or shingling changes in the package
_TOKS = (
    "SELECT doc_id, "
    + DUCKDB_TOKENS_SQL.format(text="text")
    + " AS toks FROM documents"
)
_SHINGLES = f"""
  SELECT doc_id,
    {duckdb_shingles_sql()} AS shingles
  FROM ({_TOKS})
"""
_PAIRS = f"""
  SELECT a.doc_id AS src, b.doc_id AS dst,
         len(list_intersect(a.shingles, b.shingles)) AS n_inter,
         len(a.shingles) AS na, len(b.shingles) AS nb
  FROM ({_SHINGLES}) a JOIN ({_SHINGLES}) b ON a.doc_id < b.doc_id
  WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
"""
_EDGES = f"""
  SELECT src, dst,
         n_inter::DOUBLE / (na + nb - n_inter) AS jaccard
  FROM ({_PAIRS})
  WHERE n_inter::DOUBLE / (na + nb - n_inter) >= {TAU}
"""
# recursive-CTE connected components with min-label = cluster_id
_CLUSTERS = f"""
  WITH RECURSIVE und AS (
    SELECT src AS u, dst AS v FROM ({_EDGES})
    UNION
    SELECT dst AS u, src AS v FROM ({_EDGES})
  ),
  reach(u, v) AS (
    SELECT u, v FROM und
    UNION
    SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u
  )
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
"""

# ---- portable signature fragments (mirror functions/shingles.py +
# functions/signatures.py bit-for-bit; see tests/test_shingles.py
# test_hash_portability_python_jvm_duckdb) ----
_CAP = CFG.max_shingles_per_doc
# 60-bit md5-prefix hash per shingle, distinct + sorted + capped
_HASHED = f"""
  SELECT doc_id,
    list_sort(list_distinct(list_transform(
      shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
    )))[1:{_CAP}] AS hashes
  FROM ({_SHINGLES})
"""
_HX = f"SELECT doc_id, unnest(hashes) AS x FROM ({_HASHED})"

# SimHash: per-bit majority vote over the hash set, packed little-endian
_SIM_BITCNT = ", ".join(
    f"sum((x >> {b}) & 1) AS c{b}" for b in range(CFG.simhash_bits)
)
_SIM_PACK = " + ".join(
    f"(CASE WHEN 2*c{b} >= n THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
    for b in range(CFG.simhash_bits)
)
_SIMHASH = f"""
  SELECT doc_id, n, ({_SIM_PACK}) AS simhash FROM (
    SELECT doc_id, count(*) AS n, {_SIM_BITCNT} FROM ({_HX}) GROUP BY doc_id
  )
"""

# MinHash: 128 multiply-shift permutations (a*x+b mod 2^64), min per doc
_PERM_A, _PERM_B = perm_params_ints(CFG)
_MINS = "SELECT doc_id, " + ", ".join(
    f"min(({a}::HUGEINT * x + {b}) % 18446744073709551616) AS p{i}"
    for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
) + f" FROM ({_HX}) GROUP BY doc_id"
# LSH banding: candidate iff all 8 slots of at least one band agree
_BAND_MATCH = " OR ".join(
    "("
    + " AND ".join(
        f"a.p{j * CFG.lsh_rows + r} = b.p{j * CFG.lsh_rows + r}"
        for r in range(CFG.lsh_rows)
    )
    + ")"
    for j in range(CFG.lsh_bands)
)

# ---- portable ANN fragments (mirror operators/ann.py) ----
# one list literal PER HYPERPLANE, materialized exactly once each in a
# 128-row weights relation (inlining one giant flat literal inside the
# per-element comprehension makes DuckDB rebuild it per element — O(n²))
_WROWS = " UNION ALL ".join(
    "SELECT {j} AS j, [{w}] AS wrow".format(
        j=j + 1, w=",".join(str(int(v)) for v in row)
    )
    for j, row in enumerate(hyperplane_matrix(16, 8, 64, seed=42))
)
_QVEC = (
    "SELECT vec_id, [CAST(floor(embedding[i]*1000000 + 0.5) AS BIGINT) "
    "for i in range(1, 65)] AS qv FROM embeddings"
)
_ANN_BITS = f"""
  SELECT vec_id, j,
    CASE WHEN list_sum([qv[i] * wrow[i] for i in range(1, 65)]) >= 0
         THEN 1 ELSE 0 END AS bit
  FROM ({_QVEC}), ({_WROWS}) w
"""
_ANN_SKETCH = f"""
  SELECT vec_id, (j-1) // 8 AS band, sum(bit << ((j-1) % 8)) AS band_val
  FROM ({_ANN_BITS}) GROUP BY vec_id, band
"""
_COS = """
    list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
              for i in range(1, 65)])
    / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                      for i in range(1, 65)]))
     * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                      for i in range(1, 65)])))
"""

# ---- A2 surrogate timestamps + keeper policy fragments ----
_TS = (
    "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL "
    "ELSE doc_id % 3 END AS ts FROM documents"
)

# brute-force maximal shared ≥64-char runs with aligned spans (the
# substring_spans oracle; also the spans input of the strip oracle):
# a maximal run == a maximal diagonal chain of matching 64-char windows
_SPANS_SQL = """
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, length(text) - 62)) AS i
      FROM documents WHERE length(text) >= 64
    ),
    w AS (SELECT doc_id, i, substr(text, i, 64) AS win FROM pos),
    m AS (
      SELECT a.doc_id AS src, b.doc_id AS dst, a.i AS ia, b.i AS ib
      FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
    ),
    d AS (
      SELECT src, dst, ia, ib, ia - ib AS diag,
             ia - row_number() OVER (PARTITION BY src, dst, ia - ib
                                     ORDER BY ia) AS grp
      FROM m
    )
    SELECT src, dst,
           CAST(min(ia) - 1 AS INT) AS pos_src,
           CAST(min(ib) - 1 AS INT) AS pos_dst,
           CAST(max(ia) - min(ia) + 64 AS INT) AS run_len
    FROM d GROUP BY src, dst, diag, grp
"""

# stopword arrays DERIVED from the package's own lists (text_stats
# STOPWORDS) — one source of truth for engine and oracle
_STOP = {
    lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
    for lang, words in STOPWORDS.items()
}
_HITS = {
    lang: f"len(list_intersect(list_distinct(toks), {arr}))"
    for lang, arr in _STOP.items()
}
_BEST = f"greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']}, {_HITS['es']})"


# replayed IVF pairs (shared by ivf_cosine_pairs + semantic_dup_clusters)
_IVF_PAIRS = f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             [CAST(floor(embedding[i]*1000000 + 0.5) AS BIGINT)
              for i in range(1, 65)] AS qc
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    scores AS (
      SELECT q.vec_id, c.cell,
             list_sum([q.qv[i] * c.qc[i] for i in range(1, 65)]) AS s
      FROM ({_QVEC}) q, cent c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell) AS r
        FROM scores
      ) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT c.src, c.dst, round({_COS}, 6) AS cosine
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.src
    JOIN embeddings b ON b.vec_id = c.dst
    WHERE round({_COS}, 6) >= 0.4
"""


def _trained_cent_ctes(n_iters: int = 4) -> str:
    """CTE chain computing the Lloyd-TRAINED codebook (`cent{n_iters}`)
    — the SQL replay of operators/ivf.py:ivf_centroids_trained. Each
    iteration: integer-dot argmax assignment (ties → lower cell), then
    per-cell per-dim int64 sums with the same round-half-away integer
    mean `floor((2s + n*sign(s)) / (2n))`; empty cells carry the previous
    centroid (LEFT JOIN + COALESCE). Fixed iteration count is equivalent
    to Spark's early-break: a converged codebook is a fixed point of the
    update, so extra iterations are no-ops. The double-precision floor is
    exact here: numerators are exact integers ≤ ~1e11, quotients ≥
    1/(2n) away from the nearest integer unless exactly integral."""
    parts = [
        f"qv AS ({_QVEC})",
        """cent0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 [CAST(floor(embedding[j]*1000000 + 0.5) AS BIGINT)
                  for j in range(1, 65)] AS qc
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
        )""",
    ]
    for t in range(1, n_iters + 1):
        parts.append(f"""scores{t} AS (
          SELECT q.vec_id, c.cell,
                 list_sum([q.qv[j] * c.qc[j] for j in range(1, 65)]) AS s
          FROM qv q, cent{t - 1} c
        ),
        assign{t} AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell) AS r
            FROM scores{t}
          ) WHERE r = 1
        ),
        sums{t} AS (
          SELECT a.cell, r.range AS dim,
                 CAST(sum(q.qv[r.range]) AS BIGINT) AS s,
                 count(*) AS n
          FROM assign{t} a JOIN qv q USING (vec_id)
          CROSS JOIN range(1, 65) r
          GROUP BY 1, 2
        ),
        newc{t} AS (
          SELECT cell,
                 list(CAST(floor((2.0*s + n*sign(s)) / (2.0*n)) AS BIGINT)
                      ORDER BY dim) AS qc
          FROM sums{t} GROUP BY cell
        ),
        cent{t} AS (
          SELECT c.cell, COALESCE(n.qc, c.qc) AS qc
          FROM cent{t - 1} c LEFT JOIN newc{t} n USING (cell)
        )""")
    return ",\n".join(parts)


# replayed TRAINED-codebook IVF kNN (round-4 verdict item 4: flips
# ivf_kmeans_knn from rows-only to hash-checked — Lloyd with a FIXED
# iteration count IS SQL-expressible as a chained CTE per iteration)
_IVF_KMEANS_KNN = f"""
    WITH {_trained_cent_ctes(4)},
    fscores AS (
      SELECT q.vec_id, c.cell,
             list_sum([q.qv[j] * c.qc[j] for j in range(1, 65)]) AS s
      FROM qv q, cent4 c
    ),
    c_assign_all AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell) AS r
        FROM fscores
      ) WHERE r = 1
    ),
    -- mirror ivf_knn's hot-cell bound (max_list_size=4096, keep lowest
    -- vec_ids): without it the oracle keeps candidates the operator
    -- deliberately truncates once any cell exceeds the cap
    c_assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS lr
        FROM c_assign_all
      ) WHERE lr <= 4096
    ),
    q_assign AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell) AS r
        FROM fscores WHERE vec_id % 10 = 0
      ) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT q.q_id, c.vec_id
      FROM q_assign q JOIN c_assign c USING (cell)
      WHERE q.q_id != c.vec_id
    ),
    scored AS (
      SELECT cand.q_id, cand.vec_id, round({_COS}, 6) AS cosine
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.q_id
      JOIN embeddings b ON b.vec_id = cand.vec_id
    )
    SELECT q_id, vec_id, rank, cosine FROM (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


# Gopher-style repetition stats (shared by doc_repetition and
# quality_filter)
_REPETITION = f"""
            WITH t AS ({_TOKS}),
            tc AS (
              SELECT doc_id, tok, count(*) AS c
              FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              GROUP BY 1, 2
            ),
            ts AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                     CAST(max(c) AS BIGINT) AS top_n,
                     count(*) AS n_distinct
              FROM tc GROUP BY 1
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2 THEN
                       [array_to_string(toks[i:i+1], ' ')
                        for i in range(1, len(toks))]
                     ELSE [] END AS g2
              FROM t
            )
            SELECT t.doc_id,
                   COALESCE(ts.n_toks, 0) AS n_tokens,
                   round(CASE WHEN ts.n_toks > 0 THEN
                     1.0 - ts.n_distinct::DOUBLE / ts.n_toks
                     ELSE 0.0 END, 6) AS dup_token_ratio,
                   round(CASE WHEN ts.n_toks > 0 THEN
                     ts.top_n::DOUBLE / ts.n_toks
                     ELSE 0.0 END, 6) AS top_token_ratio,
                   round(CASE WHEN len(g.g2) > 0 THEN
                     1.0 - len(list_distinct(g.g2))::DOUBLE / len(g.g2)
                     ELSE 0.0 END, 6) AS dup_2gram_ratio
            FROM t LEFT JOIN ts ON t.doc_id = ts.doc_id
            JOIN g ON t.doc_id = g.doc_id
        """

# benchmark decontamination over the SAME capped 60-bit shingle hashes
# the signature tier uses (_HASHED); benchmark = the deterministic eval
# split. Shared by the decontamination query and the curated_corpus
# composition.
_DECON = f"""
    WITH h AS ({_HASHED}),
    ev AS (SELECT DISTINCT unnest(hashes) AS g FROM h
           WHERE doc_id % {EVAL_SPLIT_MOD} = 0),
    c AS (SELECT doc_id, hashes FROM h
          WHERE doc_id % {EVAL_SPLIT_MOD} <> 0),
    cx AS (SELECT doc_id, unnest(hashes) AS g FROM c),
    ov AS (SELECT doc_id, count(*) AS n_overlap
           FROM cx JOIN ev USING (g) GROUP BY 1)
    SELECT c.doc_id, len(c.hashes) AS n_shingles, ov.n_overlap,
           round(ov.n_overlap::DOUBLE / len(c.hashes), 6)
             AS contamination
    FROM c JOIN ov USING (doc_id)
"""

# the full curation composition: doc dedup (keep-first over exact-Jaccard
# CC on the TRAIN SPLIT — the eval split is the benchmark, not corpus) →
# quality gate (per-doc, so the all-documents _REPETITION fragment is
# reused and filtered) → decontamination (≥ 0.2) → line dedup over the
# SURVIVORS only (the election runs within the curated set). Mirrors
# operators/curation.curation_stages stage for stage.
_CURATED_TOKS = (
    "SELECT doc_id, "
    + DUCKDB_TOKENS_SQL.format(text="text")
    + " AS toks FROM corpus"
)
_CURATED = f"""
    WITH RECURSIVE corpus AS (
      SELECT * FROM documents WHERE doc_id % {EVAL_SPLIT_MOD} <> 0
    ),
    sh AS (
      SELECT doc_id, {duckdb_shingles_sql()} AS shingles
      FROM ({_CURATED_TOKS})
    ),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst,
             len(list_intersect(a.shingles, b.shingles)) AS n_inter,
             len(a.shingles) AS na, len(b.shingles) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    ),
    edges AS (
      SELECT src, dst FROM pairs
      WHERE n_inter::DOUBLE / (na + nb - n_inter) >= {TAU}
    ),
    und AS (
      SELECT src AS u, dst AS v FROM edges
      UNION
      SELECT dst AS u, src AS v FROM edges
    ),
    reach(u, v) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u
    ),
    clus AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    losers AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               doc_id = min(doc_id) OVER (PARTITION BY cluster_id)
                 AS is_keeper
        FROM clus
      ) WHERE NOT is_keeper
    ),
    rep AS ({_REPETITION}),
    qkept AS (
      SELECT doc_id FROM rep
      WHERE NOT (n_tokens < 15 OR dup_token_ratio > 0.6
                 OR top_token_ratio > 0.25)
    ),
    contam AS (
      SELECT doc_id FROM ({_DECON}) WHERE contamination >= 0.2
    ),
    survivors AS (
      SELECT c.* FROM corpus c
      WHERE c.doc_id NOT IN (SELECT doc_id FROM losers)
        AND c.doc_id IN (SELECT doc_id FROM qkept)
        AND c.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    occ AS ({duckdb_segments_cte(table='survivors')}),
    win AS (
      SELECT seg, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
      FROM occ GROUP BY seg
    ),
    kept AS (
      SELECT o.doc_id, o.pos, o.seg
      FROM occ o JOIN win ON o.seg = win.seg
      WHERE o.doc_id = win.w.doc_id AND o.pos = win.w.pos
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY pos) AS text_curated
      FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, s.lang,
           coalesce(r.text_curated, '') AS text_curated,
           length(coalesce(r.text_curated, '')) AS n_chars_curated
    FROM survivors s LEFT JOIN rebuilt r USING (doc_id)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "corpus_stats": (
            # CAST: DuckDB sum(BIGINT) is HUGEINT and would hash as a
            # float; Spark F.sum(long) is LONG — align the types
            "SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "round(avg(n_chars), 6) AS avg_chars "
            "FROM documents"
        ),
        "exact_dup_hash": (
            "SELECT sha256(text) AS text_sha, count(*) AS total "
            "FROM documents GROUP BY 1"
        ),
        "source_dup_stats": (
            # CAST: DuckDB sum(int) is HUGEINT; Spark F.sum(int) is LONG.
            # sha only for docs the dedup policy considers (non-null,
            # non-whitespace) — empty docs count but are never redundant
            "WITH h AS (SELECT doc_id, source, "
            "CASE WHEN text IS NOT NULL AND trim(text) <> '' "
            "THEN sha256(text) END AS text_sha "
            "FROM documents), "
            "k AS (SELECT text_sha, min(doc_id) AS keeper FROM h GROUP BY 1) "
            "SELECT h.source, count(*) AS n_docs, "
            "CAST(sum(CASE WHEN h.doc_id <> k.keeper THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_dup_docs, "
            "round(sum(CASE WHEN h.doc_id <> k.keeper THEN 1 ELSE 0 END)"
            "::DOUBLE / count(*), 6) AS dup_ratio "
            # LEFT: NULL-text docs (sha NULL) join no keeper and count as
            # not-redundant, but stay in n_docs
            "FROM h LEFT JOIN k USING (text_sha) GROUP BY 1"
        ),
        "shingle_stats": (
            f"SELECT doc_id, len(shingles) AS num_shingles FROM ({_SHINGLES})"
        ),
        "ngram_jaccard_pairs": (
            f"SELECT src, dst, round(jaccard, 6) AS jaccard FROM ({_EDGES})"
        ),
        "topk_pairs": (
            f"SELECT src, dst, round(jaccard, 6) AS jaccard FROM ({_EDGES}) "
            "ORDER BY round(jaccard, 6) DESC, src, dst LIMIT 10"
        ),
        "quantile_pairs": (
            f"SELECT src, dst, round(jaccard, 6) AS jaccard FROM ({_EDGES}) "
            f"WHERE jaccard >= (SELECT quantile_cont(jaccard, 0.5) FROM ({_EDGES}))"
        ),
        "dup_clusters": _CLUSTERS,
        "dup_groups": f"""
            SELECT cluster_id, count(*) AS total,
                   array_to_string(list_sort(list(doc_id)), ',') AS members
            FROM ({_CLUSTERS}) GROUP BY cluster_id HAVING count(*) > 1
        """,
        "dedup_keep_first": f"""
            SELECT doc_id, cluster_id,
                   doc_id = min(doc_id) OVER (PARTITION BY cluster_id) AS is_keeper
            FROM ({_CLUSTERS})
        """,
        "dedup_keep_best": f"""
            SELECT doc_id, cluster_id, rk = 1 AS is_keeper
            FROM (
              SELECT c.doc_id, c.cluster_id,
                     row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC NULLS LAST, c.doc_id ASC
                     ) AS rk
              FROM ({_CLUSTERS}) c JOIN documents d ON c.doc_id = d.doc_id
            )
        """,
        "training_corpus": f"""
            WITH clus AS ({_CLUSTERS}),
            dropped AS (
              SELECT doc_id FROM (
                SELECT doc_id,
                       doc_id = min(doc_id) OVER (PARTITION BY cluster_id)
                         AS is_keeper
                FROM clus
              ) WHERE NOT is_keeper
            ),
            rep AS ({_REPETITION})
            SELECT d.doc_id, d.lang, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
              AND d.doc_id IN (
                SELECT doc_id FROM rep
                WHERE NOT (n_tokens < 15 OR dup_token_ratio > 0.6
                           OR top_token_ratio > 0.25))
        """,
        "unique_docs": f"""
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id NOT IN (
              SELECT src FROM ({_EDGES}) UNION SELECT dst FROM ({_EDGES}))
        """,
        "duplicated_docs": f"""
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id IN (
              SELECT src FROM ({_EDGES}) UNION SELECT dst FROM ({_EDGES}))
        """,
        "enriched_pairs": f"""
            SELECT e.dst, e.src, round(e.jaccard, 6) AS jaccard,
                   s.lang AS src_lang, s.n_chars AS src_n_chars,
                   d.lang AS dst_lang, d.n_chars AS dst_n_chars
            FROM ({_EDGES}) e
            JOIN documents s ON e.src = s.doc_id
            JOIN documents d ON e.dst = d.doc_id
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   -- null text → NULL in BOTH engines (Spark 4 ANSI
                   -- size(NULL)=NULL; DuckDB len(NULL)=NULL) — verified
                   -- by tests/test_text_stats.py null-parity test
                   len(toks) AS n_tokens,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                     AS n_bpe_tokens,
                   round(CASE WHEN len(toks) > 0 THEN
                     list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
                     ELSE 0.0 END, 6) AS avg_token_len,
                   round(CASE WHEN len(toks) > 0 THEN
                     {_HITS['en']}::DOUBLE / len(toks) ELSE 0.0 END, 6)
                     AS stopword_ratio,
                   round(CASE WHEN len(text) > 0 THEN
                     (len(text) - len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                     / len(text) ELSE 0.0 END, 6) AS symbol_ratio,
                   CASE
                     WHEN {_BEST} > 0 AND {_HITS['en']} = {_BEST} THEN 'en'
                     WHEN {_BEST} > 0 AND {_HITS['de']} = {_BEST} THEN 'de'
                     WHEN {_BEST} > 0 AND {_HITS['fr']} = {_BEST} THEN 'fr'
                     WHEN {_BEST} > 0 AND {_HITS['es']} = {_BEST} THEN 'es'
                     ELSE 'und'
                   END AS lang_pred
            FROM ({_TOKS}) t JOIN documents USING (doc_id)
        """,
        "doc_repetition": _REPETITION,
        "quality_filter": f"""
            WITH rep AS ({_REPETITION})
            SELECT doc_id,
                   CASE
                     WHEN n_tokens < 15 THEN 'too_short'
                     WHEN dup_token_ratio > 0.6 THEN 'repetitive_tokens'
                     WHEN top_token_ratio > 0.25 THEN 'dominant_token'
                     ELSE 'keep'
                   END AS reason,
                   (CASE
                     WHEN n_tokens < 15 THEN 'too_short'
                     WHEN dup_token_ratio > 0.6 THEN 'repetitive_tokens'
                     WHEN top_token_ratio > 0.25 THEN 'dominant_token'
                     ELSE 'keep'
                   END = 'keep') AS keep
            FROM rep
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   CASE WHEN len(shingles) > 0 THEN
                     list_sort(list_transform(shingles, s -> md5(s)))[1]
                   END AS fingerprint,
                   len(shingles) AS num_shingles
            FROM ({_SHINGLES})
        """,
        # media_metadata maps a NULL payload to b'' (n_bytes=0, sha of
        # empty) — coalesce mirrors that; bare strlen/sha256 give NULLs
        "binary_metadata": (
            "SELECT doc_id, strlen(coalesce(text, ''))::INT AS n_bytes, "
            "sha256(coalesce(text, '')) AS sha256 FROM documents"
        ),
        # The scale path runs LSH∪SimHash on ONE representative per
        # distinct text (cfg.exact_first) and unions the exact-hash star
        # edges, so its edge set is: rep-level verified pairs + star
        # edges. Rep-level recall is 1.0 on this corpus (every planted
        # pair has jaccard ≥ 0.875, far above the b=16/r=8 S-curve knee)
        # and precision 1.0 by construction, so the output provably
        # equals this replayed oracle — value-checked, not rows-only.
        "lsh_verified_edges": f"""
            WITH nonempty AS (
              SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND trim(text) != ''
            ),
            grp AS (
              SELECT md5(text) AS k, min(doc_id) AS rep
              FROM nonempty GROUP BY 1
            )
            SELECT src, dst, round(jaccard, 6) AS jaccard FROM ({_EDGES})
            WHERE src IN (SELECT rep FROM grp)
              AND dst IN (SELECT rep FROM grp)
            UNION ALL
            SELECT g.rep AS src, d.doc_id AS dst, 1.0 AS jaccard
            FROM nonempty d JOIN grp g
              ON md5(d.text) = g.k AND d.doc_id > g.rep
        """,
        "pipeline_clusters": _CLUSTERS,
        # portable-signature oracles: replay MinHash/SimHash bit-for-bit
        "minhash_signatures": f"""
            SELECT h.doc_id, len(h.hashes) AS num_shingles,
                   coalesce(s.simhash, 0) AS simhash
            FROM ({_HASHED}) h LEFT JOIN ({_SIMHASH}) s USING (doc_id)
        """,
        # cross-set brute-force jaccard: new batch (pmod 4 == 0) vs rest.
        # LSH band agreement captures every pair here (all planted pairs
        # have jaccard ≥ 0.875 — the lsh_verified_edges argument).
        "incremental_dedup": f"""
            SELECT src, dst, round(jaccard, 6) AS jaccard FROM (
              SELECT a.doc_id AS src, b.doc_id AS dst,
                     len(list_intersect(a.shingles, b.shingles))::DOUBLE
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles))) AS jaccard
              FROM ({_SHINGLES}) a JOIN ({_SHINGLES}) b
                ON ((a.doc_id % 4) + 4) % 4 = 0
               AND ((b.doc_id % 4) + 4) % 4 != 0
              WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
            ) WHERE jaccard >= {TAU}
        """,
        "dedup_tier_summary": f"""
            WITH cl AS ({_CLUSTERS}),
            keep AS (SELECT cluster_id, min(doc_id) AS keeper
                     FROM cl GROUP BY 1),
            sha AS (SELECT doc_id,
                           min(doc_id) OVER (PARTITION BY md5(text)) AS sha_min
                    FROM documents)
            SELECT tier, count(*) AS n_docs FROM (
              SELECT CASE WHEN c.doc_id = k.keeper THEN 'keeper'
                          WHEN s.sha_min < c.doc_id THEN 'exact'
                          ELSE 'near' END AS tier
              FROM cl c JOIN keep k USING (cluster_id)
              JOIN sha s USING (doc_id)
            ) GROUP BY tier
        """,
        "simhash_pairs": f"""
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   bit_count(xor(a.simhash, b.simhash))::INT AS hamming
            FROM ({_SIMHASH}) a JOIN ({_SIMHASH}) b ON a.doc_id < b.doc_id
            WHERE a.n > 0 AND b.n > 0
              AND bit_count(xor(a.simhash, b.simhash))
                  <= {CFG.simhash_max_hamming}
        """,
        # VALIDITY BOUNDARY (applies to lsh_candidates, simhash_pairs,
        # ann_cosine_pairs, ivf_cosine_pairs/semantic_dup_clusters,
        # substring_pairs/spans): the operators salt-split + truncate
        # buckets past their caps (max_bucket_size=200 / 4096 /
        # max_docs_per_window=1000) via bucket_pairs — a recall bound the
        # oracles deliberately do NOT mirror, because the salt is
        # xxhash64 (not reproducible in DuckDB). The mirrors are exact
        # while no bucket exceeds its cap — guaranteed at the driver's
        # sf0.01/sf0.1 corpora (largest identical-text group = 2) and
        # asserted by the operators' own truncation metrics; the capped
        # regime is value-tested separately (tests/test_operators.py
        # bucket-cap tests + the viral-bucket/flood soaks).
        "lsh_candidates": f"""
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM ({_MINS}) a JOIN ({_MINS}) b
              ON a.doc_id < b.doc_id AND ({_BAND_MATCH})
        """,
        # brute-force 64-char window self-join == "shares a ≥64-char run"
        "substring_pairs": """
            WITH w AS (
              SELECT doc_id,
                     unnest([substr(text, i, 64)
                             for i in range(1, length(text) - 62)]) AS win
              FROM documents WHERE length(text) >= 64
            )
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        # maximal shared runs with spans: a maximal run == a maximal
        # diagonal chain (consecutive ia at fixed ia-ib) of matching
        # 64-char windows; islands via the ia - row_number() trick
        "substring_spans": _SPANS_SQL,
        # substring dedup as text surgery (Lee et al. ACL'22 shape): the
        # keep-first loser of every maximal run has the occurrence cut;
        # interval merge replayed as gaps-and-islands, the splice as an
        # ordered string_agg of kept segments + tail
        "substring_stripped_corpus": f"""
            WITH spans AS ({_SPANS_SQL}),
            prio AS (
              SELECT doc_id, CASE WHEN ts IS NULL THEN 1 ELSE 0 END AS nn,
                     coalesce(ts, 0) AS tsv
              FROM ({_TS})
            ),
            cuts AS (
              SELECT CASE WHEN (ps.nn, ps.tsv, s.src) < (pd.nn, pd.tsv, s.dst)
                          THEN s.dst ELSE s.src END AS doc_id,
                     CASE WHEN (ps.nn, ps.tsv, s.src) < (pd.nn, pd.tsv, s.dst)
                          THEN s.pos_dst ELSE s.pos_src END AS s,
                     CASE WHEN (ps.nn, ps.tsv, s.src) < (pd.nn, pd.tsv, s.dst)
                          THEN s.pos_dst ELSE s.pos_src END + s.run_len AS e
              FROM spans s
              JOIN prio ps ON ps.doc_id = s.src
              JOIN prio pd ON pd.doc_id = s.dst
            ),
            ord_ AS (
              SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pm
              FROM cuts
            ),
            isl AS (
              SELECT doc_id, s, e,
                     sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e) AS g
              FROM ord_
            ),
            mrg AS (
              SELECT doc_id, min(s) AS s, max(e) AS e
              FROM isl GROUP BY doc_id, g
            ),
            seg AS (
              SELECT doc_id, s, e,
                     lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s)
                       AS prev_e
              FROM mrg
            ),
            agg AS (
              SELECT seg.doc_id,
                     string_agg(substr(d.text, seg.prev_e + 1,
                                       seg.s - seg.prev_e),
                                '' ORDER BY seg.s) AS head,
                     max(seg.e) AS last_e,
                     count(*) AS n_spans,
                     sum(seg.e - seg.s) AS n_chars
              FROM seg JOIN documents d USING (doc_id)
              GROUP BY seg.doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN a.doc_id IS NULL THEN d.text
                        ELSE a.head || substr(d.text, a.last_e + 1) END
                     AS text,
                   CAST(coalesce(a.n_spans, 0) AS INT) AS n_spans_removed,
                   CAST(coalesce(a.n_chars, 0) AS INT) AS n_chars_removed
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        # replayed hyperplane buckets + exact cosine re-rank
        "ann_cosine_pairs": f"""
            WITH cand AS (
              SELECT DISTINCT s1.vec_id AS src, s2.vec_id AS dst
              FROM ({_ANN_SKETCH}) s1 JOIN ({_ANN_SKETCH}) s2
                ON s1.band = s2.band AND s1.band_val = s2.band_val
               AND s1.vec_id < s2.vec_id
            )
            SELECT c.src, c.dst, round({_COS}, 6) AS cosine
            FROM cand c
            JOIN embeddings a ON a.vec_id = c.src
            JOIN embeddings b ON b.vec_id = c.dst
            WHERE round({_COS}, 6) >= 0.4
        """,
        # replayed IVF: codebook = 16 lowest-id vectors, integer-dot
        # assignment to top-2 cells, co-cell pairs, exact cosine re-rank
        "ivf_cosine_pairs": _IVF_PAIRS,
        # semantic (embedding-space) dedup end-to-end: connected
        # components over the IVF cosine edges — min-label clusters
        # replayed with a recursive CTE over the same replayed edges
        "semantic_dup_clusters": f"""
            WITH RECURSIVE ivf_e AS ({_IVF_PAIRS}),
            und AS (
              SELECT src AS u, dst AS v FROM ivf_e
              UNION
              SELECT dst AS u, src AS v FROM ivf_e
            ),
            reach(u, v) AS (
              SELECT u, v FROM und
              UNION
              SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u
            )
            SELECT u AS vec_id, least(u, min(v)) AS cluster_id
            FROM reach GROUP BY u
        """,
        # replayed IVF kNN: corpus in 1 cell each, queries probe 2 cells,
        # exact cosine re-rank, row_number <= 5 per query
        "ivf_knn": f"""
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     [CAST(floor(embedding[i]*1000000 + 0.5) AS BIGINT)
                      for i in range(1, 65)] AS qc
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ),
            scores AS (
              SELECT q.vec_id, c.cell,
                     list_sum([q.qv[i] * c.qc[i] for i in range(1, 65)]) AS s
              FROM ({_QVEC}) q, cent c
            ),
            c_assign_all AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell) AS r
                FROM scores
              ) WHERE r = 1
            ),
            -- mirror ivf_knn's hot-cell bound (max_list_size=4096, keep
            -- lowest vec_ids) — same mirror _IVF_KMEANS_KNN carries;
            -- without it the oracle keeps candidates the operator
            -- deliberately truncates once any cell exceeds the cap
            c_assign AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY cell
                                          ORDER BY vec_id) AS lr
                FROM c_assign_all
              ) WHERE lr <= 4096
            ),
            q_assign AS (
              SELECT vec_id AS q_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell) AS r
                FROM scores WHERE vec_id % 10 = 0
              ) WHERE r <= 2
            ),
            cand AS (
              SELECT DISTINCT q.q_id, c.vec_id
              FROM q_assign q JOIN c_assign c USING (cell)
              WHERE q.q_id != c.vec_id
            ),
            scored AS (
              SELECT cand.q_id, cand.vec_id, round({_COS}, 6) AS cosine
              FROM cand
              JOIN embeddings a ON a.vec_id = cand.q_id
              JOIN embeddings b ON b.vec_id = cand.vec_id
            )
            SELECT q_id, vec_id, rank, cosine FROM (
              SELECT q_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # replayed TRAINED-codebook IVF kNN (4 Lloyd iterations as
        # chained CTEs — see _trained_cent_ctes)
        "ivf_kmeans_knn": _IVF_KMEANS_KNN,
        # benchmark decontamination over the SAME capped 60-bit shingle
        # hashes the signature tier uses (_HASHED); benchmark = the
        # deterministic eval split
        "decontamination": _DECON,
        # the staged composition (see _CURATED): dedup → quality →
        # decontaminate → line-dedup over survivors, value-hashed down
        # to the rewritten text
        "curated_corpus": _CURATED,
        "stratified_sample": f"""
            SELECT doc_id, lang, source, n_chars,
                   {sample_key_sql()} AS sample_key
            FROM documents
            WHERE {sample_key_sql()} < {_rate_case_sql()}
        """,
        "token_budget_mix": f"""
            WITH t AS (
              SELECT d.doc_id, d.source,
                     coalesce(len(tk.toks), 0) AS n_tokens,
                     {sample_key_sql("d.doc_id")} AS k
              FROM documents d JOIN ({_TOKS}) tk USING (doc_id)
            )
            SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
            FROM (
              SELECT *, SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY k, doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
              FROM t
            ) WHERE cum <= {_budget_case_sql()}
        """,
        # segment(line)-level dedup: the segmentation CTE is GENERATED by
        # the operator module (duckdb_segments_cte) from the same window
        # spec the Spark side runs — keep-first election + per-doc rollup
        # replayed relationally
        "line_dup_stats": f"""
            WITH occ AS ({duckdb_segments_cte()}),
            win AS (
              SELECT seg, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
              FROM occ GROUP BY seg
            ),
            marked AS (
              SELECT o.doc_id,
                     CASE WHEN o.doc_id = win.w.doc_id
                           AND o.pos = win.w.pos
                          THEN 0 ELSE 1 END AS is_dup
              FROM occ o JOIN win ON o.seg = win.seg
            ),
            per_doc AS (
              SELECT doc_id, count(*) AS n_segments,
                     sum(is_dup) AS n_dup_segments
              FROM marked GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(p.n_segments, 0) AS n_segments,
                   coalesce(p.n_dup_segments, 0) AS n_dup_segments,
                   round(p.n_dup_segments::DOUBLE / p.n_segments, 6)
                     AS dup_segment_ratio
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "line_deduped_corpus": f"""
            WITH occ AS ({duckdb_segments_cte()}),
            win AS (
              SELECT seg, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
              FROM occ GROUP BY seg
            ),
            kept AS (
              SELECT o.doc_id, o.pos, o.seg
              FROM occ o JOIN win ON o.seg = win.seg
              WHERE o.doc_id = win.w.doc_id AND o.pos = win.w.pos
            ),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(seg, ' ' ORDER BY pos) AS text_deduped,
                     count(*) AS n_segments_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(r.text_deduped, '') AS text_deduped,
                   coalesce(r.n_segments_kept, 0) AS n_segments_kept
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        # URL canonicalization: the messy synthetic url (shared fragment
        # _SYNTH_URL_SQL) pushed through the module-generated normalizer
        # mirror — the value hash checks the normalizer spec itself
        "normalized_urls": f"""
            SELECT doc_id, url,
                   {duckdb_normalize_url_sql("url")} AS url_norm
            FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
        """,
        "url_revisit_dedup": f"""
            SELECT url_norm, count(*) AS n_snapshots, max(doc_id) AS latest
            FROM (
              SELECT doc_id,
                     {duckdb_normalize_url_sql("url")} AS url_norm
              FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
            ) GROUP BY url_norm
        """,
        # mirror duplicate_groups' max_members item cap: the Spark filter
        # inspects only the first 1000 members by keeper rank (warc_ts
        # asc NULLS LAST, doc_id asc) while `total` stays the true count —
        # an uncapped oracle diverges once a cluster exceeds the cap
        "same_time_groups": f"""
            WITH members AS (
              SELECT c.cluster_id, t.ts,
                     row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY t.ts ASC NULLS LAST, t.doc_id ASC
                     ) AS rk,
                     count(*) OVER (PARTITION BY c.cluster_id) AS total
              FROM ({_CLUSTERS}) c JOIN ({_TS}) t USING (doc_id)
            )
            SELECT cluster_id, total FROM (
              SELECT cluster_id, max(total) AS total,
                     count(DISTINCT ts) AS n_known,
                     sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS n_null
              FROM members WHERE rk <= 1000
              GROUP BY cluster_id HAVING max(total) > 1
            ) WHERE n_null > 0 OR n_known <= 1
        """,
        "paged_groups": f"""
            SELECT cluster_id, total, rank,
                   CAST(floor((rank - 1) / 5.0) AS BIGINT) + 1 AS page
            FROM (
              SELECT cluster_id, total,
                     row_number() OVER (ORDER BY total DESC, cluster_id) AS rank
              FROM (
                SELECT cluster_id, count(*) AS total FROM ({_CLUSTERS})
                GROUP BY cluster_id HAVING count(*) > 1
              )
            )
        """,
        "patched_annotations": f"""
            WITH keep AS (
              SELECT doc_id, cluster_id,
                     doc_id = min(doc_id) OVER (PARTITION BY cluster_id)
                       AS is_keeper
              FROM ({_CLUSTERS})
            ),
            keepers AS (
              SELECT cluster_id, doc_id AS keeper_id FROM keep WHERE is_keeper
            ),
            remap AS (
              SELECT k.doc_id, kp.keeper_id
              FROM keep k JOIN keepers kp USING (cluster_id)
            ),
            ann AS (
              SELECT doc_id, lang AS label FROM documents WHERE doc_id % 5 = 0
            )
            SELECT DISTINCT coalesce(r.keeper_id, a.doc_id) AS doc_id, a.label
            FROM ann a LEFT JOIN remap r USING (doc_id)
        """,
        "windowed_event_counts": """
            SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                     AS win_start,
                   event_type, count(*) AS n,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        # exact decimal sums cast to double at the end — bit-identical to
        # the Spark side at any parallelism (see simages_spark/relational.py)
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(3,2))
                               - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                     AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         / count(*), 6) AS avg_qty,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)
                         / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_region_revenue": """
            SELECT r.r_name, n.n_name,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(3,2))
                               - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY r.r_name, n.n_name
        """,
        "tpch_top_customers": """
            SELECT c.c_custkey AS custkey, c.c_name AS name,
                   n.n_name AS nation, t.total_spent, t.n_orders
            FROM (
              SELECT o_custkey,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_spent,
                     count(*) AS n_orders
              FROM orders GROUP BY o_custkey
            ) t
            JOIN customer c ON t.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            ORDER BY t.total_spent DESC, custkey LIMIT 10
        """,
        "tpch_order_ranks": """
            SELECT custkey, orderkey, totalprice, rnk FROM (
              SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                     o_totalprice AS totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC,
                                                 o_orderkey ASC) AS rnk
              FROM orders
            ) WHERE rnk <= 3
        """,
        "tpch_brand_volume": """
            SELECT p.p_brand,
                   CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price,
                   count(*) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        """,
        "embedding_covariance": """
            SELECT i, j, round(covar_pop(a, b), 6) AS cov FROM (
              SELECT ti.i, tj.j,
                     e.embedding[ti.i]::DOUBLE AS a,
                     e.embedding[tj.j]::DOUBLE AS b
              FROM embeddings e, range(1, 65) ti(i), range(1, 65) tj(j)
              WHERE tj.j >= ti.i
            ) GROUP BY i, j
        """,
        "cosine_topk": """
            WITH p AS (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                round(
                  list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                            for i in range(1, 65)])
                  / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                                    for i in range(1, 65)]))
                   * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                    for i in range(1, 65)]))), 6) AS cosine
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            )
            SELECT src, dst, cosine FROM p ORDER BY cosine DESC, src, dst LIMIT 50
        """,
    }
