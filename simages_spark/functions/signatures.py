"""MinHash / SimHash signature computation (vectorized Arrow UDFs).

Replaces the reference's autoencoder embedding stage
(reference: src/simages/extractor.py:277-319 `eval`, producing the N×z
float matrix) with deterministic 128-perm MinHash + 60-bit SimHash
signatures per BASELINE.json. The whole stage — tokenize, shingle, md5
hash, MinHash, SimHash — runs in ONE `mapInPandas` pass over Arrow
batches, the Spark analog of the reference's batched tensor path
(reference: src/simages/extractor.py:285-298, batch_size=32).

Why Python and not the JVM expression (`shingle_hash_col`): Spark's
higher-order array functions (transform/slice/concat_ws/conv) are
*interpreted per element*, outside whole-stage codegen — measured 5×
slower than this Arrow-batched path with C-speed hashlib md5
(13.6s vs 2.8s at 200k docs, identical outputs; BENCH/BASELINE.md,
from the retired tools/bench_sig_paths.py, last at 583afd2). The JVM
expression is kept for the oracle-parity checks.

Portability: shingle hashes are 60-bit md5 prefixes (functions/shingles.py),
so MinHash (h_i(x) = (a_i*x + b_i) mod 2^64, a_i odd) and SimHash
(per-bit majority vote) are reproducible bit-for-bit in DuckDB SQL —
the driver's oracle value-checks signature values, not just row counts.

Per-doc payload cap: docs with more than `cfg.max_shingles_per_doc`
distinct shingles keep the smallest hashes (deterministic under the
sorted array). NEVER silent: `num_shingles_raw` rides along in the
schema, `signature_metrics` aggregates how many docs were truncated,
and the CLI surfaces it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig
from simages_spark.functions.shingles import hash_shingles, shingle_strings

SIGNATURE_SCHEMA = (
    "doc_id long, minhash array<long>, simhash long, "
    "num_shingles int, num_shingles_raw int, shingle_hashes array<long>"
)

_EMPTY_SENTINEL = np.int64(2**63 - 1)


def perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded multiply-shift permutation params (a odd, uint64)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def perm_params_ints(cfg: DedupConfig) -> tuple[list[int], list[int]]:
    """The same params as plain ints — inlined into the DuckDB oracle SQL."""
    a, b = perm_params(cfg.num_perm, cfg.seed)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_of_hashes(h: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """128-slot MinHash of a uint64 hash set; vectorized (P, m) outer product."""
    if h.size == 0:
        return np.full(a.shape[0], _EMPTY_SENTINEL, dtype=np.int64)
    # uint64 arithmetic wraps mod 2^64 (numpy unsigned overflow semantics);
    # DuckDB mirror: (a::HUGEINT * x + b) % 2^64
    hv = a[:, None] * h[None, :] + b[:, None]
    return hv.min(axis=1).view(np.int64)


def simhash_of_hashes(h: np.ndarray, bits: int = 60) -> int:
    """SimHash: majority vote per bit over the shingle-hash set.

    With 60-bit inputs the packed value is always non-negative — it
    round-trips through Spark long / DuckDB BIGINT without sign games.
    """
    if h.size == 0:
        return 0
    bit_matrix = (h[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = bit_matrix.sum(axis=0, dtype=np.int64) * 2 - np.int64(h.size)
    packed = 0
    for bit in np.nonzero(votes >= 0)[0]:
        packed |= 1 << int(bit)
    return packed


def signatures_pdf(
    pdf: pd.DataFrame, cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> pd.DataFrame:
    """One Arrow batch: (doc_id, shingle_hashes, num_shingles_raw) →
    full signature rows. Hash arrays arrive pre-capped and sorted.

    The per-doc loop is deliberate: the (num_perm × m) outer product per
    doc stays in cache and a `ufunc.reduceat`-batched variant measured
    ~8× SLOWER (reduceat is a scalar C loop, not SIMD) — see
    OPTIMIZATION_r06.md."""
    minhashes: list[np.ndarray] = []
    simhashes: list[int] = []
    for hashes in pdf["shingle_hashes"]:
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        minhashes.append(minhash_of_hashes(h, a, b))
        simhashes.append(simhash_of_hashes(h, cfg.simhash_bits))
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype("int64"),
            "minhash": minhashes,
            "simhash": pd.Series(simhashes, dtype="int64"),
            "num_shingles": pdf["shingle_hashes"].map(len).astype("int32"),
            "num_shingles_raw": pdf["num_shingles_raw"].astype("int32"),
            "shingle_hashes": list(pdf["shingle_hashes"]),
        }
    )


def compute_signatures(df, cfg: DedupConfig | None = None):
    """documents(doc_id, text, ...) → signatures DataFrame.

    Analog of `EmbeddingExtractor.eval` (reference: src/simages/extractor.py:277-319):
    the full-corpus signature pass. `shingle_hashes` carries the distinct
    hashed shingle set for the exact-Jaccard verify join so verification
    never re-reads `text`. Null/whitespace-only text → empty doc
    (malformed-row tolerance, SURVEY.md §2.1 S3: drop-don't-fail).
    """
    cfg = cfg or DedupConfig()
    a, b = perm_params(cfg.num_perm, cfg.seed)
    cap = cfg.max_shingles_per_doc
    k = cfg.shingle_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from simages_spark.functions.shingles import hash_shingle_lists

        for pdf in batches:
            if not len(pdf):
                continue
            # distinct sorted 60-bit md5 hashes per doc (batched digest
            # conversion); cap keeps the smallest (deterministic), raw
            # count surfaces truncation
            distinct = hash_shingle_lists(
                [shingle_strings(t, k) for t in pdf["text"].fillna("")]
            )
            inner = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "shingle_hashes": [h[:cap].astype(np.int64) for h in distinct],
                    "num_shingles_raw": pd.Series(
                        [len(h) for h in distinct], dtype="int32"
                    ),
                }
            )
            yield signatures_pdf(inner, cfg, a, b)

    return df.select("doc_id", "text").mapInPandas(run, schema=SIGNATURE_SCHEMA)


def signature_metrics(signatures: DataFrame) -> DataFrame:
    """Per-corpus signature health — surfaces the shingle cap (never
    silent): how many docs exceeded `max_shingles_per_doc` and by how
    much, plus empty-doc counts."""
    return signatures.agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("num_shingles_raw") > F.col("num_shingles"), 1).otherwise(0)
        ).alias("n_truncated_docs"),
        F.max("num_shingles_raw").alias("max_shingles_raw"),
        F.sum(F.when(F.col("num_shingles") == 0, 1).otherwise(0)).alias(
            "n_empty_docs"
        ),
    )
