"""Similarity search over dense embedding vectors.

The reference's original vector form: top-k closest pairs over an N×z
embedding matrix (`closely.solve`, reference: src/simages/extractor.py:321-342,
cosine metric reference: src/simages/main.py:222). Two paths:

* brute-force exact cosine — JVM `zip_with`/`aggregate` dot products,
  sequential left-fold so the float math is bit-identical to the DuckDB
  oracle's list_sum. Quadratic: baseline + oracle only.
* random-hyperplane LSH — the scale path: 8-bit-per-band sign-sketch
  buckets, candidates within a bucket, exact re-rank. Hyperplanes are
  Rademacher ±1 vectors derived from md5 (driver-side, deterministic),
  applied to embeddings quantized to integers (floor(v·10⁶ + 0.5)) —
  the sign computation is exact integer math, so the DuckDB oracle can
  replicate the buckets (and hence the full ANN output) bit-for-bit.
  Sketching runs as an Arrow `mapInPandas` matrix multiply (one BLAS
  GEMM per batch), never per-row Python.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_sim_col(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def bruteforce_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (src<dst) pairs with cosine ≥ threshold — exact, O(N²)."""
    left = embeddings.select(
        F.col(id_col).alias("src"), F.col(vec_col).alias("v_src")
    )
    right = embeddings.select(
        F.col(id_col).alias("dst"), F.col(vec_col).alias("v_dst")
    )
    return (
        left.crossJoin(right)
        .where(F.col("src") < F.col("dst"))
        .withColumn("cosine", F.round(cosine_sim_col(F.col("v_src"), F.col("v_dst")), 6))
        .where(F.col("cosine") >= threshold)
        .select("src", "dst", "cosine")
    )


def cosine_topk(
    embeddings: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Global top-k closest pairs (TakeOrderedAndProject, no full sort)."""
    pairs = bruteforce_cosine_pairs(embeddings, -1.0, id_col, vec_col)
    return pairs.orderBy(F.col("cosine").desc(), "src", "dst").limit(k)


QUANT_SCALE = 1_000_000  # embedding quantization for exact sign math


def hyperplane_matrix(
    bands: int, bits_per_band: int, dim: int, seed: int = 42
) -> np.ndarray:
    """(bands*bits, dim) Rademacher ±1 hyperplanes from md5 — deterministic
    and trivially portable (the same ints are inlined into the oracle SQL).
    Rademacher projections preserve the sign-sketch LSH property (the
    collision probability stays monotone in the angle)."""
    rows = bands * bits_per_band
    w = np.empty((rows, dim), dtype=np.int64)
    for j in range(rows):
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
            w[j, i] = 1 if int(h[0], 16) % 2 == 0 else -1
    return w


def quantize(vec: np.ndarray) -> np.ndarray:
    """floor(v·10⁶ + 0.5) as int64 — identical in numpy and SQL, unlike
    round() (numpy is half-even, SQL is half-away)."""
    return np.floor(vec.astype(np.float64) * QUANT_SCALE + 0.5).astype(np.int64)


def hyperplane_sketches(
    embeddings: DataFrame,
    dim: int,
    bands: int = 16,
    bits_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band, band_val) — OR-amplified random-hyperplane LSH.

    Each band is the sign pattern of `bits_per_band` hyperplanes
    (sketch-agreement prob per bit: 1-θ/π); a pair is a candidate if ANY
    band matches — the cosine analog of MinHash banding. Per-batch work
    is one integer GEMM (quantized embeddings × ±1 matrix) in the Arrow
    UDF; signs are exact integer comparisons, reproducible anywhere.
    """
    w = hyperplane_matrix(bands, bits_per_band, dim, seed)
    shifts = np.arange(bits_per_band, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack([quantize(np.asarray(v)) for v in pdf[vec_col]])
            bits = (q @ w.T >= 0).astype(np.int64)  # (n, bands*bits)
            vals = (bits.reshape(len(pdf), bands, bits_per_band) << shifts).sum(
                axis=2
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "band_vals": list(vals),
                }
            )

    sketched = embeddings.select(id_col, vec_col).mapInPandas(
        run, schema="vec_id long, band_vals array<long>"
    )
    return sketched.select(
        "vec_id", F.posexplode("band_vals").alias("band", "band_val")
    )


def ann_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    bands: int = 16,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 4096,
    bucket_salt: int = 8,
) -> DataFrame:
    """Approximate near-neighbor pairs: banded hyperplane-LSH candidates,
    exact cosine re-rank. The scale path for 10^9+ vectors — a bucket
    equi-join on (band, band_val) instead of a cross join; exact re-rank
    keeps precision 1.0, recall set by the band S-curve. Hot sketch
    buckets (duplicated embeddings, degenerate directions) get the same
    absolute bound as every other bucketed path here: salt-split +
    per-salt-class truncation above `max_bucket_size` via `bucket_pairs`
    — never quadratic, identical output below the cap."""
    from simages_spark.operators.buckets import bucket_pairs

    sk = hyperplane_sketches(embeddings, dim, bands, bits, seed, id_col, vec_col)
    cands = bucket_pairs(
        sk,
        ["band", "band_val"],
        "vec_id",
        cap=max_bucket_size,
        nsalt=bucket_salt,
    ).selectExpr("a AS src", "b AS dst")
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    return (
        cands.join(base.select(F.col("vec_id").alias("src"), F.col("vec").alias("v_src")), "src")
        .join(base.select(F.col("vec_id").alias("dst"), F.col("vec").alias("v_dst")), "dst")
        .withColumn("cosine", F.round(cosine_sim_col(F.col("v_src"), F.col("v_dst")), 6))
        .where(F.col("cosine") >= threshold)
        .select("src", "dst", "cosine")
    )
