"""LSH banding + within-bucket candidate-pair expansion.

Decomposes the reference's O(N²) all-pairs similarity join
(reference: src/simages/extractor.py:321-342 `duplicates` / closely.solve)
into the scalable LSH plan from SURVEY.md §2.3 J1:

    minhash[128] → 16 band keys (xxhash64 over 8-slot slices, JVM-side)
    → explode → shuffle on (band, band_key) → within-bucket src<dst pairs

Skew handling (north_rule): bucket sizes are counted first; buckets above
`cfg.max_bucket_size` (boilerplate-heavy pages) would expand quadratically,
so oversized buckets are deterministically thinned — each doc is salted
into `cfg.bucket_salt` sub-buckets by xxhash64(doc_id) and pairs only form
within a sub-bucket. Bounded recall loss, *never silent*: `lsh_metrics`
reports how many buckets were split and the largest bucket seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig


def band_keys(
    signatures: DataFrame,
    cfg: DedupConfig | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """signatures → exploded (doc_id, band, band_key[, *extra_cols]).

    Band keys are computed entirely JVM-side: xxhash64 over the band id and
    the 8-slot minhash slice (xxhash64 natively hashes array columns), so
    the only Python in the whole candidate path is the signature UDF. The
    band array is one SQL string, parsed by the JVM in one call.
    Empty docs (num_shingles = 0) produce no bands — they can't be
    near-duplicates of anything. `extra_cols` ride through the explode
    (e.g. the probe index carries `simhash` for its Hamming filter) —
    cheaper than a join back on doc_id.
    """
    cfg = cfg or DedupConfig()
    r = cfg.lsh_rows
    bands = ", ".join(
        f"struct({j} AS band, "
        f"xxhash64({j}, slice(minhash, {j * r + 1}, {r})) AS band_key)"
        for j in range(cfg.lsh_bands)
    )
    return (
        signatures.where("num_shingles > 0")
        .select("doc_id", *extra_cols, F.expr(f"explode(array({bands})) AS bk"))
        .selectExpr("doc_id", "bk.band AS band", "bk.band_key AS band_key", *extra_cols)
    )


def candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig | None = None, dedup: bool = True
) -> DataFrame:
    """LSH candidate edges (src < dst), deduplicated across bands.

    One shuffle on the bucket key (groupBy + in-expression pair expansion,
    see operators/buckets.py) instead of a three-shuffle self-join; the
    pair dedup across bands is the only other exchange. Oversized buckets
    are salt-split inside the expression (bounded recall loss, surfaced by
    `lsh_metrics` — never silent).

    `dedup=False` skips the cross-band dedup exchange — for callers that
    union this with other candidate sources and dropDuplicates once over
    the union (the pipeline); rows are then unique per agreeing band,
    not per pair.
    """
    cfg = cfg or DedupConfig()
    from simages_spark.operators.buckets import bucket_pairs

    pairs = bucket_pairs(
        band_keys(signatures, cfg),
        ["band", "band_key"],
        "doc_id",
        cap=cfg.max_bucket_size,
        nsalt=cfg.bucket_salt,
        dedup=dedup,
    )
    return pairs.selectExpr("a AS src", "b AS dst")


def lsh_metrics(signatures: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Bucket-size histogram + split/truncation counts (north_rule: metrics).

    Counts are computed per (bucket, salt class) — the same salt function
    `bucket_pairs` uses — so the truncation the expansion actually performs
    (each salt class sliced to `cap` members) is reported exactly:
    `n_truncated_buckets` buckets lost members, `n_truncated_members` total
    members dropped from pair formation. Never silent.
    """
    cfg = cfg or DedupConfig()
    cap, nsalt = cfg.max_bucket_size, cfg.bucket_salt
    per_class = band_keys(signatures, cfg).groupBy(
        "band",
        "band_key",
        F.pmod(F.xxhash64("doc_id"), F.lit(nsalt)).alias("salt"),
    ).agg(F.count("*").alias("class_n"))
    per_bucket = per_class.groupBy("band", "band_key").agg(
        F.sum("class_n").alias("bucket_n"),
        F.sum(
            F.when(F.col("class_n") > cap, F.col("class_n") - cap).otherwise(0)
        ).alias("dropped_raw"),
    )
    dropped = F.when(F.col("bucket_n") > cap, F.col("dropped_raw")).otherwise(0)
    return per_bucket.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("bucket_n") > 1, 1).otherwise(0)).alias("n_pair_buckets"),
        F.sum(F.when(F.col("bucket_n") > cap, 1).otherwise(0)).alias(
            "n_salted_buckets"
        ),
        F.sum(F.when(dropped > 0, 1).otherwise(0)).alias("n_truncated_buckets"),
        F.sum(dropped).cast("long").alias("n_truncated_members"),
        F.max("bucket_n").alias("max_bucket_n"),
        F.sum(
            (F.col("bucket_n") * (F.col("bucket_n") - 1) / 2).cast("long")
        ).alias("candidate_pairs_upper_bound"),
    )
