"""SimHash Hamming-ball candidate expansion (SURVEY.md §2.3 J1b, §4.2.3).

Combination-block join (the Manku/Jain/Das Sarma near-duplicate design,
public WWW'07 paper): split the `cfg.simhash_bits`-bit simhash into `m` pieces; a pair
within Hamming distance d differs in at most d pieces, so at least m-d
pieces match — key each doc on every (m-d)-subset of pieces and equi-join
on the concatenated subset value. With m=6, d=3 that is C(6,3)=20 keys
per doc, each ~32 bits wide.

Why not 4×16-bit single blocks: a 16-bit key space saturates around 10^5
docs — random collisions make the block join quadratic (measured: 302 s
candidates at 10^6 docs, dominated by ~27M birthday-collision pairs).
Wider combination keys keep buckets near-singleton at any corpus size,
at the cost of 5× more (narrow) key rows — the scan-vs-shuffle trade
that actually survives 10^12 docs.

The exact `bit_count(xor) ≤ d` filter on expanded pairs keeps precision
exact regardless of key design.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig


def _piece_widths(bits: int, m: int) -> list[int]:
    base, extra = divmod(bits, m)
    return [base + (1 if i < extra else 0) for i in range(m)]


def _piece_sql(widths: list[int]) -> list[str]:
    """SQL for each piece of `simhash`: its bits, shifted down to bit 0."""
    out, shift = [], 0
    for w in widths:
        out.append(f"(shiftrightunsigned(simhash, {shift}) & {(1 << w) - 1})")
        shift += w
    return out


def simhash_keys(signatures: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(doc_id, simhash, key) — one row per (m-d)-subset of pieces; `key`
    packs the combo index and the concatenated piece values into a long.
    The key array is one SQL string, parsed by the JVM in one call."""
    cfg = cfg or DedupConfig()
    m, d = cfg.simhash_blocks, cfg.simhash_max_hamming
    widths = _piece_widths(cfg.simhash_bits, m)
    pieces = _piece_sql(widths)
    keys = []
    for combo_id, combo in enumerate(combinations(range(m), m - d)):
        key = f"CAST({combo_id} AS BIGINT)"
        for idx in combo:
            key = f"(shiftleft({key}, {widths[idx]}) + {pieces[idx]})"
        keys.append(key)
    return signatures.where("num_shingles > 0").select(
        "doc_id", "simhash", F.expr(f"explode(array({', '.join(keys)})) AS key")
    )


def simhash_candidates(
    signatures: DataFrame, cfg: DedupConfig | None = None, dedup: bool = True
) -> DataFrame:
    """Pairs (src < dst) with Hamming(simhash) ≤ cfg.simhash_max_hamming.

    Single-shuffle bucket expansion (operators/buckets.py) carrying
    struct(doc_id, simhash) as the bucket member, so the exact Hamming
    filter runs right on the expanded pair — no join back to signatures.

    One pair-dedup exchange, not two (guide §2.4): `bucket_pairs` runs
    with dedup=False because (a, b) ↔ (src, dst) is 1:1 here — each
    doc_id carries exactly one simhash in `signatures`, so dedup by
    member struct and dedup by doc_id pair are the same operation, and
    the final dropDuplicates below subsumes the inner one. Callers that
    re-dedup downstream (the pipeline's candidate union) pass
    dedup=False to skip this exchange too; rows are then unique per
    agreeing combination block rather than per pair.
    """
    cfg = cfg or DedupConfig()
    from simages_spark.operators.buckets import bucket_pairs

    keyed = simhash_keys(signatures, cfg).selectExpr(
        "key", "struct(doc_id, simhash) AS m"
    )
    pairs = bucket_pairs(
        keyed, ["key"], "m", cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt,
        dedup=False,
    )
    out = (
        pairs.withColumn("hamming", F.expr("bit_count(a.simhash ^ b.simhash)"))
        .where(f"hamming <= {cfg.simhash_max_hamming}")
        .selectExpr("a.doc_id AS src", "b.doc_id AS dst", "hamming")
    )
    return out.dropDuplicates(["src", "dst"]) if dedup else out
