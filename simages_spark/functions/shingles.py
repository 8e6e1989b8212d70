"""Canonical tokenization + w-gram shingling.

This is the text analog of the reference's deterministic eval transform
(Resize/CenterCrop/Normalize, reference: src/simages/extractor.py:105-112):
it must be *byte-identical* everywhere it is computed — the JVM column
expressions (fast path), the numpy/pandas path inside the signature UDFs,
and the DuckDB oracle SQL all implement exactly these semantics:

    tokens(text)   = lower(text) split on runs of whitespace, '' removed
    shingles(text) = distinct 5-gram token windows joined by ' ';
                     if fewer than 5 tokens, the single shingle is all
                     tokens joined by ' '

Everything downstream (MinHash, SimHash, exact Jaccard) consumes this set.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = re.compile(r"\s+")

# Shingle hash = first 15 hex chars of md5 → a 60-bit non-negative int.
# Portable by construction: Spark (md5/conv/cast — all JVM codegen), the
# numpy path, and DuckDB (('0x' || substr(md5(s),1,15))::BIGINT) produce
# bit-identical values, so every signature derived from these hashes is
# value-checkable cross-engine. 60 bits keep every intermediate (and the
# packed SimHash) inside a signed 64-bit int — no ANSI overflow, no sign
# gymnastics in the oracle SQL.
HASH_HEX_CHARS = 15
HASH_BITS = 4 * HASH_HEX_CHARS


def tokenize(text: str) -> list[str]:
    """Python-side canonical tokenizer (must match `tokens_col`)."""
    return [t for t in _WS.split(text.lower()) if t]


def shingle_strings(text: str, k: int = 5) -> list[str]:
    """Python-side canonical distinct shingle set (must match `shingles_col`).

    Each k-gram is a SLICE of the single space-joined token string rather
    than a per-window ``" ".join`` — identical output (single-space joins
    make every window a contiguous substring of the full join), ~20%
    faster on real batches (one join + len-cumsum instead of one join
    per window; guide §1.2 per-task work). Equality with the join-per-
    window form is pinned by tests/test_shingles.py.
    """
    toks = tokenize(text)
    if not toks:
        return []
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        s = " ".join(toks)
        offs = [0]
        ap = offs.append
        pos = 0
        for tok in toks[:-1]:
            pos += len(tok) + 1
            ap(pos)
        grams = [
            s[offs[i] : offs[i + k - 1] + len(toks[i + k - 1])]
            for i in range(len(toks) - k + 1)
        ]
    # distinct, first-occurrence order (order is irrelevant downstream)
    return list(dict.fromkeys(grams))


def hash_shingle(s: str) -> int:
    """One 60-bit portable shingle hash (see HASH_HEX_CHARS note above).

    First 60 bits of the digest == first 15 hex chars; the byte path
    avoids hexdigest + string-int parsing in the hot loop.
    """
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") >> 4


def hash_shingle_lists(shingle_lists: list[list[str]]) -> list[np.ndarray]:
    """Batched `hash_shingles` over many docs (bit-identical, asserted in
    tests): one md5 per shingle still, but the digest→uint64 conversion
    is one vectorized pass over the concatenated digests instead of an
    int.from_bytes + shift per shingle (guide §4.2 — the per-call Python
    was ~40% of the signature stage's hashing time)."""
    md5 = hashlib.md5
    counts = []
    digs = []
    for sh in shingle_lists:
        counts.append(len(sh))
        digs.extend(md5(s.encode("utf-8")).digest() for s in sh)
    if not digs:
        return [np.empty(0, dtype=np.uint64) for _ in shingle_lists]
    # first 8 big-endian bytes of each 16-byte digest, then >> 4 = the
    # 60-bit prefix hash_shingle computes
    flat = (
        np.frombuffer(b"".join(digs), dtype=">u8").reshape(-1, 2)[:, 0].copy()
        >> np.uint64(4)
    )
    out = []
    pos = 0
    for c in counts:
        out.append(np.unique(flat[pos : pos + c]))
        pos += c
    return out


def hash_shingles(shingles: list[str]) -> np.ndarray:
    """Hash a shingle list to distinct sorted uint64s (60-bit md5 prefix).

    Must stay bit-identical to `shingle_hash_col` (the JVM fast path) and
    the DuckDB oracle; used by tests and small Python-side fixtures. The
    60-bit space keeps within-doc collisions negligible at any realistic
    per-doc shingle count.
    """
    if not shingles:
        return np.empty(0, dtype=np.uint64)
    vals = np.fromiter(
        (hash_shingle(s) for s in shingles), dtype=np.uint64, count=len(shingles)
    )
    return np.unique(vals)


def tokens_col(text: Column) -> Column:
    """JVM-side tokens: lower, split on whitespace, drop empties."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))


# `tokens_col` as Spark SQL text over a `{text}` expression (the SQL
# literal '\\s+' is the regex \s+)
TOKENS_SQL = r"filter(split(lower({text}), '\\s+'), t -> t != '')"


def shingles_col(text: Column, k: int = 5) -> Column:
    """JVM-side distinct shingle set as array<string> (whole-stage codegen).

    Matches `shingle_strings` exactly; used by the oracle-checkable
    exact-Jaccard queries so no Python runs in the comparison path.

    The tokens are bound once as a lambda variable (the `buckets._bind`
    idiom): a lambda that referenced `tokens_col(text)` itself would
    re-split the whole page for every window, O(L²) per page.
    """

    def from_tokens(toks: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        whole = F.array(F.concat_ws(" ", toks))
        return F.array_distinct(
            F.when(F.size(toks) >= k, ngrams)
            .when(F.size(toks) > 0, whole)
            .otherwise(F.array().cast("array<string>"))
        )

    return F.transform(F.array(tokens_col(text)), from_tokens)[0]


def shingle_hash_col(text: Column, k: int = 5) -> Column:
    """JVM-side distinct sorted 60-bit shingle hashes as array<long>.

    Whole-stage-codegen md5 over the shingle strings — the hot path stays
    on the JVM; the signature UDF consumes these arrays so no string
    hashing happens in Python. Sorted ascending so a deterministic
    smallest-k cap (`slice`) is well-defined everywhere.
    """
    return F.array_sort(
        F.array_distinct(
            F.transform(
                shingles_col(text, k),
                lambda s: F.conv(
                    F.substring(F.md5(s), 1, HASH_HEX_CHARS), 16, 10
                ).cast("long"),
            )
        )
    )


DUCKDB_HASH_SQL = (
    "('0x' || substr(md5({s}), 1, " + str(HASH_HEX_CHARS) + "))::BIGINT"
)


def duckdb_shingles_sql(text_expr: str = "text", k: int = 5) -> str:
    """DuckDB SQL fragment computing the same distinct shingle set.

    Returns an expression usable in a SELECT given `text_expr`; relies on a
    lateral-style subquery over a tokens CTE being available, so callers
    inline it as: list_distinct(CASE ... END) over `toks`.
    """
    return f"""
    list_distinct(
      CASE
        WHEN len(toks) >= {k} THEN
          [array_to_string(toks[i:i+{k - 1}], ' ') for i in range(1, len(toks) - {k - 2})]
        WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
        ELSE []
      END
    )
    """.strip()


DUCKDB_TOKENS_SQL = (
    "list_filter(string_split_regex(lower({text}), '\\s+'), t -> t != '')"
)
