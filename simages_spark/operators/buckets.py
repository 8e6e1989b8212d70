"""Bucket → candidate-pair expansion (shared by LSH / SimHash / exact).

One shuffle instead of three: rather than self-joining the exploded
bucket table (shuffle both sides + bucket-count join), group each bucket
once, collect its (deduped, sorted) member array, and expand pairs with
pure JVM array expressions — `transform` over the array with an indexed
lambda emits (ids[i], ids[j>i]) structs, so src<dst ordering falls out of
the sort. Output volume is identical; shuffle volume drops ~3× and the
sort-merge passes disappear.

Skew (north_rule): buckets above `cap` expand quadratically — members are
salt-split *inside the expression* (filter by xxhash64(member) % nsalt,
pairs only within a salt class), and each salt class is additionally
TRUNCATED to `cap` members (deterministic: the array is sorted, slice
keeps the smallest). Without the truncation a 10⁵-copy viral page still
emits nsalt·C(n/nsalt, 2) ≈ 6×10⁸ pairs — the salt alone bounds by a
constant factor, not absolutely; with it the worst bucket emits at most
nsalt·C(cap, 2) pairs, period. Identical-content floods keep full
connectivity through the exact-hash star layer regardless (their
truncated LSH pairs are redundant); genuinely-near-dup viral clusters
lose bounded recall. Never silent: `lsh_metrics`/`suffix_metrics` report
split AND truncated bucket counts.

The pair expressions are SQL text, parsed by the JVM in one call each;
built with Column builders they cost one py4j round trip per node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _bind(expr: str, var: str, body: str) -> str:
    """SQL: evaluate `expr` ONCE and bind it to lambda variable `var`
    inside `body`.

    Poor man's `let`: Spark evaluates a higher-order lambda's input
    eagerly and binds it as a variable, so references inside `body` are
    cheap lookups. Without this, every reference to a shared expression
    re-evaluates its whole subtree — `_pairs_of` references its array
    3× *per element*, which turns a filter over a 100k-member hot bucket
    into ~10^8 re-evaluations (measured: 182 s for one viral bucket;
    ~1 s bound)."""
    return f"transform(array({expr}), {var} -> {body})[0]"


def _pairs_of(arr: str, tag: str = "") -> str:
    """SQL: array<T> (sorted) → array<struct<a:T, b:T>> of all i<j pairs.

    `arr` must be a cheap reference (column or bound lambda variable) —
    wrap computed expressions in `_bind` first. `tag` suffixes the
    lambda variables, keeping them distinct from an enclosing lambda's."""
    x, i, y = f"x{tag}", f"i{tag}", f"y{tag}"
    return (
        f"flatten(transform({arr}, ({x}, {i}) -> transform("
        f"slice({arr}, {i} + 2, size({arr})), {y} -> struct({x} AS a, {y} AS b))))"
    )


def _bucket_pairs_sql(cap: int, nsalt: int) -> str:
    """SQL: the sorted member array `ids` → array of its (a, b) pairs,
    salt-split and truncated above `cap` (see `bucket_pairs`).

    One string the JVM parses in one call: written with Column builders
    the same expression costs hundreds of py4j round trips to build."""
    # hash each member ONCE (interpreted xxhash64 per element is the unit
    # cost here — don't pay it nsalt times), then the per-salt filter is a
    # cheap field compare over the bound array.
    salt_class = _bind(
        f"slice(transform(filter(tagged, e -> e.s = s), e -> e.id), 1, {cap})",
        "members",
        _pairs_of("members", "_s"),
    )
    salted = _bind(
        f"transform(ids, m -> struct(pmod(xxhash64(m), {nsalt}) AS s, m AS id))",
        "tagged",
        f"flatten(transform(sequence(0, {nsalt - 1}), s -> {salt_class}))",
    )
    return f"CASE WHEN size(ids) <= {cap} THEN {_pairs_of('ids')} ELSE {salted} END"


def _member_arrays(
    df: DataFrame, key_cols: list[str], member_col: Column | str
) -> DataFrame:
    """(keys..., ids): each bucket's sorted distinct members, for buckets
    of two or more."""
    member = F.col(member_col) if isinstance(member_col, str) else member_col
    return (
        df.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(member)).alias("ids"))
        .where("size(ids) > 1")
    )


def bucket_pairs(
    df: DataFrame,
    key_cols: list[str],
    member_col: Column | str,
    cap: int = 200,
    nsalt: int = 8,
    dedup: bool = True,
) -> DataFrame:
    """(keys..., member) → distinct (a, b) pairs co-bucketed by the keys.

    Member may be any orderable column (long, struct, ...). Buckets larger
    than `cap` are salt-split — pairs form only within a salt class — and
    each salt class is truncated to its `cap` smallest members, so the
    worst bucket emits ≤ nsalt·C(cap, 2) pairs regardless of size (see
    module docstring; callers' metrics surface the truncation).

    `dedup=False` skips the cross-bucket pair dedup (one exchange of the
    pair set): pass it ONLY when the caller either proves each member
    belongs to exactly one bucket (pairs unique by construction — the
    suffix anchors: one (h1, h2) per (doc_id, pos)) or runs its own
    dropDuplicates downstream anyway (the SimHash Hamming filter, the
    pipeline's candidate union). With dedup=False the output may contain
    the same (a, b) once per shared bucket.
    """
    out = (
        _member_arrays(df, key_cols, member_col)
        .select(F.expr(f"explode({_bucket_pairs_sql(cap, nsalt)}) AS p"))
        .selectExpr("p.a AS a", "p.b AS b")
    )
    return out.dropDuplicates(["a", "b"]) if dedup else out


def bucket_star_edges(
    df: DataFrame, key_cols: list[str], member_col: Column | str, dedup: bool = True
) -> DataFrame:
    """(keys..., member) → star edges (min-member, other) per bucket.

    For buckets whose members are *guaranteed identical* (e.g. grouped by
    a full content hash) connectivity is all downstream CC needs — linear
    edges instead of quadratic (a 1M-copy spam page yields 10^6 edges,
    not 5·10^11).

    `dedup=False` skips the cross-bucket dedup exchange; safe whenever
    each member belongs to exactly one bucket (e.g. key = full content
    hash: a doc has ONE sha, so every (min, other) edge is emitted by
    exactly one bucket).
    """
    stars = "transform(slice(ids, 2, size(ids)), y -> struct(ids[0] AS a, y AS b))"
    out = (
        _member_arrays(df, key_cols, member_col)
        .select(F.expr(f"explode({stars}) AS p"))
        .selectExpr("p.a AS a", "p.b AS b")
    )
    return out.dropDuplicates(["a", "b"]) if dedup else out
