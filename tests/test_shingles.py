"""Shingling parity: Python path == JVM column path == golden values."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from simages_spark.functions.shingles import (
    hash_shingles,
    shingle_strings,
    shingles_col,
    tokenize,
)


def test_tokenize_basic():
    assert tokenize("The  quick\tBrown\nfox ") == ["the", "quick", "brown", "fox"]
    assert tokenize("") == []
    assert tokenize("   ") == []


def test_shingle_strings_golden():
    text = "a b c d e f g"
    assert shingle_strings(text, 5) == ["a b c d e", "b c d e f", "c d e f g"]
    # short doc: single whole-text shingle
    assert shingle_strings("x y z", 5) == ["x y z"]
    assert shingle_strings("", 5) == []
    # duplicates collapse
    assert shingle_strings("a a a a a a", 5) == ["a a a a a"]


def test_hash_shingles_deterministic():
    h1 = hash_shingles(["a b c d e", "b c d e f"])
    h2 = hash_shingles(["b c d e f", "a b c d e"])
    assert h1.dtype == np.uint64
    assert sorted(h1.tolist()) == sorted(h2.tolist())
    assert len(set(h1.tolist())) == 2
    assert all(v < 2**60 for v in h1.tolist())


def test_hash_portability_python_jvm_duckdb(spark):
    """The 60-bit md5-prefix shingle hash is bit-identical across the three
    engines that compute it (Python hashlib, Spark JVM md5/conv, DuckDB
    hex cast) — the foundation of every value-checked signature oracle."""
    import duckdb

    from simages_spark.functions.shingles import (
        DUCKDB_HASH_SQL,
        shingle_hash_col,
    )

    texts = ["a b c d e f g", "the quick brown fox jumps over it", "x y z"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    jvm = {
        r["doc_id"]: sorted(r["h"])
        for r in df.select(
            "doc_id", shingle_hash_col(F.col("text")).alias("h")
        ).collect()
    }
    for i, t in enumerate(texts):
        py = sorted(hash_shingles(shingle_strings(t)).tolist())
        assert jvm[i] == py, f"doc {i}: JVM {jvm[i]} != python {py}"
        duck = sorted(
            v
            for (v,) in duckdb.sql(
                "SELECT "
                + DUCKDB_HASH_SQL.format(s="s")
                + " FROM (SELECT unnest(?) AS s)",
                params=[shingle_strings(t)],
            ).fetchall()
        )
        assert duck == py, f"doc {i}: duckdb {duck} != python {py}"


def test_jvm_matches_python(spark, docs_sf0001):
    rows = (
        docs_sf0001.select("doc_id", "text", shingles_col(F.col("text")).alias("sh"))
        .collect()
    )
    assert rows
    for r in rows:
        assert sorted(r["sh"]) == sorted(shingle_strings(r["text"])), r["doc_id"]


def test_jvm_long_pages_match_python(spark):
    """Pages of thousands of tokens, with repeated windows: the window
    lambda reads tokens bound once per page (a lambda that re-split the
    page for every window made these O(L²))."""
    import random

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(40)]
    texts = [" ".join(rng.choices(vocab, k=n)) for n in (4, 5, 3000, 12000)]
    texts.append("\n".join(["boiler plate line of text"] * 2000))
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", shingles_col(F.col("text")).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == sorted(shingle_strings(t)), i


def test_jvm_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two"), (4, "a b c d e f")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: sorted(r["sh"]) for r in df.select(
        "doc_id", shingles_col(F.col("text")).alias("sh")).collect()}
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["one two"]
    assert got[4] == ["a b c d e", "b c d e f"]


def test_hash_shingle_lists_batched_identity():
    """Round-6 optimization guard: the batched digest conversion must be
    bit-identical to per-doc hash_shingles, including empties/unicode."""
    import numpy as np

    from simages_spark.functions.shingles import (
        hash_shingle_lists,
        hash_shingles,
    )

    lists = [
        [],
        ["a b c d e"],
        ["a b c d e", "b c d e f", "a b c d e"],  # dup inside a doc
        ["é 世 界 x y", "z" * 200],
        [""],
    ]
    got = hash_shingle_lists(lists)
    ref = [hash_shingles(sh) for sh in lists]
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert g.dtype == r.dtype and np.array_equal(g, r)
    # all-empty batch
    got0 = hash_shingle_lists([[], []])
    assert all(len(g) == 0 for g in got0)


def test_shingle_strings_slice_equals_join_per_window():
    """The offset-sliced k-gram construction must equal the literal
    per-window join for arbitrary content (incl. unicode, repeated
    tokens, k-boundary sizes) — the portability contract depends on it."""
    import random

    rng = random.Random(7)
    alphabet = ["a", "bb", "ccc", "Ж", "日本語", "x1", "--", "..."]

    def reference(text, k=5):
        toks = tokenize(text)
        if not toks:
            return []
        if len(toks) < k:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        return list(dict.fromkeys(grams))

    for trial in range(300):
        n = rng.randint(0, 12)
        toks = [rng.choice(alphabet) for _ in range(n)]
        seps = [rng.choice([" ", "  ", "\t", "\n", " \t "]) for _ in range(n)]
        text = "".join(t + s for t, s in zip(toks, seps))
        for k in (1, 2, 5, 7):
            assert shingle_strings(text, k) == reference(text, k), (text, k)
