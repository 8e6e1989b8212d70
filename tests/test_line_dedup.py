"""Segment(line)-level dedup: Spark vs a pure-Python reference.

Mirrors the repo's verification pattern for destructive text surgery
(tests/test_suffix_properties.py): randomized corpora with planted
boilerplate, an independent Python implementation of the spec, literal
equality, and partitioning invariance.
"""

from __future__ import annotations

import random

import pytest

from simages_spark.functions.shingles import tokenize
from simages_spark.operators.line_dedup import (
    DEFAULT_WORDS_PER_SEGMENT,
    doc_segments,
    line_dup_stats,
    line_deduped_corpus,
)

W = 4  # small windows so tiny fixtures produce real collisions


def _py_segments(text: str, w: int = W) -> list[str]:
    toks = tokenize(text)
    return [" ".join(toks[i : i + w]) for i in range(0, len(toks), w)]


def _py_reference(texts: dict[int, str], w: int = W):
    """Spec: keep-first per segment string under (doc_id asc, pos asc)."""
    first: dict[str, tuple[int, int]] = {}
    for doc_id in sorted(texts):
        for pos, seg in enumerate(_py_segments(texts[doc_id], w)):
            first.setdefault(seg, (doc_id, pos))
    stats, rebuilt = {}, {}
    for doc_id in sorted(texts):
        segs = _py_segments(texts[doc_id], w)
        kept = [
            s
            for pos, s in enumerate(segs)
            if first[s] == (doc_id, pos)
        ]
        n_dup = len(segs) - len(kept)
        stats[doc_id] = (len(segs), n_dup)
        rebuilt[doc_id] = (" ".join(kept), len(kept))
    return stats, rebuilt


def _random_corpus(seed: int, n_docs: int = 40) -> dict[int, str]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    boiler = [
        " ".join(rng.choices(vocab, k=W)) for _ in range(4)
    ]  # planted boilerplate "lines" (full windows so they collide)
    texts = {}
    for d in range(n_docs):
        parts = []
        for _ in range(rng.randint(0, 6)):
            if rng.random() < 0.4:
                parts.append(rng.choice(boiler))
            else:
                parts.append(" ".join(rng.choices(vocab, k=W)))
        # ragged tail so last-window-shorter paths are exercised
        if rng.random() < 0.5:
            parts.append(" ".join(rng.choices(vocab, k=rng.randint(1, W - 1))))
        texts[d] = " ".join(parts)
    texts[n_docs] = ""  # empty doc must survive with zero segments
    return texts


@pytest.mark.parametrize("seed", [7, 1234])
def test_line_dedup_matches_python_reference(spark, seed):
    texts = _random_corpus(seed)
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    py_stats, py_rebuilt = _py_reference(texts)

    got_stats = {
        r["doc_id"]: (r["n_segments"], r["n_dup_segments"])
        for r in line_dup_stats(df, words_per_segment=W).collect()
    }
    assert got_stats == py_stats

    got_rebuilt = {
        r["doc_id"]: (r["text_deduped"], r["n_segments_kept"])
        for r in line_deduped_corpus(df, words_per_segment=W).collect()
    }
    assert got_rebuilt == py_rebuilt
    # planted boilerplate actually collided (the test has teeth)
    assert any(d for _, (_, d) in py_stats.items() if d > 0)


def test_line_dedup_partitioning_invariance(spark):
    texts = _random_corpus(99, n_docs=30)
    rows = [(k, v) for k, v in texts.items()]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(13)
    ra = sorted(map(tuple, line_deduped_corpus(a, words_per_segment=W).collect()))
    rb = sorted(map(tuple, line_deduped_corpus(b, words_per_segment=W).collect()))
    assert ra == rb


def test_doc_segments_windows_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "A b c d e"), (2, ""), (3, None), (4, "x y")],
        "doc_id long, text string",
    )
    occ = {
        (r["doc_id"], r["pos"]): r["segment"]
        for r in doc_segments(df, words_per_segment=4).collect()
    }
    assert occ == {(1, 0): "a b c d", (1, 1): "e", (4, 0): "x y"}
    # doc-level outputs still carry the empty docs
    stats = {r["doc_id"]: r["n_segments"] for r in line_dup_stats(df, 4).collect()}
    assert stats == {1: 2, 2: 0, 3: 0, 4: 1}


def test_default_segment_width_is_sane():
    assert DEFAULT_WORDS_PER_SEGMENT == 10


def test_line_dedup_winners_join_never_broadcast(spark):
    """The marking join's winners side must stay sort-merge: it has the
    same cardinality class as the occurrences (one row per distinct
    segment), but Catalyst prices the unmaterialized explode→agg chain
    small enough to auto-broadcast at any corpus size — the same
    misestimate class that blew the verify payload join at 10M
    (operators/verify.py). hint('merge') pins the spillable strategy."""
    import re

    from simages_spark.sources.corpus import generate_pages, mint_doc_ids

    docs = mint_doc_ids(generate_pages(spark, 2000, seed=42)).select(
        "doc_id", "text"
    )  # mapInPandas chain: no parquet footer stats
    out = line_dup_stats(docs, words_per_segment=W)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"BroadcastHashJoin[^\n]*seg_key", plan), plan
    assert re.search(r"SortMergeJoin[^\n]*seg_key", plan)


def test_segment_keepers_decimal_encoding_equals_struct_min(spark):
    """The decimal-encoded election must equal min(struct(doc_id, pos))
    exactly, including full-range (negative) doc_ids, pos 0 and pos near
    2^31 — the encoding is the hash-aggregable form of the same order."""
    import random

    from pyspark.sql import functions as F

    from simages_spark.operators.line_dedup import segment_keepers

    rng = random.Random(11)
    rows = []
    for _ in range(5000):
        doc = rng.choice(
            [rng.randint(-(2**63), 2**63 - 1), rng.randint(-3, 3)]
        )
        pos = rng.choice([0, 1, rng.randint(0, 2**31 - 1)])
        rows.append((str(rng.randint(0, 800)), doc, pos))
    occ = spark.createDataFrame(rows, "seg_key string, doc_id long, pos int")
    ref = (
        occ.groupBy("seg_key")
        .agg(F.min(F.struct("doc_id", "pos")).alias("_w"))
        .select(
            "seg_key",
            F.col("_w.doc_id").alias("w_doc_id"),
            F.col("_w.pos").alias("w_pos"),
        )
    )
    got = segment_keepers(occ)
    assert sorted(map(tuple, ref.collect())) == sorted(
        map(tuple, got.collect())
    )


def _marked_formulation(docs, w: int):
    """line_deduped_corpus written as the occurrence-marking join: keep
    the occurrences `_marked_occurrences` does not mark as duplicates."""
    from pyspark.sql import functions as F

    from simages_spark.operators.line_dedup import _marked_occurrences

    kept = _marked_occurrences(docs, w, "text").where(~F.col("is_dup"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "segment"))),
                lambda s: s["segment"],
            ),
        ).alias("text_deduped"),
        F.count("*").alias("n_segments_kept"),
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        F.coalesce("n_segments_kept", F.lit(0)).alias("n_segments_kept"),
    )


@pytest.mark.parametrize("nparts", [1, 3, 8])
def test_join_free_corpus_equals_marking_join(spark, nparts):
    """The join-free reassembly keeps exactly the occurrences the
    marking join keeps: random full-range doc ids, segments repeated
    inside one doc (only the first copy of the first holder survives),
    null, empty and blank texts, on 1, 3 and 8 input partitions."""
    rng = random.Random(100 + nparts)
    vocab = [f"v{i}" for i in range(12)]
    lines = [" ".join(rng.choices(vocab, k=W)) for _ in range(5)]
    ids = rng.sample(range(-(2**40), 2**40), 60)
    rows = []
    for doc_id in ids:
        roll = rng.random()
        if roll < 0.05:
            rows.append((doc_id, None))
            continue
        if roll < 0.1:
            rows.append((doc_id, rng.choice(["", "   "])))
            continue
        parts = [rng.choice(lines) for _ in range(rng.randint(1, 5))]
        if rng.random() < 0.5:  # the same line twice in one doc
            parts.append(parts[0])
        if rng.random() < 0.5:
            parts.append(" ".join(rng.choices(vocab, k=rng.randint(1, W - 1))))
        rows.append((doc_id, "  ".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(nparts)
    got = sorted(map(tuple, line_deduped_corpus(docs, words_per_segment=W).collect()))
    want = sorted(map(tuple, _marked_formulation(docs, W).collect()))
    assert got == want
    assert len(got) == len(rows)
    # segments were cut (the test has teeth)
    assert sum(r[2] for r in got) < sum(len(_py_segments(t or "")) for _, t in rows)


def test_span_and_line_pass_segments_each_page_once(spark):
    """The executed plan of the span_dedup pass: the pages are segmented
    by ONE posexplode, no join is keyed on seg_key (the winners are the
    kept rows), and the span-extension Arrow UDF still runs."""
    import re

    from simages_spark.operators.suffix import strip_duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog while seven wizards hum"
    footer = "cookie policy menu footer " * 4
    docs = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " zzzz " + footer),
            (2, "bbbbbbbb " + shared + " yyyy " + footer),
            (3, "entirely different words " + footer),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = line_deduped_corpus(strip_duplicate_spans(docs), words_per_segment=W)
    out.collect()
    # the final plan; AQE prints the initial plan after it
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in plan, plan
    assert len(re.findall(r"Generate posexplode", plan)) == 1, plan
    assert not re.search(r"Join[^\n]*seg_key", plan), plan
    assert "MapInPandas" in plan, plan


def test_election_refuses_non_int_pos(spark):
    """The decimal encoding orders (doc_id, pos) only for 0 ≤ pos < 2^31:
    a long `pos` column is refused before any job runs."""
    from simages_spark.operators.line_dedup import segment_keepers

    occ = spark.createDataFrame([("k", 1, 0)], "seg_key string, doc_id long, pos long")
    with pytest.raises(TypeError, match="int `pos`"):
        segment_keepers(occ)


def test_election_fails_on_negative_pos(spark):
    """A negative pos would decode as another doc's position — (2, -1)
    encodes exactly as (1, 2^31 - 1) — so the query fails instead."""
    from simages_spark.operators.line_dedup import segment_keepers

    occ = spark.createDataFrame(
        [("k", 2, -1), ("j", 5, 3)], "seg_key string, doc_id long, pos int"
    )
    with pytest.raises(Exception, match="pos must be a non-negative int"):
        segment_keepers(occ).collect()
    fine = spark.createDataFrame([("j", 5, 3)], "seg_key string, doc_id long, pos int")
    assert [tuple(r) for r in segment_keepers(fine).collect()] == [("j", 5, 3)]
