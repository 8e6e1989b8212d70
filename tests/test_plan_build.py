"""The candidate-stage builders, written as SQL text, against hand-computed
results, and the driver-side cost of building their plans.

`band_keys`, `simhash_keys`, `bucket_pairs` and `bucket_star_edges` each
hand the JVM one SQL string to parse. Written with Column builders the
same expressions cost one py4j round trip per node, thousands per
pipeline pass, before any job runs. The tests check:

  * each operator's rows on small hand-built inputs equal a set computed
    here in plain Python, and its plan keeps its exchange count;
  * a bucket above `cap` gives exactly the salt-split, truncated pair
    set, with the salt read from Spark's own `pmod(xxhash64(id), nsalt)`;
  * building the candidate + edge plans, the probe keys, and the span
    pass (`strip_duplicate_spans` + `line_deduped_corpus`) stays under a
    ceiling of py4j calls.
"""

from __future__ import annotations

import re
import threading
from itertools import combinations

import pytest
from py4j.clientserver import ClientServerConnection

from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import SIGNATURE_SCHEMA, compute_signatures
from simages_spark.operators.buckets import bucket_pairs, bucket_star_edges
from simages_spark.operators.line_dedup import line_deduped_corpus
from simages_spark.operators.lsh import candidate_pairs
from simages_spark.operators.sig_index import probe_keys
from simages_spark.operators.simhash_join import (
    _piece_widths,
    simhash_candidates,
)
from simages_spark.operators.suffix import strip_duplicate_spans, substring_dup_spans
from simages_spark.operators.verify import verify_pairs
from simages_spark.pipeline import build_candidates, build_edges

CFG = DedupConfig()
R = CFG.lsh_rows


def _minhash(base: int, changed_bands: set[int]) -> list[int]:
    """128 slots counting up from `base`; every slot of a changed band is
    replaced by a value no other doc uses."""
    out = [base + i for i in range(CFG.num_perm)]
    for band in changed_bands:
        for i in range(band * R, (band + 1) * R):
            out[i] = 10**9 + base * 1000 + i
    return out


# (doc_id, minhash, simhash, shingle_hashes). Docs 1-3 share bands with
# each other; doc 4 shares none; doc 6 copies doc 1 but has no shingles.
# Simhash distances: 1-2 = 3, 2-3 = 1, 1-3 = 4, 4-5 = 2; 1-6 = 0.
S1 = 0x0F0F_0F0F_0F0F_0F0
_DOCS = [
    (1, _minhash(0, set()), S1, [1, 2, 3, 4, 5, 6]),
    (2, _minhash(0, {3}), S1 ^ 0b111, [1, 2, 3, 4, 5, 7]),
    (3, _minhash(0, set(range(1, 16))), S1 ^ 0b1111, [1, 2, 8, 9]),
    (4, _minhash(500, set()), 0x0123_4567_89AB_CDE, [20, 21]),
    (5, _minhash(900, set()), 0x0123_4567_89AB_CDE ^ (1 << 40) ^ 1, [20, 22]),
]


def _signatures(spark):
    rows = [
        (d, mh, sh, len(hs), len(hs), hs) for d, mh, sh, hs in _DOCS
    ] + [(6, _minhash(0, set()), S1, 0, 0, [])]
    return spark.createDataFrame(rows, SIGNATURE_SCHEMA)


def _live():
    return [d for d in _DOCS if d[3]]


def _shuffles(df) -> int:
    """Shuffle exchanges in the plan Spark starts from (AQE's initial
    plan, so call it before the first action); broadcasts are not
    counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hash|range|Single|Round)", plan))


def test_candidate_pairs_share_a_band(spark):
    expected = {
        (a[0], b[0])
        for a, b in combinations(_live(), 2)
        if any(
            a[1][j * R:(j + 1) * R] == b[1][j * R:(j + 1) * R]
            for j in range(CFG.lsh_bands)
        )
    }
    assert expected == {(1, 2), (1, 3), (2, 3)}
    df = candidate_pairs(_signatures(spark), CFG)
    # the bucket collect, then the cross-band pair dedup
    assert _shuffles(df) == 2
    assert {(r.src, r.dst) for r in df.collect()} == expected


def test_simhash_candidates_within_hamming(spark):
    expected = {
        (a[0], b[0], bin(a[2] ^ b[2]).count("1"))
        for a, b in combinations(_live(), 2)
        if bin(a[2] ^ b[2]).count("1") <= CFG.simhash_max_hamming
    }
    assert {(s, d) for s, d, _ in expected} == {(1, 2), (2, 3), (4, 5)}
    df = simhash_candidates(_signatures(spark), CFG)
    # the bucket collect, then the pair dedup
    assert _shuffles(df) == 2
    assert {(r.src, r.dst, r.hamming) for r in df.collect()} == expected


def _shared_simhash_keys(a: int, b: int) -> int:
    """Combination-block keys two simhashes share: the (m-d)-subsets of
    pieces on which they agree."""
    widths = _piece_widths(CFG.simhash_bits, CFG.simhash_blocks)
    equal, shift = [], 0
    for w in widths:
        mask = (1 << w) - 1
        equal.append((a >> shift) & mask == (b >> shift) & mask)
        shift += w
    m, d = CFG.simhash_blocks, CFG.simhash_max_hamming
    return sum(all(equal[i] for i in c) for c in combinations(range(m), m - d))


def test_probe_keys_shared_per_pair(spark):
    rows = probe_keys(_signatures(spark), CFG).collect()
    by_doc: dict[tuple[int, int], set[int]] = {}
    for r in rows:
        by_doc.setdefault((r.kind, r.doc_id), set()).add(r.pkey)
    n_combos = len(list(combinations(range(CFG.simhash_blocks), 3)))
    docs = {d[0]: d for d in _live()}
    # one key per band and per combination; no keys for the empty doc
    assert {doc for _, doc in by_doc} == set(docs)
    for doc in docs:
        assert len(by_doc[(0, doc)]) == CFG.lsh_bands
        assert len(by_doc[(1, doc)]) == n_combos
    for a, b in combinations(sorted(docs), 2):
        shared_bands = sum(
            docs[a][1][j * R:(j + 1) * R] == docs[b][1][j * R:(j + 1) * R]
            for j in range(CFG.lsh_bands)
        )
        assert len(by_doc[(0, a)] & by_doc[(0, b)]) == shared_bands, (a, b)
        assert len(by_doc[(1, a)] & by_doc[(1, b)]) == _shared_simhash_keys(
            docs[a][2], docs[b][2]
        ), (a, b)
    assert {r.simhash for r in rows if r.doc_id == 2} == {docs[2][2]}


def test_verify_pairs_exact_jaccard(spark):
    sets = {d[0]: set(d[3]) for d in _DOCS}
    cands = [(1, 2), (1, 3), (2, 3), (4, 5)]
    expected = {
        (s, d, len(sets[s] & sets[d]) / len(sets[s] | sets[d])) for s, d in cands
    }
    df = verify_pairs(
        spark.createDataFrame(cands, "src long, dst long"),
        _signatures(spark),
        CFG,
        keep_below_threshold=True,
    )
    # both sort-merge joins shuffle both of their sides
    assert _shuffles(df) == 4
    got = {(r.src, r.dst, r.jaccard) for r in df.collect()}
    assert got == expected
    above = verify_pairs(
        spark.createDataFrame(cands, "src long, dst long"), _signatures(spark), CFG
    )
    assert {(r.src, r.dst) for r in above.collect()} == {
        (s, d) for s, d, j in expected if j >= CFG.jaccard_threshold
    }


def test_substring_dup_spans_planted_runs(spark):
    shared = "the quick brown fox jumps over the lazy dog while seven wizards hum"
    assert len(shared) >= 64
    texts = {
        1: "aaaa " + shared + " zzzz",
        2: "bbbbbbbb " + shared + " yyyy",
        3: "cc " + shared[:40] + " nothing else in common here at all, none",
        4: "unrelated words " * 8,
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    # the one run of >= 64 chars: `shared` with the blank on either side
    run = " " + shared + " "
    expected = {(1, 2, texts[1].index(run), texts[2].index(run), len(run))}
    df = substring_dup_spans(docs, 64)
    # the anchor repartition (twice in the initial plan: the window
    # counts read it too, and AQE reuses the one exchange), the grouping
    # on (src, dst) and one shuffle per side of each of the two text joins
    assert _shuffles(df) == 7
    got = {(r.src, r.dst, r.pos_src, r.pos_dst, r.run_len) for r in df.collect()}
    assert got == expected


@pytest.mark.parametrize("nsalt", [3, 8])
def test_hot_bucket_salt_split_and_truncated(spark, nsalt):
    cap = 5
    hot = list(range(100, 150))  # 50 members, ten times the cap
    small = [7, 3, 9]
    df = spark.createDataFrame(
        [(1, m) for m in hot] + [(2, m) for m in small], "k long, m long"
    )
    salt = {
        r.m: r.s
        for r in spark.createDataFrame([(m,) for m in hot], "m long")
        .selectExpr("m", f"pmod(xxhash64(m), {nsalt}) AS s")
        .collect()
    }
    expected = set(combinations(sorted(small), 2))
    for s in range(nsalt):
        members = sorted(m for m in hot if salt[m] == s)[:cap]
        expected |= set(combinations(members, 2))
    got = bucket_pairs(df, ["k"], "m", cap=cap, nsalt=nsalt)
    assert {(r.a, r.b) for r in got.collect()} == expected
    stars = bucket_star_edges(df, ["k"], "m")
    assert {(r.a, r.b) for r in stars.collect()} == {
        (100, m) for m in hot[1:]
    } | {(3, 7), (3, 9)}


class _CallCounter:
    """Counts the py4j commands this thread sends to the JVM while
    active. py4j's finalizer thread, which releases JVM objects that
    Python collected earlier, is not counted: when it runs is up to the
    garbage collector, and it added up to ~1,200 calls to a build."""

    def __init__(self, monkeypatch):
        self.n = 0
        real = ClientServerConnection.send_command
        me = threading.get_ident()

        def counting(conn, command):
            if threading.get_ident() == me:
                self.n += 1
            return real(conn, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", counting)


def test_plan_construction_py4j_budget(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "some shared words " * 4) for i in range(8)],
        "doc_id long, text string",
    )
    sig = compute_signatures(docs, CFG)
    calls = _CallCounter(monkeypatch)
    cand = build_candidates(docs, sig, CFG)
    build_edges(cand, sig, docs, CFG)
    # ~5,000 calls with Column builders, ~600 as SQL text
    assert calls.n <= 1000, calls.n
    calls.n = 0
    probe_keys(sig, CFG)
    # 2,500-3,600 with Column builders, ~90 as SQL text
    assert calls.n <= 400, calls.n


def test_span_pass_py4j_budget(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "some shared words " * 8) for i in range(8)],
        "doc_id long, text string",
    )
    calls = _CallCounter(monkeypatch)
    line_deduped_corpus(strip_duplicate_spans(docs))
    # ~3,300 with the span folds, priorities and segment reassembly as
    # Column builders, ~550 as SQL text
    assert calls.n <= 1500, calls.n
