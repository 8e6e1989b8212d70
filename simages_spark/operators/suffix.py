"""Exact substring-level duplicate detection (SURVEY.md §2.3 J7b, §4.2.4).

Finds pairs of docs sharing a verbatim run of ≥ `min_len` characters —
the "distributed suffix array" pass of the north rule, implemented as its
shuffle-friendly equivalent with EXACT semantics:

  1. **Winnowing anchors** (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public):
     per doc, k-gram rolling hashes over the codepoint array; in every
     window of `w` consecutive k-gram positions select the (leftmost)
     minimum. Selection is content-defined, so inside any run shared by
     two docs the SAME relative positions are selected in both.
  2. **Anchored windows**: at each selected position emit the 128-bit
     polynomial hash of the next `win` characters. Guarantee: a shared
     run of length L ≥ win + w - 1 = `min_len` contains a winnowing
     window fully inside it in both docs, whose min position m ≤ w-1 has
     m + win ≤ L — so both docs emit the identical window hash. No
     false negatives.
  3. **Extension verify**: candidate matches carry aligned positions
     (pos_src, pos_dst); the match is extended left/right over the two
     texts (vectorized numpy compare) to the maximal shared run through
     that alignment. Pairs are kept iff some extension reaches
     `min_len` — no false positives either. Exactness makes the
     operator value-checkable against a brute-force windows self-join
     oracle at small SF.

Per-partition work is fully vectorized numpy (mapInPandas): window
hashes come from two independent 64-bit polynomial rolling hashes
(128 bits total — collisions negligible) computed from prefix sums with
uint64 wraparound arithmetic — no per-window Python, no cryptographic
hashing. The cross-doc step is one groupBy on (h1, h2) with in-expression
pair expansion; keys are uniform, so no skew beyond genuinely viral
substrings (capped + surfaced in metrics). Scan→shuffle amplification is
~2/(w+1) anchor rows per character (≈0.06 at defaults) — an order of
magnitude below a fixed-stride scheme at equal recall, and the anchor
stage is localCheckpointed so its UDF executes exactly once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

ANCHOR_SCHEMA = "doc_id long, pos int, h1 long, h2 long"

_K = 16  # rolling k-gram size for anchor selection
_B1 = np.uint64(1099511628211)  # FNV prime (odd → invertible mod 2^64)
_B2 = np.uint64(6364136223846793005)  # PCG multiplier (odd)


def winnow_params(min_len: int) -> tuple[int, int]:
    """(w, win): winnowing window and emitted-window length for a given
    min_len, chosen so win + w - 1 == min_len (the detection guarantee)
    with win ≥ _K and anchor density ≈ 2/(w+1)."""
    w = max(2, (min_len + 1) // 2)
    win = min_len - w + 1
    if win < _K:
        win = _K
        w = min_len - win + 1
    return w, win


def _pow_mod64(base: int, n: int) -> np.ndarray:
    """[base^0, base^1, ..., base^(n-1)] mod 2^64, vectorized."""
    out = np.empty(n, dtype=np.uint64)
    out[0] = 1
    if n > 1:
        np.multiply.accumulate(np.full(n - 1, base, dtype=np.uint64), out=out[1:])
    return out


def _inv_mod64(a: int) -> int:
    """Inverse of odd a mod 2^64 (Newton iteration)."""
    x = a
    for _ in range(5):
        x = (x * (2 - a * x)) % (1 << 64)
    return x


def _substring_hashes(arr: np.ndarray, starts: np.ndarray, w: int, base: np.uint64):
    """Polynomial hash of arr[s:s+w] for each s, via prefix sums mod 2^64.

    Q[k] = sum_{t<k} arr[t] * Binv^t ; hash(s) = (Q[s+w] - Q[s]) * B^s
    — a function of the substring codepoints only.
    """
    n = len(arr)
    binv = np.uint64(_inv_mod64(int(base)))
    binv_pows = _pow_mod64(int(binv), n + 1)
    b_pows = _pow_mod64(int(base), n + 1)
    q = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(arr * binv_pows[:n], out=q[1:], dtype=np.uint64)
    return (q[starts + w] - q[starts]) * b_pows[starts]


def _codepoints(text: str) -> np.ndarray:
    """Char-exact (not byte) array — semantics match SQL substr/length."""
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )


def _kgram_hashes(arr: np.ndarray) -> np.ndarray:
    """Polynomial hash of the k-gram at every position (vectorized)."""
    n = len(arr)
    m = n - _K + 1
    powers = np.array(
        [pow(int(_B1), _K - 1 - j, 2**64) for j in range(_K)], dtype=np.uint64
    )
    h = np.zeros(m, dtype=np.uint64)
    for j in range(_K):
        h += arr[j : j + m] * powers[j]
    return h


def _winnow_select(h: np.ndarray, w: int) -> np.ndarray:
    """Winnowing: leftmost-min position of every w-window of hashes.

    Leftmost tie-break is content-defined (depends only on hash values and
    relative offsets), so two docs sharing a run select the same relative
    positions wherever the window sits fully inside the run.
    """
    if len(h) < w:
        return np.empty(0, dtype=np.int64)
    sw = np.lib.stride_tricks.sliding_window_view(h, w)
    return np.unique(sw.argmin(axis=1) + np.arange(len(h) - w + 1, dtype=np.int64))


def _anchors_and_hashes(
    text: str, min_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(positions, h1, h2) of winnowing-anchored `win`-char windows."""
    empty = np.empty(0, dtype=np.int64)
    n = len(text)
    if n < min_len:  # cannot contain a min_len-char run
        return empty, empty, empty
    w, win = winnow_params(min_len)
    arr = _codepoints(text)
    starts = _winnow_select(_kgram_hashes(arr), w)
    starts = starts[starts <= n - win]
    h1 = _substring_hashes(arr, starts, win, _B1)
    h2 = _substring_hashes(arr, starts, win, _B2)
    return starts, h1.view(np.int64), h2.view(np.int64)


# --- batched anchor computation -------------------------------------------
#
# The per-doc path above costs ~25 small-array numpy calls per document;
# real web docs average a few hundred characters, so call overhead (not
# arithmetic) dominated the anchor stage (guide §4.2: hand whole batches
# to vectorized native code). The batched path concatenates every doc of
# an Arrow batch into ONE codepoint array and runs each step once:
#
#   * window hashes are OFFSET-INVARIANT: with Q[i] = Σ_{t<i} a[t]·Binv^t,
#     (Q[i+w] − Q[i])·B^i = Σ_j a[i+j]·Binv^j — the B^i cancels the
#     global offset exactly (odd base ⇒ invertible mod 2^64), so hashes
#     computed at global positions are bit-identical to per-doc values;
#   * the k-gram selection hash is the same polynomial up to the constant
#     factor B^(K−1) (descending vs ascending powers), which is strictly
#     monotone-irrelevant… NOT true for comparisons — so the batched path
#     multiplies by B^(K−1) to reproduce _kgram_hashes bit for bit, and
#     winnowing selections are unchanged;
#   * one global sliding-window argmin serves every doc: a doc's valid
#     k-gram positions are a contiguous global range and a w-window
#     starting inside [off, off+m−w] never crosses a doc boundary.
#
# Per-doc work shrinks to two slice-views (winnow fix-ups are pure
# gathers). Output equality with the per-doc path is asserted by
# tests/test_suffix.py::test_batched_anchors_equal_per_doc.

_CHUNK_CHAR_BUDGET = 4_000_000  # bound temp arrays to ~that many chars


def _sliding_leftmost_argmin(h: np.ndarray, w: int) -> np.ndarray:
    """Absolute position of the leftmost minimum of every w-window of h.

    Sparse-table doubling (O(log w) contiguous vector passes) — numpy's
    argmin over a (n, w) strided sliding view goes through a strided
    reduce that measured ~10× slower at millions of windows. Tie-break:
    a strictly-smaller right block wins, else the left block's position —
    exactly the leftmost-min rule of `_winnow_select` (positions in the
    left block are all smaller; an overlap tie appears in both blocks and
    resolves to the left copy)."""
    m = len(h) - w + 1
    vals = h
    poss = np.arange(len(h), dtype=np.int64)
    span = 1
    while span * 2 <= w:
        right_v = vals[span:]
        take = right_v < vals[: len(right_v)]
        vals = np.where(take, right_v, vals[: len(right_v)])
        poss = np.where(take, poss[span : span + len(right_v)], poss[: len(right_v)])
        span *= 2
    off = w - span
    left_v, left_p = vals[:m], poss[:m]
    right_v, right_p = vals[off : off + m], poss[off : off + m]
    take = right_v < left_v
    return np.where(take, right_p, left_p)


def _pows_pair(base: np.uint64, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(b_pows, binv_pows) up to length n+1 for one base."""
    return _pow_mod64(int(base), n + 1), _pow_mod64(_inv_mod64(int(base)), n + 1)


def _anchors_batch(
    doc_ids: np.ndarray, texts: list[str], min_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, pos, h1, h2) arrays for a whole batch of docs.

    Bit-identical to mapping _anchors_and_hashes over the docs (asserted
    in tests); one vectorized pass over the concatenated codepoints.
    """
    w, win = winnow_params(min_len)
    keep = [i for i, t in enumerate(texts) if len(t) >= min_len]
    empty = (
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
    )
    if not keep:
        return empty
    big = _codepoints("".join(texts[i] for i in keep))
    lens = np.array([len(texts[i]) for i in keep], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    n = len(big)

    b1, binv1 = _pows_pair(_B1, n)
    b2, binv2 = _pows_pair(_B2, n)
    q1 = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(big * binv1[:n], out=q1[1:], dtype=np.uint64)
    q2 = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(big * binv2[:n], out=q2[1:], dtype=np.uint64)

    # k-gram hashes at every global position (garbage where a k-gram
    # crosses a doc boundary — those positions are never selected below)
    m_total = n - _K + 1
    scale = np.uint64(pow(int(_B1), _K - 1, 2**64))
    kg = (q1[_K : m_total + _K] - q1[:m_total]) * b1[:m_total] * scale

    # global sliding-window leftmost-argmin; valid starts per doc are
    # [off, off + m - w] with m = len - K + 1, all windows in-doc
    gmin = _sliding_leftmost_argmin(kg, w)

    # gather every doc's window range without a per-doc loop: a mask over
    # global window-start positions, built with the range-diff trick
    n_win = lens - _K + 1 - w + 1  # windows per doc (≥ 1 for len ≥ min_len)
    w_starts = offs[:-1]
    w_ends = w_starts + n_win
    delta = np.zeros(len(gmin) + 1, dtype=np.int64)
    np.add.at(delta, w_starts, 1)
    np.add.at(delta, w_ends, -1)
    mask = np.cumsum(delta[:-1]) > 0
    sel = gmin[mask]
    doc_idx = np.repeat(np.arange(len(keep)), n_win)

    # within a doc the leftmost-min selection is monotone non-decreasing
    # in the window start (standard winnowing property), so consecutive
    # dedup ≡ np.unique per doc (equality asserted in tests)
    first = np.ones(len(sel), dtype=bool)
    if len(sel) > 1:
        first[1:] = (sel[1:] != sel[:-1]) | (doc_idx[1:] != doc_idx[:-1])
    sel = sel[first]
    doc_idx = doc_idx[first]
    loc = sel - offs[doc_idx]
    ok = loc <= lens[doc_idx] - win
    sel, doc_idx, loc = sel[ok], doc_idx[ok], loc[ok]
    if not len(sel):
        return empty
    h1 = (q1[sel + win] - q1[sel]) * b1[sel]
    h2 = (q2[sel + win] - q2[sel]) * b2[sel]
    out_ids = np.asarray(doc_ids, dtype=np.int64)[np.asarray(keep)][doc_idx]
    return out_ids, loc, h1.view(np.int64), h2.view(np.int64)


def anchored_windows(docs: DataFrame, min_len: int = 64) -> DataFrame:
    """(doc_id, pos, h1, h2) at winnowing-selected anchors.

    One vectorized `_anchors_batch` call per (char-bounded) chunk of the
    Arrow batch — no per-doc numpy calls, no per-doc DataFrames (guide
    §4.2; measured ~4× on the anchor stage at sf1.0, BENCH r06)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            texts = pdf["text"].fillna("").tolist()
            # chunk by char budget so the concatenated temp arrays stay
            # bounded even with very large documents in the batch
            i = 0
            while i < len(texts):
                j, chars = i, 0
                while j < len(texts) and (
                    j == i or chars + len(texts[j]) <= _CHUNK_CHAR_BUDGET
                ):
                    chars += len(texts[j])
                    j += 1
                d, pos, h1, h2 = _anchors_batch(ids[i:j], texts[i:j], min_len)
                yield pd.DataFrame(
                    {
                        "doc_id": d,
                        "pos": pos.astype(np.int32),
                        "h1": h1,
                        "h2": h2,
                    }
                )
                i = j

    return docs.select("doc_id", "text").mapInPandas(run, schema=ANCHOR_SCHEMA)


def _extend_matches(docs: DataFrame, matches: DataFrame, min_len: int) -> DataFrame:
    """Extend each aligned anchor match to its maximal shared run and keep
    (src, dst) pairs whose best run reaches min_len. Texts are joined in
    for candidate docs only — a tiny fraction of the corpus.

    Matches are grouped per (src, dst) BEFORE the text joins: a long
    shared run holds an anchor every ~w/2 chars, and attaching both texts
    to every anchor row shipped each text dozens of times through the
    join and the Arrow boundary (guide §2.3: shuffle keys/metadata, move
    payloads once). One row per pair carries the alignment list; inside
    the UDF, anchors that fall inside an already-extended maximal run on
    the same diagonal are skipped — extension through any in-run point
    yields that same maximal run, so the emitted (dedup'd) triple set is
    unchanged (asserted against the brute-force oracle)."""
    _, win = winnow_params(min_len)
    texts = docs.select("doc_id", "text")
    grouped = matches.groupBy("src", "dst").agg(
        F.collect_list(F.struct("pos_src", "pos_dst")).alias("aligns")
    )
    joined = (
        grouped.join(texts.selectExpr("doc_id AS src", "text AS text_src"), "src")
        .join(texts.selectExpr("doc_id AS dst", "text AS text_dst"), "dst")
        .select("src", "dst", "aligns", "text_src", "text_dst")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_src, out_dst, out_ps, out_pd, out_len = [], [], [], [], []
            decoded: dict[int, np.ndarray] = {}
            for src, dst, aligns, ta, tb in zip(
                pdf["src"], pdf["dst"], pdf["aligns"],
                pdf["text_src"], pdf["text_dst"],
            ):
                src, dst = int(src), int(dst)
                a = decoded.get(src)
                if a is None:
                    a = decoded[src] = _codepoints(ta)
                b = decoded.get(dst)
                if b is None:
                    b = decoded[dst] = _codepoints(tb)
                # sort by (diagonal, pos): runs on one diagonal are met
                # left to right, so one end-marker per diagonal suffices
                pairs = sorted(
                    (int(x["pos_src"]) - int(x["pos_dst"]), int(x["pos_src"]))
                    for x in aligns
                )
                seen: set[tuple[int, int, int]] = set()
                prev_diag, prev_end = None, -1
                for diag, pa in pairs:
                    if diag != prev_diag:
                        prev_diag, prev_end = diag, -1
                    if pa < prev_end:  # inside the previous maximal run
                        continue
                    pb = pa - diag
                    # right extension (vectorized mismatch scan)
                    x, y = a[pa + win :], b[pb + win :]
                    nr = min(len(x), len(y))
                    neq = x[:nr] != y[:nr]
                    ext_r = int(np.argmax(neq)) if neq.any() else nr
                    # left extension
                    x, y = a[:pa][::-1], b[:pb][::-1]
                    nl = min(len(x), len(y))
                    neq = x[:nl] != y[:nl]
                    ext_l = int(np.argmax(neq)) if neq.any() else nl
                    prev_end = pa + win + ext_r
                    trip = (pa - ext_l, pb - ext_l, win + ext_r + ext_l)
                    if trip in seen:
                        continue
                    seen.add(trip)
                    out_src.append(src)
                    out_dst.append(dst)
                    out_ps.append(trip[0])
                    out_pd.append(trip[1])
                    out_len.append(trip[2])
            yield pd.DataFrame(
                {
                    "src": pd.Series(out_src, dtype="int64"),
                    "dst": pd.Series(out_dst, dtype="int64"),
                    "pos_src": pd.Series(out_ps, dtype="int32"),
                    "pos_dst": pd.Series(out_pd, dtype="int32"),
                    "run_len": pd.Series(out_len, dtype="int32"),
                }
            )

    runs = joined.mapInPandas(
        run,
        schema="src long, dst long, pos_src int, pos_dst int, run_len int",
    )
    # output rows are globally unique WITHOUT a dedup exchange: all
    # anchors of one (src, dst) pair arrive in a single grouped row, and
    # the in-UDF `seen` set collapses the anchors of each maximal run to
    # one triple (round 5 paid a dropDuplicates shuffle here)
    return runs.where(F.col("run_len") >= min_len)


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = 64,
    max_docs_per_window: int = 1000,
) -> DataFrame:
    """Every maximal shared run ≥ min_len chars, WITH its aligned spans:
    (src < dst, pos_src, pos_dst, run_len) — positions 0-based codepoint
    offsets. This is what a boilerplate-removal consumer acts on (the
    reference's analog output is the duplicated region itself); the
    pair-level view `substring_dup_pairs` is the groupBy-max of this.

    Exactness: a maximal run corresponds 1:1 to a maximal diagonal chain
    of matching min_len-char windows (the brute-force oracle's form), and
    every run ≥ min_len contains a winnowing anchor at the same relative
    offset in both docs (module docstring), whose extension recovers
    exactly that maximal run — so the emitted span set equals the
    oracle's. Multiple anchors inside one run dedup to one span row.
    """
    return _substring_matches(docs, min_len, max_docs_per_window).select(
        "src", "dst", "pos_src", "pos_dst", "run_len"
    )


def substring_dup_pairs(
    docs: DataFrame,
    min_len: int = 64,
    max_docs_per_window: int = 1000,
) -> DataFrame:
    """Pairs (src < dst) sharing a verbatim ≥min_len-char run — exact.

    Viral windows (boilerplate shared by >max_docs_per_window docs) are
    dropped from pairing — they'd blow up quadratically; they are exactly
    the "remove this boilerplate everywhere" case, better served by the
    exact-hash layer. Not silent: `suffix_metrics` surfaces them.
    """
    return (
        _substring_matches(docs, min_len, max_docs_per_window)
        .groupBy("src", "dst")
        .agg(F.max("run_len").alias("run_len"))
        .select("src", "dst", "run_len")
    )


def _substring_matches(
    docs: DataFrame,
    min_len: int = 64,
    max_docs_per_window: int = 1000,
) -> DataFrame:
    from simages_spark.operators.buckets import bucket_pairs

    # LAZY localCheckpoint: the anchor UDF (the expensive Python stage)
    # runs exactly once even though anchors feed both the viral-count agg
    # and the pairing join — the checkpointed RDD pins the lineage so
    # column pruning cannot diverge the two consumers into re-running the
    # UDF (without any checkpoint the counts branch prunes `pos` below
    # its exchange, the subtrees stop being identical, exchange reuse
    # breaks, and the UDF measurably runs TWICE). eager=False because the
    # first consuming stage materializes the blocks anyway (block-manager
    # locking guarantees compute-once); the former eager=True spent a
    # dedicated blocking job on the same materialization. (NOT .persist():
    # a CacheManager entry would leak until an explicit unpersist and
    # silently cache-substitute repeated invocations in one session —
    # the checkpointed RDD is a fresh compute per call and GC-cleaned.)
    # The single hash-repartition on the bucket key then serves the whole
    # pairing path (guide §2.4): the viral-count agg (incl. its distinct
    # pre-agg), the eligibility join and bucket_pairs' collect all reuse
    # that partitioning — the round-5 plan exchanged anchor rows three
    # times (count-distinct expand, count, collect). The explicit
    # partition count keeps AQE from coalescing the small local shuffle
    # to one partition, which would serialize the pair expansion.
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    anchors = (
        anchored_windows(docs, min_len)
        .localCheckpoint(eager=False)
        .repartition(nparts, "h1", "h2")
    )
    counts = anchors.groupBy("h1", "h2").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    # the shared-window counts are the hash-join build side on every
    # call. With both sides under the broadcast threshold (small inputs)
    # AQE would otherwise build from whichever side's stage finished
    # first, so identical calls ran different physical plans and each
    # flip recompiled their generated classes. Both sides are already
    # partitioned on (h1, h2): the shuffled hash join adds no exchange.
    eligible = anchors.join(
        counts.where(f"n_docs > 1 AND n_docs <= {max_docs_per_window}")
        .select("h1", "h2")
        .hint("shuffle_hash"),
        ["h1", "h2"],
    )
    # bucket_pairs dedup=False: an anchor (doc_id, pos) emits exactly one
    # (h1, h2), so a member pair can only co-occur in that single bucket —
    # cross-bucket duplicates are impossible and the pair-dedup exchange
    # was a no-op. (The extension UDF's in-run skip + seen-set would
    # collapse duplicates anyway; there are none to collapse.)
    matches = (
        bucket_pairs(
            eligible.selectExpr("h1", "h2", "struct(doc_id, pos) AS m"),
            ["h1", "h2"],
            "m",
            cap=4 * max_docs_per_window,
            nsalt=8,
            dedup=False,
        )
        .where("a.doc_id != b.doc_id")
        .selectExpr(
            "a.doc_id AS src", "b.doc_id AS dst", "a.pos AS pos_src", "b.pos AS pos_dst"
        )
    )
    return _extend_matches(docs, matches, min_len)


def suffix_metrics(docs: DataFrame, min_len: int = 64) -> DataFrame:
    counts = anchored_windows(docs, min_len).groupBy("h1", "h2").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_anchors"),
    )
    return counts.agg(
        F.count("*").alias("n_windows"),
        F.sum("n_anchors").alias("n_anchor_rows"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_shared_windows"),
        F.max("n_docs").alias("max_docs_per_window"),
    )


def strip_duplicate_spans(
    docs: DataFrame,
    min_len: int = 64,
    max_docs_per_window: int = 1000,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Substring-level dedup as text SURGERY (Lee et al., ACL'22,
    "Deduplicating Training Data Makes Language Models Better" — public):
    for every maximal shared run, the keep-first LOSER of the pair has
    its occurrence deleted from its text; the earliest doc under the
    keeper order (warc_ts asc NULLS LAST, doc_id asc — the exact
    `keep_first_policy` order; doc_id alone when no warc_ts column)
    keeps every span it holds. The reference's whole-file analog is the
    delete/Trash policy (src/simages/duplicate_finder.py:286-301); this
    is its sub-document form — the training-data payoff of the suffix
    pass: boilerplate is REMOVED, the unique remainder survives.

    Returns one row per input doc: (doc_id, text [cleaned],
    n_spans_removed, n_chars_removed) — unmodified docs pass through
    with zeros. Per-doc cut intervals are merged (overlap AND touching)
    before surgery, so stacked spans from several winners never
    double-cut. All of it is JVM-side expression work: interval merge
    and splice are `aggregate` folds over per-doc arrays — no Python in
    the rewrite path (spans themselves come from the winnowed anchor
    UDF upstream).

    Guarantees (tested):
      * the globally earliest holder of a run keeps it — at least one
        occurrence of every duplicated substring survives the corpus;
      * removal is arrival-order / partitioning invariant (pure
        function of the span set and the keeper order);
      * a doc never loses text outside its reported spans.

    Same validity boundary as `substring_dup_spans`: exact while no
    anchor window exceeds `max_docs_per_window` (truncation is surfaced
    by `suffix_metrics`, never silent).
    """
    if spans is None:
        spans = substring_dup_spans(docs, min_len, max_docs_per_window)

    # keeper-order priority key, comparable as a struct: NULL warc_ts
    # ranks last (nn=1), then ts, then doc_id (total order — ties
    # impossible across distinct docs)
    if "warc_ts" in docs.columns:
        nn, ts = "CAST(warc_ts IS NULL AS INT)", "coalesce(CAST(warc_ts AS BIGINT), 0)"
    else:
        nn, ts = "0", "CAST(0 AS BIGINT)"
    prio = docs.selectExpr("doc_id", f"struct({nn} AS nn, {ts} AS ts, doc_id AS id) AS prio")

    # the loser of each span's pair is cut over [s, e)
    cut_pos = "CASE WHEN p_src < p_dst THEN pos_dst ELSE pos_src END"
    cuts = (
        spans.join(prio.selectExpr("doc_id AS src", "prio AS p_src"), "src")
        .join(prio.selectExpr("doc_id AS dst", "prio AS p_dst"), "dst")
        .selectExpr(
            "CASE WHEN p_src < p_dst THEN dst ELSE src END AS doc_id",
            f"{cut_pos} AS s",
            f"{cut_pos} + run_len AS e",
        )
    )

    # sorted intervals folded left to right: one that overlaps or
    # touches the last merged interval extends it, else it is appended
    last = "element_at(acc, -1)"
    merged = f"""aggregate(
        array_sort(collect_list(struct(s, e))),
        CAST(NULL AS array<struct<s:int,e:int>>),
        (acc, x) -> CASE
          WHEN acc IS NULL THEN array(x)
          WHEN x.s <= {last}.e THEN concat(
            slice(acc, 1, size(acc) - 1),
            array(struct({last}.s AS s, greatest({last}.e, x.e) AS e)))
          ELSE concat(acc, array(x))
        END) AS merged"""
    per_doc = cuts.groupBy("doc_id").agg(F.expr(merged))

    # the text between consecutive cuts, concatenated
    spliced = """aggregate(
        merged,
        struct('' AS out, 0 AS prev),
        (acc, x) -> struct(
          concat(acc.out, substr(text, acc.prev + 1, x.s - acc.prev)) AS out,
          x.e AS prev),
        acc -> concat(acc.out, substr(text, acc.prev + 1, length(text) - acc.prev)))"""
    removed_chars = "aggregate(merged, 0, (a, x) -> a + x.e - x.s)"
    return docs.join(per_doc, "doc_id", "left").selectExpr(
        "doc_id",
        f"CASE WHEN merged IS NOT NULL THEN {spliced} ELSE text END AS text",
        "CASE WHEN merged IS NOT NULL THEN size(merged) ELSE 0 END AS n_spans_removed",
        f"CASE WHEN merged IS NOT NULL THEN {removed_chars} ELSE 0 END"
        " AS n_chars_removed",
    )
