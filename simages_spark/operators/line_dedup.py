"""Segment(line)-level corpus-wide dedup — the CCNet / RefinedWeb tier.

Web-scale training pipelines dedup at THREE granularities: whole document
(operators/exact.py, the reference's sha-grouping analog,
src/simages/duplicate_finder.py:255-283), duplicated substring runs
(operators/suffix.py, Lee et al. ACL'22), and repeated *lines/segments* —
the boilerplate tier (cookie banners, nav text, footers) that CCNet
(Wenzek et al., LREC'20) and RefinedWeb remove by hashing normalized
lines corpus-wide and keeping only the first occurrence. The reference
has no analog (single images have no "lines"); this operator is part of
the training-data-pipeline surface the engine adds on top.

Our canonical texts are whitespace-normalized single-line strings, so
the "line" here is a fixed-width token window: consecutive runs of
`words_per_segment` canonical tokens (functions/shingles.py tokenizer —
the SAME tokenization every other tier uses, so the oracle mirrors from
one source of truth). For corpora with real newlines, pass a splitter
built on split('\\n') instead; the election/rollup/reassembly machinery
below is granularity-agnostic.

Scale posture (the part that matters at 100 TB):
- segmentation is pure JVM column algebra (tokens → slice windows →
  posexplode) — whole-stage codegen, no Python;
- keeper election is groupBy(segment_key) + min of one decimal
  (doc_id, pos) key — map-side partial aggregation absorbs hot
  boilerplate keys (a 10^9-occurrence cookie banner contributes ONE row
  per map task to the shuffle), which is exactly why this is NOT a
  Window.partitionBy(key).row_number() (one task would hold the whole
  hot key);
- the deduped corpus needs no marking: each segment's election winner
  IS its one kept occurrence, so the winners (carrying their segment
  text) reassemble directly and the occurrences are segmented once;
  only the per-doc stats mark every occurrence, through an equi-join
  occurrences ⋈ winners on the segment key — sort-merge,
  AQE-skew-splittable;
- the segment key is the full 128-bit md5 hex of the segment text, not
  the 60-bit shingle hash: line removal is DESTRUCTIVE (a collision
  deletes an innocent line), and at ~10^12 segments a 60-bit space is
  past its birthday bound while 128-bit collisions stay negligible.
  md5 is portable to the DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType

from simages_spark.functions.shingles import TOKENS_SQL
from simages_spark.operators.buckets import _bind

DEFAULT_WORDS_PER_SEGMENT = 10


def segments_sql(text: str, words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT) -> str:
    """SQL: array<string> of consecutive `words_per_segment`-token
    windows of the SQL expression `text`.

    The last window may be shorter (slice clamps); zero-token and NULL
    texts map to an EMPTY array — the size guard matters because
    sequence(0, -1) in Spark is [0, -1], not []. The tokens are split
    ONCE and bound as the lambda variable `toks` (`buckets._bind`): a
    window lambda that referenced the tokenizer itself re-split the
    whole page per window.
    """
    w = words_per_segment
    windows = (
        f"transform(sequence(0, CAST(ceil(size(toks) / {w}D) AS INT) - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {w} + 1, {w})))"
    )
    return _bind(
        TOKENS_SQL.format(text=text),
        "toks",
        f"CASE WHEN size(toks) > 0 THEN {windows} "
        "ELSE CAST(array() AS array<string>) END",
    )


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def doc_segments(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, segment, seg_key) — one row per segment occurrence.

    `seg_key` is the md5 hex of the segment string (see module note on
    why 128 bits, not the 60-bit shingle hash). Null/empty texts emit no
    rows; doc-level consumers re-attach them via a left join.
    """
    segs = segments_sql(_quoted(text_col), words_per_segment)
    return docs.selectExpr(
        "doc_id", f"posexplode({segs}) AS (pos, segment)"
    ).selectExpr("doc_id", "pos", "segment", "md5(segment) AS seg_key")


_ENC_TWO63 = "CAST('9223372036854775808' AS DECIMAL(38,0))"  # 2^63
_ENC_MUL = "CAST('2147483648' AS DECIMAL(38,0))"  # 2^31 > any pos (int32 ≥ 0)
# the keep-first winner's (doc_id, pos), decoded from `_e` (see
# `_first_occurrence`)
_W_DOC_ID = f"CAST((_e - _e % {_ENC_MUL}) / {_ENC_MUL} - {_ENC_TWO63} AS BIGINT)"
_W_POS = f"CAST(_e % {_ENC_MUL} AS INT)"


def _first_occurrence(occurrences: DataFrame) -> str:
    """SQL aggregate `_e`: the FIRST occurrence under (doc_id asc, pos
    asc) of a group, as ONE decimal(38,0), (doc_id + 2^63)·2^31 + pos —
    strictly monotone in (doc_id asc, pos asc), exact (≤ 29 digits), and
    decoded losslessly by `_W_DOC_ID` / `_W_POS`.

    The encoding is only order-preserving for 0 ≤ pos < 2^31: an int
    `pos` column is required (a long one is refused here), and a
    negative or NULL pos fails the query through raise_error instead of
    electing a wrong keeper."""
    fields = {f.name: f.dataType for f in occurrences.schema.fields}
    if not isinstance(fields.get("pos"), IntegerType):
        raise TypeError(
            f"keep-first election needs an int `pos` column, got {fields.get('pos')}"
        )
    pos = (
        "CASE WHEN pos >= 0 THEN pos ELSE raise_error("
        "'keep-first election: pos must be a non-negative int') END"
    )
    return (
        f"min((CAST(doc_id AS DECIMAL(38,0)) + {_ENC_TWO63}) * {_ENC_MUL}"
        f" + CAST({pos} AS DECIMAL(38,0))) AS _e"
    )


def segment_keepers(occurrences: DataFrame) -> DataFrame:
    """Corpus-wide keep-first election: per seg_key, the (doc_id, pos)
    of the FIRST occurrence under (doc_id asc, pos asc) — the same
    keep-first order every other dedup tier uses (min doc_id keeps,
    reference keeper semantics src/simages/duplicate_finder.py:403-409).

    One shuffle with map-side partial agg; hot boilerplate keys reduce
    map-side instead of serializing through one window task.

    The lexicographic (doc_id, pos) min is computed over one decimal
    encoding (`_first_occurrence`, which also enforces its pos
    precondition). Why not `min(struct(doc_id, pos))`: a struct
    aggregation buffer is not a mutable UnsafeRow type, so the planner
    fell back to SortAggregate and SORTED every occurrence row on both
    sides of the exchange (observed in the plan; guide §7.2). The
    decimal buffer is fixed-width mutable → plain HashAggregate, and the
    map-side partial agg still collapses hot boilerplate keys — now
    without the sorts. Equality with the struct-min form is pinned by
    tests/test_line_dedup.py over full-range doc_ids.
    """
    return (
        occurrences.groupBy("seg_key")
        .agg(F.expr(_first_occurrence(occurrences)))
        .selectExpr("seg_key", f"{_W_DOC_ID} AS w_doc_id", f"{_W_POS} AS w_pos")
    )


def _marked_occurrences(
    docs: DataFrame, words_per_segment: int, text_col: str
) -> DataFrame:
    occ = doc_segments(docs, words_per_segment, text_col)
    winners = segment_keepers(occ)
    # winners has the same cardinality class as occurrences (≈ one row
    # per distinct segment) — never genuinely broadcastable beyond toy
    # corpora, but Catalyst prices the in-memory explode→agg chain small
    # enough to auto-broadcast at ANY corpus size (the same misestimate
    # that blew the verify payload join at 10M — see verify.py). Pin
    # sort-merge: spillable, AQE-skew-splittable, what accurate stats
    # would pick anyway.
    return occ.join(winners.hint("merge"), "seg_key").withColumn(
        "is_dup",
        (F.col("doc_id") != F.col("w_doc_id"))
        | (F.col("pos") != F.col("w_pos")),
    )


def line_dup_stats(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc boilerplate accounting: (doc_id, n_segments,
    n_dup_segments, dup_segment_ratio). Docs with no tokens report 0/0
    with NULL ratio (they hold nothing dedupable — same convention as
    source_dup_stats' empty-doc handling)."""
    marked = _marked_occurrences(docs, words_per_segment, text_col)
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_segments"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_dup_segments", F.lit(0)).alias("n_dup_segments"),
            F.round(
                F.col("n_dup_segments").cast("double") / F.col("n_segments"), 6
            ).alias("dup_segment_ratio"),
        )
    )


def line_deduped_corpus(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """The segment-deduped corpus: every repeated segment keeps exactly
    its first corpus-wide occurrence; later occurrences are CUT from
    their doc's text (order of surviving segments preserved). Returns
    (doc_id, text_deduped, n_segments_kept); fully-boilerplate docs
    survive with empty text (dropping them is a separate policy call —
    no silent row loss here).

    Join-free: each segment keeps exactly one occurrence, its keep-first
    winner, so the election's winners ARE the kept rows. The election
    groups on (seg_key, segment) — `segment` determines `seg_key`, so
    the groups are the seg_key groups, and carrying the segment through
    the aggregate lets the winner rows reassemble directly. The
    occurrences are therefore segmented once and read by one consumer;
    marking every occurrence against the winners (`line_dup_stats`)
    would need them twice plus a seg_key join.

    Reassembly is one doc-keyed shuffle: sort_array over collected
    (pos, segment) structs — per-doc bounded, no window.
    """
    occ = doc_segments(docs, words_per_segment, text_col)
    kept = (
        occ.groupBy("seg_key", "segment")
        .agg(F.expr(_first_occurrence(occ)))
        .selectExpr(f"{_W_DOC_ID} AS doc_id", f"{_W_POS} AS pos", "segment")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "concat_ws(' ', transform(sort_array(collect_list(struct(pos, segment))),"
            " s -> s.segment)) AS text_deduped"
        ),
        F.expr("count(*) AS n_segments_kept"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(text_deduped, '') AS text_deduped",
            "coalesce(n_segments_kept, 0) AS n_segments_kept",
        )
    )


def duckdb_segments_cte(
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    tokens_sql: str | None = None,
    table: str = "documents",
) -> str:
    """DuckDB mirror of doc_segments as a CTE body over `table`:
    yields (doc_id, pos, seg). Single source of truth for the oracle —
    generated next to the Spark implementation so a segmentation change
    cannot drift silently. `table` may be any relation name visible in
    the enclosing query (e.g. a survivors CTE in the curation oracle)."""
    from simages_spark.functions.shingles import DUCKDB_TOKENS_SQL

    toks = tokens_sql or DUCKDB_TOKENS_SQL.format(text="text")
    w = words_per_segment
    return f"""
      SELECT doc_id, u.pos AS pos, u.seg AS seg
      FROM (
        SELECT doc_id, unnest(
          [struct_pack(
             pos := i - 1,
             seg := array_to_string(toks[(i-1)*{w}+1:(i-1)*{w}+{w}], ' '))
           for i in range(1, CAST(ceil(len(toks)/{w}.0) AS INT) + 1)]
        ) AS u
        FROM (SELECT doc_id, {toks} AS toks FROM {table})
      )
    """.strip()
