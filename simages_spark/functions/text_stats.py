"""Text-analysis column functions for training-data pipelines.

All pure JVM column expressions (whole-stage codegen; no Python), each
with an exactly-matching DuckDB oracle in `__spark_entry__.py`:
language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and min-hash document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from simages_spark.functions.shingles import shingles_col, tokens_col

# tiny deterministic stopword lists per language — heuristic signal only
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break order

BPE_TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword count: alpha runs + digit runs + lone symbols."""
    return F.regexp_count(F.lower(text), F.lit(BPE_TOKEN_REGEX))


def stopword_hits(text: Column, lang: str) -> Column:
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens_col(text)),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def lang_id(text: Column) -> Column:
    """Predicted language = argmax distinct-stopword hits; ties resolve in
    LANG_ORDER; zero hits everywhere → 'und' (undetermined)."""
    hits = {lang: stopword_hits(text, lang) for lang in LANG_ORDER}
    best = F.greatest(*[hits[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_columns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality metrics: token count, mean token length, stopword
    ratio (en), non-alnum ratio, BPE-ish token count."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        F.round(
            F.when(
                n_toks > 0,
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
                ).cast("double")
                / n_toks,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.when(n_toks > 0, stopword_hits(text, "en").cast("double") / n_toks)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.when(
                F.length(text) > 0,
                (
                    F.length(text)
                    - F.length(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""))
                ).cast("double")
                / F.length(text),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("symbol_ratio"),
        lang_id(text).alias("lang_pred"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per doc: duplicate-token
    ratio (1 - distinct/total), top-token ratio (most frequent token's
    share), duplicate-2-gram ratio — the standard "is this page machine-
    repeated boilerplate" filters for webtext training data.

    Token frequencies go through explode → two keyed aggregations with
    map-side partial combine — NOT an O(L²) per-row array lambda (Spark
    higher-order lambdas are interpreted per element; a 10⁴-token page
    would pay 10⁸ interpreted ops). The 2-gram ratio stays a per-row
    array expression: the tokens are bound once as a lambda variable,
    so its L-1 windows are O(L) work per page (a lambda referencing
    `tokens_col(text)` itself re-splits the page per window, O(L²)).
    Empty/null text → all ratios 0.0.
    """
    text = F.col(text_col)
    toks = tokens_col(text)

    def dup_2gram_ratio(t: Column) -> Column:
        n = F.size(t)  # NULL for null text (Spark 4 ANSI; legacy gave -1)
        grams2 = F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
        )
        # n - 1 windows when n ≥ 2
        return F.when(
            n >= 2, 1.0 - F.size(F.array_distinct(grams2)).cast("double") / (n - 1)
        ).otherwise(F.lit(0.0))

    g2 = docs.select(
        "doc_id",
        F.round(F.transform(F.array(toks), dup_2gram_ratio)[0], 6).alias(
            "dup_2gram_ratio"
        ),
    )
    tok_counts = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("_n_toks"),
        F.max("c").alias("_top_n"),
        F.count("*").alias("_n_distinct"),
    )
    return (
        g2.join(tok_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n_toks"), F.lit(0)).alias("n_tokens"),
            F.round(
                F.when(
                    F.col("_n_toks") > 0,
                    1.0
                    - F.col("_n_distinct").cast("double") / F.col("_n_toks"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_token_ratio"),
            F.round(
                F.when(
                    F.col("_n_toks") > 0,
                    F.col("_top_n").cast("double") / F.col("_n_toks"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_token_ratio"),
            "dup_2gram_ratio",
        )
    )


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 15,
    max_dup_token_ratio: float = 0.6,
    max_top_token_ratio: float = 0.25,
    text_col: str = "text",
) -> DataFrame:
    """The composed C4/Gopher-style training-set gate: (doc_id, keep,
    reason) where `reason` is the FIRST failing rule — too_short,
    repetitive_tokens (duplicate-token ratio), dominant_token (top-token
    share) — or 'keep'. Thresholds compare against the round-6 ratios of
    `repetition_stats`, so the decision is engine-portable (the same
    rounded values the oracle replays)."""
    rep = repetition_stats(docs, text_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(
            F.col("dup_token_ratio") > max_dup_token_ratio,
            F.lit("repetitive_tokens"),
        )
        .when(
            F.col("top_token_ratio") > max_top_token_ratio,
            F.lit("dominant_token"),
        )
        .otherwise(F.lit("keep"))
    )
    return rep.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Deterministic content fingerprint: lexicographic min of the md5s of
    the doc's shingles (a 1-perm MinHash with a portable hash — the same
    value is computable in any engine with md5)."""
    sh = shingles_col(F.col(text_col), k)
    md5s = F.transform(sh, lambda s: F.md5(s))
    return docs.select(
        "doc_id",
        F.when(F.size(md5s) > 0, F.array_min(md5s)).alias("fingerprint"),
        F.size(sh).alias("num_shingles"),
    )
