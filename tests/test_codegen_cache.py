"""Repeat passes of the pipelines compile no new generated classes.

Spark compiles each whole-stage / expression class once and caches it,
keyed by its source text, in a cache of
`spark.sql.codegen.cache.maxEntries` entries (set by `get_spark`). A
cache smaller than a pipeline's working set, or a plan fragment whose
generated source changes from call to call (a per-call literal, an AQE
stage id in the class name), makes every repeat pass compile again.

Broadcast joins are off for these passes. With both sides of a join
under the broadcast threshold, as on this tiny corpus, AQE builds the
hash table from whichever side's stage finishes first, so the plan
itself, and its generated classes, can differ from pass to pass.
"""

from __future__ import annotations

import datetime
import random
import statistics

import pytest

from simages_spark.config import DedupConfig
from simages_spark.operators.groups import keep_first_policy
from simages_spark.operators.line_dedup import line_deduped_corpus
from simages_spark.operators.suffix import strip_duplicate_spans
from simages_spark.pipeline import find_duplicates

REPEATS = 2  # after the cold pass: three identical passes in all


def _compiles(spark) -> int:
    """Classes this JVM has compiled so far, from Spark's CodegenMetrics."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _repeat_compiles(spark, run_pass) -> list[int]:
    """Compiles in each of REPEATS passes after one cold pass."""
    run_pass()
    counts = []
    for _ in range(REPEATS):
        c0 = _compiles(spark)
        run_pass()
        counts.append(_compiles(spark) - c0)
    return counts


@pytest.fixture
def no_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def _corpus(spark):
    """24 pages in groups of four: a base, its exact copy, a one-word
    near-dup and a page sharing the base's first half verbatim; every
    page ends in one boilerplate footer line."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    footer = " ".join(["cookie", "policy", "menu", "footer"] * 6)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for g in range(6):
        base = [rng.choice(vocab) for _ in range(60)]
        near = base[:30] + ["changed"] + base[31:]
        half = [rng.choice(vocab) for _ in range(20)] + base[:30]
        for k, words in enumerate((base, base, near, half)):
            doc_id = 4 * g + k
            text = " ".join(words) + "\n" + footer
            rows.append((doc_id, text, t0 + datetime.timedelta(hours=(doc_id * 7) % 24)))
    return spark.createDataFrame(rows, "doc_id long, text string, warc_ts timestamp")


def test_find_duplicates_repeat_passes_compile_nothing(spark, no_broadcast):
    docs = _corpus(spark)
    cfg = DedupConfig()

    def run_pass():
        res = find_duplicates(docs, cfg)
        keep_first_policy(res.clusters, docs, cfg).collect()
        # find_duplicates persists these; the next pass must recompute
        res.signatures.unpersist()
        res.edges.unpersist()

    counts = _repeat_compiles(spark, run_pass)
    assert statistics.median(counts) == 0, counts


def test_span_and_line_dedup_repeat_passes_compile_nothing(spark, no_broadcast):
    docs = _corpus(spark)

    def run_pass():
        line_deduped_corpus(strip_duplicate_spans(docs)).collect()

    counts = _repeat_compiles(spark, run_pass)
    assert statistics.median(counts) == 0, counts
