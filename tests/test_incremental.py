"""Incremental probe: index equivalence, retry idempotence, and
within-batch unification (round-3 verdict items 1 and 5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures
from simages_spark.operators.incremental import incremental_dedup_edges

CFG = DedupConfig()

BASE_A = " ".join(f"word{i}" for i in range(40))
NEAR_A = " ".join(("CHANGED" if i == 20 else f"word{i}") for i in range(40))
BASE_B = " ".join(f"other{i}" for i in range(40))
BASE_C = " ".join(f"third{i}" for i in range(40))
NEAR_C = " ".join(("EDITED" if i == 5 else f"third{i}") for i in range(40))

DOCS_SCHEMA = "doc_id long, text string"


def _df(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _edges(df):
    return {(r["src"], r["dst"]): round(r["jaccard"], 6) for r in df.collect()}


def test_probe_index_equivalence(spark, tmp_path):
    """Probing the index as the crawl stores it (a SnapshotTable of
    `probe_keys`) yields exactly the edges of the recompute-from-signatures
    path."""
    from simages_spark.operators.sig_index import probe_keys
    from simages_spark.table import SnapshotTable

    corpus = _df(spark, [(1, BASE_A), (2, BASE_B), (3, BASE_C)])
    batch = _df(spark, [(10, NEAR_A), (11, BASE_C), (12, "fresh unrelated")])
    sig = compute_signatures(corpus, CFG)

    direct = _edges(incremental_dedup_edges(batch, sig, CFG))

    table = SnapshotTable(spark, str(tmp_path / "idx_table"))
    table.append(probe_keys(sig, CFG))
    via_index = _edges(
        incremental_dedup_edges(batch, sig, CFG, existing_index=table.read())
    )
    assert direct == via_index
    assert (10, 1) in direct and direct[(11, 3)] == 1.0


def test_simhash_parity_in_probe(spark):
    """The probe unions SimHash combination keys (round-2 advice): a pair
    whose jaccard clears tau but whose Hamming distance is <= d must be
    found even if we null out the MinHash band agreement by restricting
    the index to simhash keys only."""
    from simages_spark.operators.sig_index import probe_keys

    # one changed token in 400: hamming(simhash) == 3 <= d, jaccard 0.975
    long_base = " ".join(f"tok{i}" for i in range(400))
    long_near = " ".join(
        ("CHANGED" if i == 200 else f"tok{i}") for i in range(400)
    )
    corpus = _df(spark, [(1, long_base), (2, BASE_B)])
    batch = _df(spark, [(10, long_near)])
    sig = compute_signatures(corpus, CFG)
    # simhash-only index: drop the band-key family (kind 0)
    sim_only = probe_keys(sig, CFG).where("kind = 1")
    got = _edges(
        incremental_dedup_edges(batch, sig, CFG, existing_index=sim_only)
    )
    # NEAR_A vs BASE_A: 1 token changed of 40 -> hamming tiny, jaccard ~0.76
    assert (10, 1) in got


def test_process_batch_retry_reads_pre_batch_state(
    spark, tmp_path, monkeypatch
):
    """A foreachBatch retry (same source_id, same batch id) after only
    some of the batch's three commits landed must still probe the
    PRE-batch state (batch_id < current scan): no within-batch edges
    leak in, the commits that landed are not repeated, and the end state
    equals a clean run's."""
    from simages_spark.streaming import process_near_dedup_batch_tables
    from simages_spark.table import SnapshotTable

    seed = _df(spark, [(1, BASE_A), (2, BASE_B)])
    # batch 1 contains an internal exact pair (10, 11) plus a corpus dup
    batch = _df(spark, [(10, NEAR_A), (11, NEAR_A)])

    def tables(root):
        return {
            n: SnapshotTable(spark, f"{root}/{n}")
            for n in ("sig_table", "idx_table", "edges_table")
        }

    clean_root = str(tmp_path / "clean")
    process_near_dedup_batch_tables(seed, 0, clean_root, CFG, source_id="s")
    process_near_dedup_batch_tables(batch, 1, clean_root, CFG, source_id="s")
    clean = _edges(tables(clean_root)["edges_table"].read())
    assert set(clean) == {(10, 1), (11, 1)}  # no (10,11)/(11,10) edge

    real_append = SnapshotTable.append_exactly_once
    # commit order is edges → sig → idx: crash before sig, then before idx
    for crash_at in ("sig_table", "idx_table"):
        root = str(tmp_path / f"crash_{crash_at}")
        process_near_dedup_batch_tables(seed, 0, root, CFG, source_id="s")

        def failing_append(self, df, source_id, seq, **kw):
            if self.root.endswith(crash_at):
                raise RuntimeError("injected crash")
            return real_append(self, df, source_id, seq, **kw)

        monkeypatch.setattr(
            SnapshotTable, "append_exactly_once", failing_append
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            process_near_dedup_batch_tables(batch, 1, root, CFG, source_id="s")
        monkeypatch.undo()
        t = tables(root)
        landed = {n: t[n].current_version() for n in t}

        # the retry: same source_id and batch id
        process_near_dedup_batch_tables(batch, 1, root, CFG, source_id="s")
        assert _edges(t["edges_table"].read()) == clean
        # the edges commit that landed was not repeated
        assert t["edges_table"].current_version() == landed["edges_table"]
        # store/index hold exactly one copy per batch
        assert t["sig_table"].read().count() == 4
        n_per_doc = t["idx_table"].read().groupBy("doc_id").count().collect()
        assert all(r["count"] == 36 for r in n_per_doc)  # 16 bands + 20 simhash


def test_unified_within_batch_equals_from_scratch(spark):
    """include_within_batch: (corpus-internal ∪ incremental) edges
    produce the same clusters as a from-scratch run on the union — the
    continuous-crawl loop needs no second pass (verdict item 5)."""
    from simages_spark.operators.connected_components import (
        connected_components,
    )
    from simages_spark.pipeline import find_duplicates

    corpus_rows = [(1, BASE_A), (2, "totally unrelated page text"), (3, BASE_B)]
    batch_rows = [
        (10, NEAR_A),   # near-dup of corpus doc 1
        (11, BASE_B),   # exact copy of corpus doc 3
        (12, BASE_C),   # new content...
        (13, BASE_C),   # ...exact within-batch dup
        (14, NEAR_C),   # ...near within-batch dup
    ]
    corpus, batch = _df(spark, corpus_rows), _df(spark, batch_rows)

    corpus_result = find_duplicates(corpus, CFG)
    inc = incremental_dedup_edges(
        batch,
        corpus_result.signatures,
        CFG,
        include_within_batch=True,
    )
    all_edges = corpus_result.edges.select("src", "dst", "jaccard").unionByName(
        inc.select("src", "dst", "jaccard")
    )
    got = connected_components(all_edges, CFG)

    scratch = find_duplicates(_df(spark, corpus_rows + batch_rows), CFG).clusters

    def members(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in out.values()}

    assert members(got) == members(scratch)
    assert frozenset({12, 13, 14}) in members(got)


def test_probe_metrics_counts(spark):
    from simages_spark.operators.incremental import probe_metrics
    from simages_spark.operators.sig_index import probe_keys

    corpus = _df(spark, [(1, BASE_A), (2, BASE_B)])
    batch = _df(spark, [(10, NEAR_A), (11, BASE_B), (12, "fresh unseen")])
    idx = probe_keys(compute_signatures(corpus, CFG), CFG)
    m = probe_metrics(compute_signatures(batch, CFG), idx, CFG).collect()[0]
    # (10,1) via bands; (11,2) exact copy — bands AND simhash; 12 nothing
    assert m["n_candidate_pairs"] == 2
    assert m["n_via_band"] == 2
    assert m["n_via_simhash"] >= 1
    assert m["n_matched_store_docs"] == 2
    assert m["n_hamming_cut_pairs"] >= 0


def test_probe_broadcasts_batch_and_never_shuffles_index(spark, tmp_path):
    """The probe's (kind, pkey) join broadcasts the batch's keys and
    reads the stored index straight into the join: a BroadcastHashJoin
    building the left (batch) side, with no Exchange between the index's
    parquet scan and the join. Checked on `probe_metrics`' executed plan,
    which shares `_probe_join` with `incremental_dedup_edges` (whose own
    plan starts at its eager localCheckpoint)."""
    from simages_spark.operators.incremental import probe_metrics
    from simages_spark.operators.sig_index import probe_keys
    from simages_spark.table import SnapshotTable

    corpus_sig = compute_signatures(_df(spark, [(1, BASE_A), (2, BASE_B)]), CFG)
    batch_sig = compute_signatures(_df(spark, [(10, NEAR_A), (11, BASE_B)]), CFG)
    table = SnapshotTable(spark, str(tmp_path / "idx_table"))
    table.append(probe_keys(corpus_sig, CFG))
    m = probe_metrics(batch_sig, table.read(), CFG)
    assert m.collect()[0]["n_candidate_pairs"] == 2
    # AQE's final plan: the part before "== Initial Plan =="
    plan = m._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()

    (at,) = [i for i, line in enumerate(lines) if "BroadcastHashJoin [kind" in line]
    assert "BuildLeft" in lines[at], lines[at]
    # children of the join hang at its own column: ":- " the build (batch)
    # side, then "+- " the index side, whose subtree is indented past it
    col = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    rails = [line[col:col + 3] for line in lines]
    second = next(i for i in range(at + 1, len(lines)) if rails[i] == "+- ")
    index_side = [lines[second]]
    for line, rail in zip(lines[second + 1:], rails[second + 1:]):
        if rail != "   ":
            break
        index_side.append(line)
    build_side = lines[at + 1:second]
    assert any("BroadcastExchange" in line for line in build_side), build_side
    assert "FileScan parquet" in index_side[-1], index_side
    assert not any("Exchange" in line for line in index_side), index_side


def test_first_batch_within_edges(spark, tmp_path):
    """include_within_batch on the FIRST batch (no prior store) still
    emits the batch-internal pairs."""
    from simages_spark.streaming import process_near_dedup_batch_tables
    from simages_spark.table import SnapshotTable

    root = str(tmp_path / "crawl")
    batch = _df(spark, [(1, BASE_A), (2, BASE_A), (3, "something else")])
    process_near_dedup_batch_tables(
        batch, 0, root, CFG, include_within_batch=True
    )
    got = _edges(SnapshotTable(spark, f"{root}/edges_table").read())
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1.0


def test_probe_does_not_leak_cache_entries(spark):
    """Round-3 advice item 3: the probe used to persist() its candidates
    and never release them — one CacheManager entry per micro-batch for
    the lifetime of a continuous-crawl query. The localCheckpoint rewrite
    must leave the CacheManager empty after every call."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    corpus = _df(spark, [(1, BASE_A), (2, BASE_B)])
    sig = compute_signatures(corpus, CFG)
    for b in range(3):
        batch = _df(spark, [(100 + b, NEAR_A), (200 + b, f"fresh {b} page")])
        edges = incremental_dedup_edges(batch, sig, CFG)
        assert (100 + b, 1) in _edges(edges)  # fully consumed
        assert cm.isEmpty(), f"cache entry leaked on micro-batch {b}"


def test_probe_payload_prefers_earliest_store_version(spark):
    """A doc_id re-delivered with CHANGED text (same url, new crawl)
    leaves two signature versions in the store; verify must score
    deterministically against the EARLIEST version (keep-first — the
    same policy the dedup tier applies to content), not whichever row
    wins the shuffle (round-5 review: edges flickered across runs)."""
    docs_a = spark.createDataFrame([(5, BASE_A)], "doc_id long, text string")
    docs_b = spark.createDataFrame([(5, BASE_B)], "doc_id long, text string")
    store = (
        compute_signatures(docs_a, CFG)
        .withColumn("batch_id", F.lit(0))
        .unionByName(
            compute_signatures(docs_b, CFG).withColumn("batch_id", F.lit(1))
        )
    )
    # the probe batch is an EXACT copy of version A: the edge (6, 5)
    # verifies at 1.0 iff the payload picked version A; against version
    # B the jaccard is ~0 and the edge would vanish below threshold
    new = compute_signatures(
        spark.createDataFrame([(6, BASE_A)], "doc_id long, text string"), CFG
    )
    edges = incremental_dedup_edges(None, store, CFG, new_signatures=new)
    got = {(r["src"], r["dst"]): r["jaccard"] for r in edges.collect()}
    assert got[(6, 5)] == 1.0
