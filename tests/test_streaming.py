"""Streaming incremental maintenance: new files → new signatures and
crawl state in SnapshotTables, exactly once, identical to the batch
computation."""

from __future__ import annotations

import os

from simages_spark.config import DedupConfig

CFG = DedupConfig()


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("append").parquet(path)


def test_stream_windowed_counts_watermark(spark, tmp_path):
    """Watermark semantics: append mode emits a window only after the
    watermark passes its end; an event arriving below the watermark is
    dropped, not merged into the already-finalized window."""
    from datetime import datetime

    from simages_spark.streaming import stream_windowed_event_counts

    inp = str(tmp_path / "events")
    out = str(tmp_path / "win")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp, exist_ok=True)

    def _events(rows):
        spark.createDataFrame(
            [
                (i, datetime(2024, 1, 1, h, m), 1, et, 1.0, "{}")
                for i, (h, m, et) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(inp)

    # batch 1: three events in the 00:00 window, one in 00:10
    _events([(0, 1, "click"), (0, 5, "click"), (0, 7, "view"), (0, 11, "view")])
    stream_windowed_event_counts(spark, inp, out, ckpt).awaitTermination()

    # batch 2: events at 01:00 advance max event time (watermark catches
    # up next run); nothing below the old watermark can emit yet
    _events([(1, 0, "click"), (1, 2, "view")])
    stream_windowed_event_counts(spark, inp, out, ckpt).awaitTermination()

    # batch 3: a LATE event for the 00:00 window (below the 00:59
    # watermark) plus a fresh one at 02:00
    _events([(0, 3, "click"), (2, 0, "view")])
    stream_windowed_event_counts(spark, inp, out, ckpt).awaitTermination()

    got = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in spark.read.parquet(out).collect()
    }
    base = int(datetime(2024, 1, 1).timestamp())
    # 00:00 window finalized with batch-1 counts ONLY — the late click
    # from batch 3 was dropped by the watermark
    assert got[(base, "click")] == 2
    assert got[(base, "view")] == 1
    assert (base + 600, "view") in got  # 00:10 window finalized too
    # 02:00 windows are still open (watermark hasn't passed them)
    assert not any(ws >= base + 7200 for ws, _ in got)


def test_stream_dedup_exact_stateful(spark, tmp_path):
    """applyInPandasWithState keep-first: within-batch dups keep the min
    doc_id; cross-batch dups are suppressed by checkpointed keyed state;
    null/empty text never reaches the state store."""
    from simages_spark.streaming import stream_dedup_exact

    inp = str(tmp_path / "incoming")
    out = str(tmp_path / "keepers")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp, exist_ok=True)

    # batch 1: docs 1,4 identical (keep 1); 2 unique; null/empty dropped
    _write_batch(spark, inp, [
        (4, "same text here", "en", "s", 14),
        (1, "same text here", "en", "s", 14),
        (2, "something else", "en", "s", 14),
        (8, None, "en", "s", 0),
        (9, "", "en", "s", 0),
    ])
    q = stream_dedup_exact(spark, inp, out, ckpt)
    q.awaitTermination()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2}

    # batch 2: doc 5 duplicates batch-1 content (state suppresses it),
    # doc 6 is new
    _write_batch(spark, inp, [
        (5, "same text here", "en", "s", 14),
        (6, "brand new text", "en", "s", 14),
    ])
    q2 = stream_dedup_exact(spark, inp, out, ckpt)
    q2.awaitTermination()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 2, 6}  # 5 suppressed by cross-batch state


def test_stream_crawl_dedup_empty_input_reports_zeros(spark, tmp_path):
    """A cron tick that fires before any crawl files land must report
    zeros, not crash, and crawl_edges on the fresh root must return an
    empty edge set. A root in an earlier layout is refused."""
    from simages_spark.streaming import crawl_edges, stream_crawl_dedup

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)

    out = stream_crawl_dedup(spark, inp, root, CFG)
    assert out == {"lineage_rows": 0, "probe_docs": 0}
    edges = crawl_edges(spark, root)
    assert edges.columns == ["src", "dst", "jaccard"] and edges.count() == 0
    # and a real batch afterwards proceeds normally
    base = " ".join(f"word{i}" for i in range(40))
    _write_batch(spark, inp, [(1, base, "en", "s", 0), (2, base, "en", "s", 0)])
    out = stream_crawl_dedup(spark, inp, root, CFG)
    assert out["lineage_rows"] == 2 and out["probe_docs"] == 1

    # a root holding an earlier layout (the partition-directory stores,
    # or the three-query crawl's lineage file sink and per-stage
    # checkpoints) is refused, not silently restarted beside it
    import pytest

    for i, old in enumerate(("edges", "lineage", "ckpt_near", "ckpt_star")):
        legacy = tmp_path / f"legacy_crawl{i}"
        (legacy / old).mkdir(parents=True)
        with pytest.raises(ValueError, match="fresh root"):
            stream_crawl_dedup(spark, inp, str(legacy), CFG)


def test_stream_crawl_dedup_flood_and_cluster_equality(spark, tmp_path):
    """The composed crawl recipe (exact keep-first upstream → near-dup
    probe downstream): an exact-copy flood reaches the probe exactly
    once, lineage stays linear in input size, and the full cluster set
    (near edges ∪ lineage star edges) equals a from-scratch batch run on
    the union of all batches."""
    from pyspark.sql import functions as F

    from simages_spark.operators.connected_components import connected_components
    from simages_spark.pipeline import find_duplicates
    from simages_spark.streaming import crawl_edges, stream_crawl_dedup

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)

    base = " ".join(f"word{i}" for i in range(40))
    near = " ".join(("CHANGED" if i == 20 else f"word{i}") for i in range(40))
    flood = "the flooded page body that arrives from very many urls"

    # batch 1: flood begins (3 copies) + distinct content
    rows1 = [(1, base, "en", "s", 0), (2, "some unrelated page", "en", "s", 0)]
    rows1 += [(100 + i, flood, "en", "s", 0) for i in range(3)]
    _write_batch(spark, inp, rows1)
    stream_crawl_dedup(spark, inp, root, CFG)

    # batch 2: flood grows 10×, plus a near-dup of base and a fresh doc
    rows2 = [(3, near, "en", "s", 0), (4, "fresh new content here", "en", "s", 0)]
    rows2 += [(200 + i, flood, "en", "s", 0) for i in range(30)]
    _write_batch(spark, inp, rows2)
    out = stream_crawl_dedup(spark, inp, root, CFG)

    # linearity: every doc got exactly one lineage row; the probe-side
    # signature store holds ONE row per distinct text — the flood never
    # multiplies inside the near stage
    n_docs = len(rows1) + len(rows2)
    assert out["lineage_rows"] == n_docs
    assert out["probe_docs"] == 5  # base, unrelated, flood, near, fresh
    from simages_spark.table import SnapshotTable

    sig = SnapshotTable(spark, f"{root}/sig_table").read()
    assert sig.where(F.col("doc_id") >= 100).count() == 1  # flood keeper only
    lineage = SnapshotTable(spark, f"{root}/lineage_table").read()
    assert lineage.count() == n_docs

    # one streaming query: the root holds ONE checkpoint and no file sink
    assert sorted(d for d in os.listdir(root) if "ckpt" in d) == ["ckpt"]
    assert not os.path.exists(f"{root}/lineage")

    # cluster equality vs from-scratch on the union
    docs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows1 + rows2], "doc_id long, text string"
    )
    scratch = {
        (r["doc_id"], r["cluster_id"])
        for r in find_duplicates(docs, CFG).clusters.collect()
    }
    loop = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(crawl_edges(spark, root), CFG).collect()
    }
    assert loop == scratch and len(loop) >= 35  # flood docs all clustered

    # the incrementally maintained labeling (root/clusters) must equal
    # both — without re-running CC over the edge history
    from simages_spark.streaming import crawl_clusters

    inc = {
        (r["doc_id"], r["cluster_id"])
        for r in crawl_clusters(spark, root).collect()
    }
    assert inc == scratch


def test_stream_signatures_to_table_exactly_once(spark, tmp_path):
    """Micro-batches land as atomic SnapshotTable versions; a replayed
    batch id (foreachBatch's at-least-once retry) is skipped via the
    manifest's per-source high-water mark; restart resumes."""
    from simages_spark.streaming import stream_signatures_to_table
    from simages_spark.table import SnapshotTable

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "sig_table")
    ckpt = str(tmp_path / "ckpt_t")
    os.makedirs(inp, exist_ok=True)

    _write_batch(spark, inp, [(1, "a b c d e f g", "en", "s", 13),
                              (2, "h i j k l m n", "en", "s", 13)])
    stream_signatures_to_table(spark, inp, root, ckpt, CFG).awaitTermination()
    t = SnapshotTable(spark, root)
    assert t.read().count() == 2

    # restart on new files: resumes from the checkpoint, commits a new version
    _write_batch(spark, inp, [(3, "o p q r s t u", "en", "s", 13)])
    stream_signatures_to_table(spark, inp, root, ckpt, CFG).awaitTermination()
    got = t.read()
    assert {r["doc_id"] for r in got.collect()} == {1, 2, 3}
    v_after = t.current_version()

    # watermarks recorded under this stream's INCARNATION id (the query
    # id from <ckpt>/metadata, not the path — a rebuilt checkpoint must
    # get a fresh sequence)
    man = t.manifest(v_after)
    sids = [s for s in man["sources"] if s.startswith("stream_signatures:")]
    assert len(sids) == 1 and man["sources"][sids[0]] >= 1
    sid = sids[0]
    assert sid != f"stream_signatures:{ckpt}"  # metadata id resolved

    # simulate a retry of an already-committed batch: same (source, seq)
    # must be a no-op — no new version, no new rows, no orphan group
    from simages_spark.functions.signatures import compute_signatures
    from pyspark.sql import functions as F
    replay = compute_signatures(
        spark.createDataFrame([(9, "x y z w v u t")], "doc_id long, text string"),
        CFG,
    ).withColumn("batch_id", F.lit(0))
    n_groups_before = len(os.listdir(os.path.join(root, "data")))
    assert t.append_exactly_once(replay, source_id=sid, seq=0) is None
    assert t.current_version() == v_after
    assert t.read().count() == 3
    assert len(os.listdir(os.path.join(root, "data"))) == n_groups_before

    # streamed-to-table signatures == batch signatures
    batch = {
        r["doc_id"]: tuple(r["minhash"])
        for r in compute_signatures(
            spark.read.parquet(inp).select("doc_id", "text"), CFG
        ).collect()
    }
    streamed = {r["doc_id"]: tuple(r["minhash"]) for r in got.collect()}
    assert streamed == batch

    # history is the ingest audit log: one append per batch
    assert [m["op"] for m in t.history()] == ["append", "append"]


def test_stream_near_dedup_to_tables(spark, tmp_path):
    """The table-backed crawl loop: each batch is probed against all
    prior batches; state lands as atomic audited table versions; a batch
    replay is a no-op on all three tables."""
    from simages_spark.streaming import (
        process_near_dedup_batch_tables,
        stream_near_dedup_to_tables,
    )
    from simages_spark.table import SnapshotTable

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)

    base = " ".join(f"word{i}" for i in range(40))
    near = " ".join(("CHANGED" if i == 20 else f"word{i}") for i in range(40))

    _write_batch(spark, inp, [(1, base, "en", "s", 0),
                              (2, "some other unrelated page", "en", "s", 0)])
    stream_near_dedup_to_tables(spark, inp, root, CFG).awaitTermination()
    sig_t = SnapshotTable(spark, f"{root}/sig_table")
    edges_t = SnapshotTable(spark, f"{root}/edges_table")
    assert sig_t.read().count() == 2
    assert edges_t.current_version() is None  # no prior corpus → no edges yet

    # replaying the FIRST batch (crash after its commits, before the
    # stream checkpoint advanced) must take the first-batch branch — its
    # own committed signatures are not "prior corpus", and no spurious
    # empty edges version may appear
    sid0 = [
        s
        for s in sig_t.manifest(sig_t.current_version())["sources"]
        if s.startswith("crawl:")
    ][0]
    replay0 = spark.createDataFrame(
        [(1, base, "en", "s", 0), (2, "some other unrelated page", "en", "s", 0)],
        _write_schema(),
    )
    process_near_dedup_batch_tables(replay0, 0, root, CFG, source_id=sid0)
    assert edges_t.current_version() is None
    assert sig_t.read().count() == 2  # sig/idx replays skipped too

    _write_batch(spark, inp, [(10, base, "en", "s", 0),
                              (11, near, "en", "s", 0),
                              (12, "completely new content here", "en", "s", 0)])
    stream_near_dedup_to_tables(spark, inp, root, CFG).awaitTermination()
    edges = {(r["src"], r["dst"]): round(r["jaccard"], 6)
             for r in edges_t.read().collect()}
    assert edges[(10, 1)] == 1.0
    assert 0.7 < edges[(11, 1)] < 0.8
    assert set(edges) == {(10, 1), (11, 1)}  # cross-corpus edges only
    assert sig_t.read().count() == 5

    _write_batch(spark, inp, [(20, "completely new content here", "en", "s", 0)])
    stream_near_dedup_to_tables(spark, inp, root, CFG).awaitTermination()
    assert (20, 12) in {(r["src"], r["dst"]) for r in edges_t.read().collect()}

    # the stream's watermark keys on the checkpoint incarnation (query
    # id from <root>/ckpt/metadata), shared by all three availableNow
    # restarts above — ONE source at seq 2
    man = sig_t.manifest(sig_t.current_version())
    crawl_sids = [s for s in man["sources"] if s.startswith("crawl:")]
    assert len(crawl_sids) == 1 and man["sources"][crawl_sids[0]] == 2
    sid = crawl_sids[0]
    assert sid != f"crawl:{root}"  # incarnation id, not the path

    # replay of an already-committed batch (same incarnation, same seq):
    # no new versions anywhere
    vs = [
        SnapshotTable(spark, f"{root}/{n}").current_version()
        for n in ("sig_table", "idx_table", "edges_table")
    ]
    replay = spark.createDataFrame(
        [(10, base, "en", "s", 0)], _write_schema()
    )
    process_near_dedup_batch_tables(replay, 1, root, CFG, source_id=sid)
    assert [
        SnapshotTable(spark, f"{root}/{n}").current_version()
        for n in ("sig_table", "idx_table", "edges_table")
    ] == vs

    # every batch is an audited version: history ops are all appends
    assert [m["op"] for m in sig_t.history()] == ["append"] * 3

    # compaction folds per-batch groups without changing rows
    before = {(r["doc_id"], r["batch_id"]) for r in sig_t.read().collect()}
    sig_t.compact(target_rows=1000)
    assert {(r["doc_id"], r["batch_id"]) for r in sig_t.read().collect()} == before


def _write_schema():
    return "doc_id long, text string, lang string, source string, n_chars long"


def test_stream_to_table_checkpoint_rebuild_not_skipped(spark, tmp_path):
    """A wiped-and-rebuilt checkpoint restarts batch ids at 0; because
    watermarks key on the checkpoint INCARNATION (query id), the rebuilt
    stream's re-processed input is re-appended (duplicate delivery — the
    honest consequence of losing the file-source log) instead of being
    silently skipped as a stale batch 0 (data loss)."""
    import shutil as _sh

    from simages_spark.streaming import stream_signatures_to_table
    from simages_spark.table import SnapshotTable

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "sig_table")
    ckpt = str(tmp_path / "ckpt_r")
    os.makedirs(inp, exist_ok=True)
    _write_batch(spark, inp, [(1, "a b c d e f g", "en", "s", 13)])
    stream_signatures_to_table(spark, inp, root, ckpt, CFG).awaitTermination()
    t = SnapshotTable(spark, root)
    assert t.read().count() == 1

    _sh.rmtree(ckpt)  # checkpoint lost; table survives
    stream_signatures_to_table(spark, inp, root, ckpt, CFG).awaitTermination()
    # batch 0 of the NEW incarnation re-processed the file and appended
    assert t.read().count() == 2
    man = t.manifest(t.current_version())
    incarnations = [
        s for s in man["sources"] if s.startswith("stream_signatures:")
    ]
    assert len(incarnations) == 2  # two distinct query ids, both at seq 0
    assert all(man["sources"][s] == 0 for s in incarnations)


def _clusters(df):
    return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}


def test_crawl_cluster_maintenance_catches_up_on_preexisting_history(
    spark, tmp_path, monkeypatch
):
    """A crash in the cluster fold after the query committed its batch
    (checkpoint, lineage and probe tables all advanced) must not lose
    that batch's edges: the next call folds every batch above the
    labeling's watermark, so crawl_clusters catches up with
    connected_components(crawl_edges)."""
    import pytest

    from simages_spark.operators.cluster_state import ClusterState
    from simages_spark.operators.connected_components import (
        connected_components,
    )
    from simages_spark.streaming import (
        crawl_clusters,
        crawl_edges,
        stream_crawl_dedup,
    )

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("X" if i == 7 else f"tok{i}") for i in range(40))
    near2 = " ".join(("Y" if i == 31 else f"tok{i}") for i in range(40))

    # tick 1: the fold crashes once, after the query's commits
    real_update = ClusterState.update
    calls = []

    def crash_once(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash in the cluster fold")
        return real_update(self, *args, **kwargs)

    monkeypatch.setattr(ClusterState, "update", crash_once)
    _write_batch(spark, inp, [
        (1, base, "en", "s", 0), (2, near, "en", "s", 0),
        (5, base, "en", "s", 0),
        (9, "an unrelated page entirely", "en", "s", 0),
    ])
    with pytest.raises(RuntimeError, match="injected crash"):
        stream_crawl_dedup(spark, inp, root, CFG)
    assert _clusters(crawl_clusters(spark, root)) == set()

    # tick 2 heals: batch 0's near edge 1↔2 and star edge 5→1 are folded
    # with the new batch (3 joins the same cluster)
    _write_batch(spark, inp, [(3, near2, "en", "s", 0)])
    stream_crawl_dedup(spark, inp, root, CFG)
    scratch = _clusters(connected_components(crawl_edges(spark, root), CFG))
    inc = _clusters(crawl_clusters(spark, root))
    assert inc == scratch
    assert {(1, 1), (2, 1), (3, 1), (5, 1)} <= inc

    # a third tick (no new files) is a no-op: the watermark prevents
    # refolds, so the labeling commits no new version
    def versions():
        st = ClusterState(spark, f"{root}/clusters")
        return st.members.current_version(), st.forward.current_version()

    before = versions()
    stream_crawl_dedup(spark, inp, root, CFG)
    assert versions() == before
    assert _clusters(crawl_clusters(spark, root)) == scratch


def test_crawl_copy_only_tick_folds_star_edges(spark, tmp_path):
    """A tick whose batch holds only copies of earlier texts mints no
    keeper, so it commits nothing to sig_table or edges_table — but its
    star edges (copy → keeper) must still reach the labeling."""
    from simages_spark.operators.connected_components import (
        connected_components,
    )
    from simages_spark.pipeline import find_duplicates
    from simages_spark.streaming import (
        crawl_clusters,
        crawl_edges,
        stream_crawl_dedup,
    )
    from simages_spark.table import SnapshotTable

    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)
    base = " ".join(f"word{i}" for i in range(40))
    other = "a second page that shares nothing with the first one"
    fed = [(1, base), (2, other)]
    _write_batch(spark, inp, [(d, t, "en", "s", 0) for d, t in fed])
    stream_crawl_dedup(spark, inp, root, CFG)
    sig_v = SnapshotTable(spark, f"{root}/sig_table").current_version()

    copies = [(7, base), (8, other), (9, base)]
    fed += copies
    _write_batch(spark, inp, [(d, t, "en", "s", 0) for d, t in copies])
    out = stream_crawl_dedup(spark, inp, root, CFG)
    assert out == {"lineage_rows": 5, "probe_docs": 2}
    assert SnapshotTable(spark, f"{root}/sig_table").current_version() == sig_v

    inc = _clusters(crawl_clusters(spark, root))
    loop = _clusters(connected_components(crawl_edges(spark, root), CFG))
    scratch = _clusters(
        find_duplicates(
            spark.createDataFrame(fed, "doc_id long, text string"), CFG
        ).clusters
    )
    assert inc == loop == scratch
    assert scratch == {(1, 1), (7, 1), (9, 1), (2, 2), (8, 2)}


def test_crawl_edges_compaction_keeps_cluster_equality(
    spark, tmp_path, monkeypatch
):
    """Ticks of the table-backed crawl with an offline `compact
    --crawl-tables` between two of them (it bin-packs the four crawl
    tables and folds the cluster forwarding table), then a rebuilt
    checkpoint: after EVERY tick the incremental labeling
    equals connected_components(crawl_edges), which equals a
    from-scratch find_duplicates on the union of the batches."""
    import shutil

    from simages_spark.cli import main
    from simages_spark.operators.connected_components import (
        connected_components,
    )
    from simages_spark.pipeline import find_duplicates
    from simages_spark.streaming import (
        crawl_clusters,
        crawl_edges,
        stream_crawl_dedup,
    )
    from simages_spark.table import SnapshotTable

    monkeypatch.setattr(spark, "stop", lambda: None)  # main() stops it
    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "crawl")
    os.makedirs(inp, exist_ok=True)
    base = " ".join(f"word{i}" for i in range(40))

    def near(k):
        return " ".join(
            (f"CHANGED{k}" if i == 4 * k else f"word{i}") for i in range(40)
        )

    fed = []

    def tick(rows):
        fed.extend(rows)
        _write_batch(spark, inp, [(d, t, "en", "s", 0) for d, t in rows])
        stream_crawl_dedup(spark, inp, root, CFG)
        inc = {
            (r["doc_id"], r["cluster_id"])
            for r in crawl_clusters(spark, root).collect()
        }
        loop = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(
                crawl_edges(spark, root), CFG
            ).collect()
        }
        scratch = {
            (r["doc_id"], r["cluster_id"])
            for r in find_duplicates(
                spark.createDataFrame(fed, "doc_id long, text string"), CFG
            ).clusters.collect()
        }
        assert inc == loop == scratch and scratch

    tick([(1, base), (2, near(1)), (9, "an unrelated page entirely")])
    tick([(3, near(2)), (10, base)])

    versions = {
        n: SnapshotTable(spark, f"{root}/{n}").current_version()
        for n in ("sig_table", "idx_table", "edges_table", "lineage_table")
    }
    assert main(["compact", "--crawl-tables", root]) == 0
    for n, v in versions.items():
        assert SnapshotTable(spark, f"{root}/{n}").current_version() > v, n

    tick([(4, near(3)), (11, near(1))])
    tick([(5, near(4))])

    # a rebuilt checkpoint restarts batch ids at 0: its batches must be
    # folded into the labeling, not skipped as already seen
    shutil.rmtree(f"{root}/ckpt")
    tick([(6, near(5))])
    assert (6, 1) in {
        (r["doc_id"], r["cluster_id"])
        for r in crawl_clusters(spark, root).collect()
    }


def test_tables_path_skips_empty_micro_batch(spark, tmp_path):
    """An empty micro-batch must not commit empty stats-less groups and
    spurious versions to the three crawl tables (round-5 review: empty
    groups are unprunable by batch_id stats and accumulate in every
    future probe scan)."""
    from simages_spark.streaming import process_near_dedup_batch_tables
    from simages_spark.table import SnapshotTable

    root = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "doc_id long, text string")
    process_near_dedup_batch_tables(empty, 0, root, CFG)
    assert SnapshotTable(spark, f"{root}/sig_table").current_version() is None

    docs = spark.createDataFrame(
        [(1, "hello world page body text")], "doc_id long, text string"
    )
    process_near_dedup_batch_tables(docs, 1, root, CFG)
    v_sig = SnapshotTable(spark, f"{root}/sig_table").current_version()
    v_idx = SnapshotTable(spark, f"{root}/idx_table").current_version()
    process_near_dedup_batch_tables(empty, 2, root, CFG)
    assert SnapshotTable(spark, f"{root}/sig_table").current_version() == v_sig
    assert SnapshotTable(spark, f"{root}/idx_table").current_version() == v_idx
