"""Snapshot-versioned table: atomic commits, optimistic concurrency,
time travel, row-level delete/upsert, crash-leftover vacuum."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from simages_spark.table import SnapshotTable


def _df(spark, ids, tag="a"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in ids], "doc_id long, text string"
    )


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _groups_read(df):
    """Data groups a (scan) DataFrame opens."""
    return {f.split("/data/")[1].split("/")[0] for f in df.inputFiles()}


def test_append_read_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    assert t.current_version() is None
    v0 = t.append(_df(spark, range(5)))
    v1 = t.append(_df(spark, range(5, 8)))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 8
    assert t.read(version=0).count() == 5  # time travel
    hist = t.history()
    assert [h["op"] for h in hist] == ["append", "append"]
    assert hist[1]["parent"] == 0


def test_delete_rewrites_only_affected_groups(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t2"))
    t.append(_df(spark, range(10)))          # group A: 0-9
    t.append(_df(spark, range(100, 110)))    # group B: 100-109
    before = t.manifest(t.current_version())["data_groups"]
    t.delete_matching(_keys(spark, range(3)), "doc_id")
    after = t.manifest(t.current_version())["data_groups"]
    # group B (no matching rows) carried by REFERENCE, group A rewritten
    assert before[1] in after and before[0] not in after
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == set(range(3, 10)) | set(range(100, 110))
    # the pre-delete snapshot still reads in full (snapshot isolation)
    assert t.read(version=1).count() == 20


def test_upsert_replaces_and_inserts(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t3"))
    t.append(_df(spark, range(5), tag="old"))
    t.upsert(_df(spark, [3, 4, 5, 6], tag="new"), key="doc_id")
    got = {r["doc_id"]: r["text"] for r in t.read().collect()}
    assert got == {0: "old0", 1: "old1", 2: "old2",
                   3: "new3", 4: "new4", 5: "new5", 6: "new6"}


def test_optimistic_rebase_on_conflict(spark, tmp_path):
    """A writer whose base is committed over mid-flight rebases and both
    writers' rows survive (no lost update)."""
    root = str(tmp_path / "t4")
    t1, t2 = SnapshotTable(spark, root), SnapshotTable(spark, root)
    t1.append(_df(spark, [1]))

    gid = t1._stage_group(_df(spark, [2]))
    sneaked = []

    def mutate(base):
        if not sneaked:
            sneaked.append(True)
            t2.append(_df(spark, [3]))  # concurrent commit AFTER base read
        prior = t1.manifest(base)["data_groups"] if base is not None else []
        return prior + [gid], {}, "struct<doc_id:bigint,text:string>"

    v = t1._commit_with_retry(mutate, "append")
    assert v == 2  # rebased onto t2's v1
    assert {r["doc_id"] for r in t1.read().collect()} == {1, 2, 3}


def test_concurrent_append_threads_no_lost_updates(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t5"))
    errors = []

    def worker(lo):
        try:
            tt = SnapshotTable(spark, t.root)
            for i in range(lo, lo + 4):
                tt.append(_df(spark, [i]))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(lo,)) for lo in (0, 100)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == set(range(4)) | set(range(100, 104))
    assert t.current_version() == 7  # 8 commits, all linearized


def test_vacuum_sweeps_only_orphans(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t6"))
    t.append(_df(spark, range(3)))
    t._stage_group(_df(spark, [99]))  # crashed writer: staged, never committed
    assert len(os.listdir(os.path.join(t.root, "data"))) == 2
    # the grace window protects the freshly-staged (possibly in-flight)
    # group — a default-aged vacuum must NOT sweep it...
    assert t.vacuum() == 0
    # ...while an explicit min_age_s=0 (caller asserts no live writers) does
    assert t.vacuum(min_age_s=0) == 1
    assert t.read().count() == 3
    # historical versions keep their groups through later deletes + vacuum
    t.delete_matching(_keys(spark, [0]), "doc_id")
    assert t.vacuum(min_age_s=0) == 0
    assert t.read(version=0).count() == 3


def test_vacuum_grace_preserves_inflight_commit(spark, tmp_path):
    """Round-3 verdict item 2: a writer stages its group BEFORE its
    manifest exists; a vacuum in that window must not sweep the staged
    data or the later commit references deleted files."""
    t = SnapshotTable(spark, str(tmp_path / "t6b"))
    t.append(_df(spark, range(3)))
    # writer mid-commit: staged but no manifest yet
    gid, gstats = t._stage_group_with_stats(_df(spark, [7]))
    assert t.vacuum() == 0  # grace window keeps the in-flight group
    # writer completes its commit; table reads fine, vacuum stays clean
    t._commit_with_retry(
        lambda base: (
            t.manifest(base)["data_groups"] + [gid],
            {**{g: None for g in t.manifest(base)["data_groups"]}, gid: gstats},
            t.manifest(base)["schema"],
        ),
        "append",
    )
    assert {r["doc_id"] for r in t.read().collect()} == {0, 1, 2, 7}
    assert t.vacuum(min_age_s=0) == 0  # nothing orphaned


def test_upsert_rejects_schema_mismatch(spark, tmp_path):
    """ADVICE low: upsert with a divergent schema must error, not commit
    a manifest whose recorded schema disagrees with the data."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t6d"))
    t.append(_df(spark, range(3)))
    widened = spark.createDataFrame(
        [(1, "x", 9.5)], "doc_id long, text string, score double"
    )
    with pytest.raises(ValueError, match="schema"):
        t.upsert(widened, key="doc_id")
    with pytest.raises(ValueError, match="schema"):
        t.append(widened)
    assert t.read().columns == ["doc_id", "text"]


def test_stats_pruning_skips_unaffected_groups(spark, tmp_path):
    """Round-3 verdict item 1: delete_matching must find affected groups
    from manifest [min,max] stats — groups whose range cannot contain any
    key are carried by reference without opening a single data file."""
    t = SnapshotTable(spark, str(tmp_path / "t6e"))
    t.append(_df(spark, range(0, 10)))        # group A: 0-9
    t.append(_df(spark, range(100, 110)))     # group B: 100-109
    t.append(_df(spark, range(200, 210)))     # group C: 200-209
    man = t.manifest(t.current_version())
    # footer stats were harvested at commit time
    for g in man["data_groups"]:
        st = man["group_stats"][g]
        assert st["rows"] == 10 and "doc_id" in st["columns"]
    keys = spark.createDataFrame([(105,), (107,)], "doc_id long")
    affected, pruned = t._prune_by_keys(man, keys, "doc_id")
    assert affected == [man["data_groups"][1]]
    assert set(pruned) == {man["data_groups"][0], man["data_groups"][2]}
    before = man["data_groups"]
    t.delete_matching(keys, "doc_id")
    after = t.manifest(t.current_version())["data_groups"]
    # A and C carried by reference; B replaced by the rewrite group
    assert before[0] in after and before[2] in after and before[1] not in after
    assert {r["doc_id"] for r in t.read().collect()} == (
        set(range(0, 10)) | set(range(100, 110)) | set(range(200, 210))
    ) - {105, 107}


def test_delete_matching_distributed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t7"))
    t.append(_df(spark, range(10)))
    keys = spark.createDataFrame([(2,), (5,), (77,)], "doc_id long")
    t.delete_matching(keys, "doc_id")
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == set(range(10)) - {2, 5}


def test_concurrent_ingest_and_apply_policy(spark, tmp_path):
    """The workflow race the verdict called untestable without a catalog:
    one writer ingests new docs while another applies the delete policy.
    Both commits land (one rebases); no lost update in either direction."""
    t = SnapshotTable(spark, str(tmp_path / "t8"))
    t.append(_df(spark, range(10)))

    barrier = threading.Barrier(2)
    errors = []

    def ingest():
        try:
            barrier.wait()
            SnapshotTable(spark, t.root).append(_df(spark, range(100, 105)))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def apply_policy():
        try:
            barrier.wait()
            SnapshotTable(spark, t.root).delete_matching(
                spark.createDataFrame([(i,) for i in range(5)], "doc_id long"),
                "doc_id",
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=ingest),
               threading.Thread(target=apply_policy)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    got = {r["doc_id"] for r in t.read().collect()}
    # deletes applied AND ingested rows present, regardless of commit order
    assert got == set(range(5, 10)) | set(range(100, 105))
    assert t.current_version() == 2


def test_truncate_keeps_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t9"))
    t.append(_df(spark, range(6)))
    v = t.truncate()
    assert t.read().count() == 0
    assert t.read().columns == ["doc_id", "text"]  # schema survives
    assert t.read(version=v - 1).count() == 6      # history intact
    t.append(_df(spark, [42]))                     # table usable after
    assert {r["doc_id"] for r in t.read().collect()} == {42}


def test_compact_folds_small_groups(spark, tmp_path):
    """compact() bin-packs small groups, leaves big ones alone, changes
    no rows at any version, and records stats for the packed groups."""
    t = SnapshotTable(spark, str(tmp_path / "tc1"))
    for g in range(8):  # 8 small appends of 10 rows
        t.append(_df(spark, range(g * 10, g * 10 + 10)))
    t.append(_df(spark, range(1000, 1500)))  # one big group (500 rows)
    before = {r["doc_id"] for r in t.read().collect()}
    big = t.manifest(t.current_version())["data_groups"][-1]

    out = t.compact(target_rows=100)
    assert out["compacted"] and out["folded_groups"] == 8
    man = t.manifest(t.current_version())
    assert big in man["data_groups"]  # ≥ target group untouched
    assert len(man["data_groups"]) == 1 + out["new_groups"]
    assert {r["doc_id"] for r in t.read().collect()} == before
    # packed groups carry commit-time stats for future pruning
    for g in man["data_groups"]:
        assert man["group_stats"][g]["rows"] > 0
    # history still time-travels to pre-compaction versions
    assert t.read(version=0).count() == 10
    # idempotent: a second compact finds nothing to fold
    assert t.compact(target_rows=100)["compacted"] is False


def test_compact_replans_when_source_rewritten(spark, tmp_path):
    """A concurrent DELETE that rewrites a source group must invalidate
    the staged pack (committing it would resurrect deleted rows): the
    first commit attempt conflicts, the rebase detects the vanished
    source, and compaction re-plans from the post-delete snapshot."""
    root = str(tmp_path / "tc2")
    t = SnapshotTable(spark, root)
    for g in range(4):
        t.append(_df(spark, range(g * 10, g * 10 + 10)))

    orig = t._try_commit
    fired = {"n": 0}

    def hook(base, groups, stats, op, schema, props=None, **kw):
        if op == "compact" and fired["n"] == 0:
            fired["n"] += 1
            # another writer deletes rows from a compaction source group
            SnapshotTable(spark, root).delete_matching(
                spark.createDataFrame([(5,), (7,)], "doc_id long"), "doc_id"
            )
        return orig(base, groups, stats, op, schema, props, **kw)

    t._try_commit = hook
    out = t.compact(target_rows=1000)
    assert out["compacted"] and fired["n"] == 1
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == set(range(40)) - {5, 7}  # deletes NOT resurrected


def test_compact_carries_concurrent_append(spark, tmp_path):
    """Appends commute with compaction: a group committed between staging
    and commit is carried by reference, never dropped."""
    root = str(tmp_path / "tc3")
    t = SnapshotTable(spark, root)
    for g in range(4):
        t.append(_df(spark, range(g * 10, g * 10 + 10)))

    orig = t._try_commit
    fired = {"n": 0}

    def hook(base, groups, stats, op, schema, props=None, **kw):
        if op == "compact" and fired["n"] == 0:
            fired["n"] += 1
            SnapshotTable(spark, root).append(_df(spark, range(500, 510)))
        return orig(base, groups, stats, op, schema, props, **kw)

    t._try_commit = hook
    out = t.compact(target_rows=1000)
    assert out["compacted"]
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == set(range(40)) | set(range(500, 510))


def test_expire_snapshots_then_vacuum_reclaims(spark, tmp_path):
    """expire_snapshots drops old manifests; groups referenced only by
    expired versions become vacuumable — the retention step that lets
    compaction/delete actually free space."""
    t = SnapshotTable(spark, str(tmp_path / "tx1"))
    for g in range(5):
        t.append(_df(spark, range(g * 10, g * 10 + 10)))
    t.compact(target_rows=1000)  # folds all 5 into 1; old groups pinned by history
    before = {r["doc_id"] for r in t.read().collect()}
    data_dir = tmp_path / "tx1" / "data"
    assert len(list(data_dir.iterdir())) == 6  # 5 originals + the pack
    assert t.vacuum(min_age_s=0) == 0  # history still references all

    out = t.expire_snapshots(keep_last=1)
    assert out["expired"] == 5 and t.versions() == [5]
    assert t.vacuum(min_age_s=0) == 5  # originals reclaimed
    assert len(list(data_dir.iterdir())) == 1
    assert {r["doc_id"] for r in t.read().collect()} == before
    # expired versions are gone from history; current still commits
    t.append(_df(spark, range(900, 910)))
    assert t.read().count() == len(before) + 10
    assert t.expire_snapshots(keep_last=10)["expired"] == 0  # no-op


def test_scan_prunes_groups_driver_side(spark, tmp_path):
    """scan() must read ONLY the groups whose [min,max] intersects the
    range — asserted on inputFiles(), which lists exactly the parquet
    files the plan will open."""
    t = SnapshotTable(spark, str(tmp_path / "ts1"))
    t.append(_df(spark, range(0, 10)))        # group A: 0-9
    t.append(_df(spark, range(100, 110)))     # group B: 100-109
    t.append(_df(spark, range(200, 210)))     # group C: 200-209

    df = t.scan([("doc_id", 100, 109)])
    assert {r["doc_id"] for r in df.collect()} == set(range(100, 110))
    hit_groups = {
        f.split("/data/")[1].split("/")[0] for f in df.inputFiles()
    }
    assert len(hit_groups) == 1  # A and C pruned without being opened

    # unbounded sides
    assert t.scan([("doc_id", 150, None)]).count() == 10
    assert t.scan([("doc_id", None, 9)]).count() == 10
    # equality as a degenerate range
    assert t.scan([("doc_id", 205, 205)]).count() == 1
    # multi-column conjunction: text stats exist too (strings)
    assert t.scan(
        [("doc_id", 0, 9), ("text", "a3", "a5")]
    ).count() == 3


def test_scan_matches_read_where_and_handles_no_stats(spark, tmp_path):
    """Exactness: scan == read().where(); groups with no stats for the
    column are conservatively scanned, and the residual filter keeps the
    result correct."""
    t = SnapshotTable(spark, str(tmp_path / "ts2"))
    t.append(_df(spark, range(0, 50)))
    t.append(_df(spark, range(25, 75)))  # overlapping ranges
    got = sorted(
        (r["doc_id"], r["text"])
        for r in t.scan([("doc_id", 20, 30)]).collect()
    )
    want = sorted(
        (r["doc_id"], r["text"])
        for r in t.read().where((F.col("doc_id") >= 20) & (F.col("doc_id") <= 30)).collect()
    )
    assert got == want and len(got) == 17  # 20-30 from A, 25-30 from B

    # strip recorded stats to simulate a pre-stats table: scan must not prune
    import json as _json

    man_path = t._manifest_path(t.current_version())
    man = _json.load(open(man_path))
    man["group_stats"] = {}
    _json.dump(man, open(man_path, "w"))
    t2 = SnapshotTable(spark, t.root)
    assert t2.scan([("doc_id", 20, 30)]).count() == 17

    # empty result when every group is pruned
    t3 = SnapshotTable(spark, str(tmp_path / "ts3"))
    t3.append(_df(spark, range(5)))
    empty = t3.scan([("doc_id", 1000, 2000)])
    assert empty.count() == 0 and empty.schema == t3.read().schema


def test_append_exactly_once_dedup_and_carry(spark, tmp_path):
    """(source, seq) replay is a no-op; the high-water mark is carried
    forward by UNRELATED commits so detection never needs a history
    walk; distinct sources don't interfere."""
    t = SnapshotTable(spark, str(tmp_path / "te1"))
    assert t.append_exactly_once(_df(spark, [1, 2]), "segA", 0) == 0
    assert t.append_exactly_once(_df(spark, [1, 2]), "segA", 0) is None  # replay
    assert t.read().count() == 2

    t.append(_df(spark, [10]))          # plain append between batches
    t.delete_matching(
        spark.createDataFrame([(10,)], "doc_id long"), "doc_id"
    )
    # mark survived both commits — replay still detected
    assert t.append_exactly_once(_df(spark, [3]), "segA", 0) is None
    assert t.append_exactly_once(_df(spark, [3]), "segA", 1) is not None
    # an independent source has its own sequence
    assert t.append_exactly_once(_df(spark, [4]), "segB", 0) is not None
    assert {r["doc_id"] for r in t.read().collect()} == {1, 2, 3, 4}
    man = t.manifest(t.current_version())
    assert man["sources"] == {"segA": 1, "segB": 0}


def test_append_exactly_once_concurrent_replay_single_commit(spark, tmp_path):
    """Two workers replaying the SAME batch race through the optimistic
    loop: exactly one commits, the loser skips and leaves no orphan."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "te2"))
    t.append_exactly_once(_df(spark, [0]), "seg", 0)
    results = []

    def worker():
        tt = SnapshotTable(spark, t.root)
        results.append(tt.append_exactly_once(_df(spark, range(1, 6)), "seg", 1))

    ths = [threading.Thread(target=worker) for _ in range(4)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    committed = [r for r in results if r is not None]
    assert len(committed) == 1, results
    assert t.read().count() == 6
    # every staged-but-skipped group was cleaned up: groups on disk ==
    # groups referenced by history
    referenced = set()
    for m in t.history():
        referenced |= set(m["data_groups"])
    on_disk = set(os.listdir(os.path.join(t.root, "data")))
    assert on_disk == referenced


def test_compact_sort_by_restores_scan_pruning(spark, tmp_path):
    """Arrival-order appends interleave key ranges, so every bin-packed
    group spans the whole keyspace and scan pruning degrades; a
    sort_by rewrite re-clusters into DISJOINT ranges and a point scan
    opens exactly one group again. Rows identical throughout."""
    t = SnapshotTable(spark, str(tmp_path / "tc1"))
    # 6 appends, round-robin keys: every group spans ~the full range
    for b in range(6):
        t.append(_df(spark, range(b, 600, 6)))
    before = {(r["doc_id"], r["text"]) for r in t.read().collect()}

    # without sorting, a narrow scan cannot prune interleaved groups
    assert len(t.scan([("doc_id", 100, 109)]).inputFiles()) >= 6

    out = t.compact(target_rows=150, sort_by=["doc_id"])
    assert out["compacted"] and out["sorted_by"] == ["doc_id"]
    assert out["folded_groups"] == 6

    man = t.manifest(t.current_version())
    ranges = sorted(
        tuple(man["group_stats"][g]["columns"]["doc_id"])
        for g in man["data_groups"]
    )
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint, ordered ranges

    # rows unchanged at the new version; point scan opens ONE group
    assert {(r["doc_id"], r["text"]) for r in t.read().collect()} == before
    df = t.scan([("doc_id", 100, 109)])
    assert {r["doc_id"] for r in df.collect()} == set(range(100, 110))
    assert len({f.split("/data/")[1].split("/")[0] for f in df.inputFiles()}) == 1

    # time travel: the pre-compaction version still reads identically
    assert {
        (r["doc_id"], r["text"])
        for r in t.read(version=t.current_version() - 1).collect()
    } == before

    # idempotent: the packs are already disjoint at the target count —
    # an hourly maintenance rerun must converge, not rewrite the table
    again = t.compact(target_rows=150, sort_by=["doc_id"])
    assert not again["compacted"] and again["reason"] == "nothing to fold"


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    """An append whose schema differs from the table's — a changed type,
    an added column, or a name simpleString can't round-trip — is
    refused and leaves the table unharmed."""
    import pytest
    from pyspark.sql import types as T

    t = SnapshotTable(spark, str(tmp_path / "tse2"))
    t.append(_df(spark, range(3)))
    bad = spark.createDataFrame([(5, 7)], "doc_id long, text int")
    with pytest.raises(ValueError, match="does not match"):
        t.append(bad)
    extra = spark.createDataFrame(
        [(5, "x", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="overwrite"):
        t.append(extra)
    weird = spark.createDataFrame(
        [(5, "x")],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("content-type", T.StringType()),
            ]
        ),
    )
    with pytest.raises(ValueError, match="round-trip"):
        t.append(weird)
    assert t.read().count() == 3  # table unharmed
    assert t.current_version() == 0


def test_schema_evolution_nullability_and_case(spark, tmp_path):
    """(a) containsNull=False arrays (anything built with F.transform)
    append cleanly against the recorded schema, which always parses
    nullable — schemas compare by simpleString, not DataType equality.
    (b) A case-variant of an existing column is refused, not recorded as
    a second column (which would make the head version unreadable)."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "tse3"))
    arr = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.transform(F.sequence(F.lit(0), F.lit(2)), lambda i: i * 2).alias("v"),
    )
    assert not arr.schema["v"].dataType.containsNull
    t.append(arr)
    t.append(arr)
    assert t.read().count() == 6
    mixed = spark.createDataFrame([(9, [1, 2])], "DOC_ID long, v array<int>")
    with pytest.raises(ValueError, match="does not match"):
        t.append(mixed)
    assert t.read().schema.names == ["doc_id", "v"]


def test_initial_write_rejects_unrecordable_schema(spark, tmp_path):
    """A first append/overwrite with a column name simpleString can't
    round-trip is rejected at write time — otherwise truncate() +
    read() of the empty snapshot would crash parsing the manifest."""
    import pytest
    from pyspark.sql import types as T

    t = SnapshotTable(spark, str(tmp_path / "tw"))
    weird = spark.createDataFrame(
        [(1, "x")],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("content-type", T.StringType()),
            ]
        ),
    )
    with pytest.raises(ValueError, match="round-trip"):
        t.append(weird)
    with pytest.raises(ValueError, match="round-trip"):
        t.overwrite(weird)
    assert t.current_version() is None  # nothing committed
    assert os.listdir(str(tmp_path / "tw" / "data")) == []  # nothing staged


def test_scan_and_key_ops_tolerate_odd_inputs(spark, tmp_path):
    """(a) scan bounds whose Python type isn't ordered against the stat
    type must not crash — no prune, residual filter keeps results exact.
    (b) a key column legally named 'gid' must not make the stats-prune
    join ambiguous."""
    t = SnapshotTable(spark, str(tmp_path / "todd"))
    t.append(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "name string, gid long"
        )
    )
    # (a) int bounds on the string column: stats are str, bounds int
    got = t.scan([("name", None, None), ("gid", 2, 3)]).collect()
    assert {r["gid"] for r in got} == {2, 3}
    rows = t.scan([("name", "a", "b")]).count()
    assert rows == 2
    # (b) delete keyed on a column named 'gid'
    t.delete_matching(spark.createDataFrame([(2,)], "gid long"), key="gid")
    assert {r["gid"] for r in t.read().collect()} == {1, 3}


def test_compact_sort_converges_with_duplicate_first_column(spark, tmp_path):
    """A multi-column sorted rewrite whose first column has duplicate
    values spanning pack boundaries must CONVERGE: the second
    maintenance run is a no-op, not a full-table rewrite."""
    t = SnapshotTable(spark, str(tmp_path / "tconv"))
    langs = ["en", "de"]
    for i in range(6):  # interleaved appends, duplicated lang values
        t.append(
            spark.createDataFrame(
                [(langs[j % 2], i * 100 + j) for j in range(100)],
                "lang string, doc_id long",
            )
        )
    r1 = t.compact(target_rows=150, sort_by=["lang", "doc_id"])
    assert r1["compacted"]
    r2 = t.compact(target_rows=150, sort_by=["lang", "doc_id"])
    assert not r2["compacted"] and r2["reason"] == "nothing to fold"
    assert t.read().count() == 600


def test_vacuum_sweeps_orphan_tmp_manifests(spark, tmp_path):
    """A crash between tmp-manifest write and the os.link publish leaves
    v*.manifest.json.tmp-* at the root; vacuum reclaims them past the
    grace window and leaves live state alone."""
    t = SnapshotTable(spark, str(tmp_path / "tv1"))
    t.append(_df(spark, [1]))
    orphan = os.path.join(t.root, "v9.manifest.json.tmp-deadbeef")
    open(orphan, "w").write("{}")
    t.vacuum(min_age_s=3600)  # young: kept
    assert os.path.exists(orphan)
    t.vacuum(min_age_s=0)
    assert not os.path.exists(orphan)
    assert t.read().count() == 1  # live manifest untouched


def test_scan_timestamp_range_prunes(spark, tmp_path):
    """The canonical crawl-table range read — `warc_ts` before or after a
    cutoff — must prune on the string-encoded timestamp stats and open
    only the matching groups."""
    import datetime as dt

    def ts_df(day_lo, day_hi):
        rows = [
            (i, dt.datetime(2020, 1, d, 12, 0, 0))
            for i, d in enumerate(range(day_lo, day_hi))
        ]
        return spark.createDataFrame(rows, "doc_id long, warc_ts timestamp")

    t = SnapshotTable(spark, str(tmp_path / "td3"))
    t.append(ts_df(1, 5))     # group A: Jan 1-4
    t.append(ts_df(10, 15))   # group B: Jan 10-14
    t.append(ts_df(20, 25))   # group C: Jan 20-24
    groups = t.manifest(t.current_version())["data_groups"]

    old = t.scan([("warc_ts", None, dt.datetime(2020, 1, 6))])
    assert old.count() == 4 and _groups_read(old) == {groups[0]}
    hits = t.scan([("warc_ts", dt.datetime(2020, 1, 19), None)])
    assert hits.count() == 5 and _groups_read(hits) == {groups[2]}


def test_merge_on_read_delete_vectors(spark, tmp_path):
    """MOR delete: no group rewritten, reads apply the vector, a
    re-inserted key survives (version gating), apply_deletes folds the
    vector away and vacuum reclaims it."""
    t = SnapshotTable(spark, str(tmp_path / "mor1"))
    t.append(_df(spark, range(0, 10)))         # group A
    t.append(_df(spark, range(100, 110)))      # group B
    before_groups = t.manifest(t.current_version())["data_groups"]

    keys = spark.createDataFrame([(0,), (1,), (100,)], "doc_id long")
    t.delete_matching(keys, "doc_id", merge_on_read=True)
    man = t.manifest(t.current_version())
    assert man["data_groups"] == before_groups  # nothing rewritten
    assert len(t.pending_delete_vectors()) == 1
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == (set(range(2, 10)) | set(range(101, 110)))
    # time travel: the pre-delete snapshot still reads in full
    assert t.read(version=1).count() == 20
    # scan() is DV-aware too
    assert t.scan([("doc_id", 0, 5)]).count() == 4  # 2,3,4,5

    # re-insert a deleted key AFTER the DV: the new row must survive
    t.append(_df(spark, [1], tag="reborn"))
    rows = {(r["doc_id"], r["text"]) for r in t.read().collect()}
    assert (1, "reborn1") in rows and (1, "a1") not in rows

    # fold: one rewrite, vectors gone, same visible rows
    visible = {(r["doc_id"], r["text"]) for r in t.read().collect()}
    r = t.apply_deletes()
    assert r["applied"] and r["remaining_dvs"] == 0
    assert {(r2["doc_id"], r2["text"]) for r2 in t.read().collect()} == visible
    assert t.apply_deletes() == {
        "applied": False, "reason": "no pending delete vectors"
    }
    # the DV group is unreferenced by the HEAD, but older manifests
    # still gate on it — only expire + vacuum reclaims it
    t.expire_snapshots(keep_last=1)
    t.vacuum(min_age_s=0)
    assert {(r2["doc_id"], r2["text"]) for r2 in t.read().collect()} == visible


def test_mor_delete_not_resurrected_by_cow_rewrite(spark, tmp_path):
    """A copy-on-write rewrite (delete_matching / upsert / compact) of a
    DV-gated group must apply the vector, not resurrect its rows."""
    t = SnapshotTable(spark, str(tmp_path / "mor2"))
    t.append(_df(spark, range(0, 10)))
    t.delete_matching(
        spark.createDataFrame([(3,), (4,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    t.delete_matching(_keys(spark, [8, 9]), "doc_id")  # rewrites the group
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == {0, 1, 2, 5, 6, 7}
    # the rewrite's new group post-dates the DV, so the vector is dead
    assert t.pending_delete_vectors() == []

    # compact folds DVs too
    t2 = SnapshotTable(spark, str(tmp_path / "mor3"))
    for i in range(3):
        t2.append(_df(spark, range(i * 10, i * 10 + 10)))
    t2.delete_matching(
        spark.createDataFrame([(5,), (15,), (25,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    r = t2.compact(target_rows=1000)
    assert r["compacted"]
    assert {x["doc_id"] for x in t2.read().collect()} == (
        set(range(30)) - {5, 15, 25}
    )
    assert t2.pending_delete_vectors() == []


def test_mor_vectors_stack_and_gate_by_version(spark, tmp_path):
    """Several pending vectors apply together; each gates only groups
    added before it."""
    t = SnapshotTable(spark, str(tmp_path / "mor4"))
    t.append(_df(spark, range(0, 5)))                      # v0
    t.delete_matching(
        spark.createDataFrame([(2,)], "doc_id long"),
        "doc_id", merge_on_read=True,
    )                                                      # v1: gates v0
    t.append(_df(spark, range(10, 15)))                    # v2
    t.delete_matching(
        spark.createDataFrame([(12,), (0,)], "doc_id long"),
        "doc_id", merge_on_read=True,
    )                                                      # v3: gates v0+v2
    assert len(t.pending_delete_vectors()) == 2
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == {1, 3, 4, 10, 11, 13, 14}
    # upsert with pending DVs: replaced + inserted rows correct
    t.upsert(_df(spark, [1, 20], tag="u"), key="doc_id")
    rows = {(r["doc_id"], r["text"]) for r in t.read().collect()}
    assert (1, "u1") in rows and (20, "u20") in rows
    assert {d for d, _ in rows} == {1, 3, 4, 10, 11, 13, 14, 20}


def test_rename_column_metadata_only(spark, tmp_path):
    """Rename rewrites nothing: old groups read through the name
    mapping, new appends use the new name natively, stats pruning works
    on the new name, time travel shows the old name."""
    t = SnapshotTable(spark, str(tmp_path / "ren1"))
    t.append(_df(spark, range(0, 10)))
    t.append(_df(spark, range(100, 110), tag="b"))
    before_groups = t.manifest(t.current_version())["data_groups"]

    t.rename_column("text", "body")
    man = t.manifest(t.current_version())
    assert man["data_groups"] == before_groups  # metadata only
    df = t.read()
    assert df.columns == ["doc_id", "body"]
    rows = {(r["doc_id"], r["body"]) for r in df.collect()}
    assert (5, "a5") in rows and (105, "b105") in rows

    # time travel: the pre-rename snapshot still reads the old name
    assert t.read(version=1).columns == ["doc_id", "text"]

    # appends use the new name; the mixed table reads coherently
    t.append(
        spark.createDataFrame([(200, "n200")], "doc_id long, body string")
    )
    assert t.read().where(F.col("body") == "n200").count() == 1

    # stats were re-keyed: scan on the renamed column still prunes
    hits = t.scan([("body", "b105", "b105")])
    assert hits.count() == 1
    assert len({f.split("/data/")[1].split("/")[0] for f in hits.inputFiles()}) == 1

    # chained rename maps straight to the on-file name
    t.rename_column("body", "content")
    rows2 = {(r["doc_id"], r["content"]) for r in t.read().collect()}
    assert (5, "a5") in rows2 and (200, "n200") in rows2

    # row-level ops through the mapping: delete on the renamed column
    t.delete_matching(
        spark.createDataFrame([("a5",)], "content string"), "content"
    )
    assert t.read().where(F.col("doc_id") == 5).count() == 0


def _append_readded(t, df):
    """Commit `df` under its own, wider schema — what additive schema
    evolution in earlier builds wrote. Tables written then may hold a
    column re-added after a drop or rename, and reads must keep the old
    groups' stale file data for that name dead."""
    gid, gstats = t._stage_group_with_stats(df)

    def mutate(base):
        man = t.manifest(base)
        prior = man["data_groups"]
        stats = {**t._carried_stats(man, prior), gid: gstats}
        return prior + [gid], stats, df.schema.simpleString()

    t._commit_with_retry(mutate, "append")


def test_drop_column_and_readd_reads_null(spark, tmp_path):
    """Drop is metadata-only; re-adding the same name must NOT resurrect
    stale file data from pre-drop groups (the masked-column rule)."""
    t = SnapshotTable(spark, str(tmp_path / "drop1"))
    t.append(_df(spark, range(0, 5)))
    t.drop_column("text")
    assert t.read().columns == ["doc_id"]
    assert t.read(version=0).columns == ["doc_id", "text"]  # time travel

    # re-add the name: old groups read NULL, not 'aN'
    _append_readded(
        t, spark.createDataFrame([(10, "fresh")], "doc_id long, text string")
    )
    rows = {(r["doc_id"], r["text"]) for r in t.read().collect()}
    assert (10, "fresh") in rows
    assert all(txt is None for d, txt in rows if d < 5)

    # dropping a renamed column must mask the ON-FILE name: re-adding
    # the original name would otherwise resurrect the stale file data
    t2 = SnapshotTable(spark, str(tmp_path / "drop2"))
    t2.append(_df(spark, range(0, 3)))
    t2.rename_column("text", "body")
    t2.drop_column("body")
    assert t2.read().columns == ["doc_id"]
    _append_readded(
        t2, spark.createDataFrame([(10, "fresh")], "doc_id long, text string")
    )
    rows2 = {(r["doc_id"], r["text"]) for r in t2.read().collect()}
    assert (10, "fresh") in rows2
    assert all(txt is None for d, txt in rows2 if d < 3)  # not 'aN'
    t2.drop_column("text")  # back to one column
    with pytest.raises(ValueError):
        t2.drop_column("doc_id")  # last column


def test_readd_of_renames_onfile_name_reads_null(spark, tmp_path):
    """rename a→b then add a NEW column named a: old groups' file column
    a holds b's data and must read NULL for the new a — not resurrect
    values or duplicate the scan field."""
    t = SnapshotTable(spark, str(tmp_path / "ren3"))
    t.append(_df(spark, range(0, 3)))
    t.rename_column("text", "body")
    _append_readded(
        t,
        spark.createDataFrame(
            [(10, "b10", "t10")], "doc_id long, body string, text string"
        ),
    )
    rows = {(r["doc_id"], r["body"], r["text"]) for r in t.read().collect()}
    assert (10, "b10", "t10") in rows
    # old rows: body reads the renamed data, the re-added text reads NULL
    assert (1, "a1", None) in rows
    assert {txt for d, _, txt in rows if d < 3} == {None}


def test_rename_validations(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ren2"))
    t.append(_df(spark, range(3)))
    with pytest.raises(ValueError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError):
        t.rename_column("text", "DOC_ID")  # case-insensitive clash
    with pytest.raises(ValueError):
        t.rename_column("text", "bad-name")  # doesn't round-trip


def test_rename_with_pending_mor_dv_keeps_table_readable(spark, tmp_path):
    """Renaming the key column of pending merge-on-read delete vectors
    must follow the rename (entry rewritten to the current name, file_key
    kept for the staged DV parquet) — previously every read/apply path
    crashed on an unresolvable anti-join column, wedging the table."""
    t = SnapshotTable(spark, str(tmp_path / "mordv1"))
    t.append(_df(spark, range(0, 10)))
    t.delete_matching(
        spark.createDataFrame([(3,), (4,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    t.rename_column("doc_id", "document_id")
    got = {r["document_id"] for r in t.read().collect()}
    assert got == set(range(10)) - {3, 4}
    # scan through the renamed DV key
    assert t.scan([("document_id", 0, 5)]).count() == 4  # 0,1,2,5
    # apply_deletes reads through the same path and folds the DV away
    r = t.apply_deletes()
    assert r["applied"] and r["remaining_dvs"] == 0
    assert {x["document_id"] for x in t.read().collect()} == got

    # dropping a pending DV's key column is refused with guidance
    t2 = SnapshotTable(spark, str(tmp_path / "mordv2"))
    t2.append(_df(spark, range(0, 5)))
    t2.delete_matching(
        spark.createDataFrame([(1,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    with pytest.raises(ValueError, match="apply_deletes"):
        t2.drop_column("doc_id")
    t2.apply_deletes()
    t2.drop_column("doc_id")  # now fine
    assert t2.read().columns == ["text"]


def test_stats_prune_date_and_string_bounds_on_timestamp(spark, tmp_path):
    """A DATE or string bound against a timestamp column must prune
    CHRONOLOGICALLY: lexicographic comparison of '2024-01-01' against the
    fixed-width '2024-01-01T00:00:00.000000' stat encoding pruned groups
    containing matching rows, and scan() missed them."""
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "tsenc"))
    t.append(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 0, 0)),
             (2, dt.datetime(2024, 1, 1, 12, 0, 0))],
            "doc_id long, warc_ts timestamp",
        )
    )
    # date bound: Spark casts it to the midnight timestamp → row 1 matches,
    # although the group's min stat sorts lexicographically AFTER the bound
    for hi in (dt.date(2024, 1, 1), "2024-01-01"):
        got = t.scan([("warc_ts", None, hi)])
        assert {r["doc_id"] for r in got.collect()} == {1}, hi
    # string literal bound through scan(): chronological, not lexicographic
    t2 = SnapshotTable(spark, str(tmp_path / "tsenc2"))
    t2.append(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 0, 0)),
             (2, dt.datetime(2024, 2, 1, 0, 0, 0))],
            "doc_id long, warc_ts timestamp",
        )
    )
    assert t2.scan([("warc_ts", None, dt.date(2024, 1, 1))]).count() == 1
    assert (
        t2.scan([("warc_ts", dt.datetime(2024, 1, 15), None)]).count() == 1
    )


def test_stat_encode_pads_ancient_years(spark, tmp_path):
    """Years < 1000 (a common date-parse artifact in crawl data) must
    encode fixed-width — strftime('%Y') emits '99' unpadded, which broke
    the lex==chrono invariant and made a range read silently skip the
    bogus-ancient rows."""
    import datetime as dt

    from simages_spark.table import _stat_encode, _temporal_parse

    anc = dt.datetime(99, 1, 1)
    enc = _stat_encode(anc)
    assert enc == "0099-01-01T00:00:00.000000"
    assert _temporal_parse(enc) == anc
    assert enc < _stat_encode(dt.datetime(2024, 1, 1))  # lex == chrono
    assert _stat_encode(dt.date(99, 1, 1)) == "0099-01-01"

    t = SnapshotTable(spark, str(tmp_path / "anc"))
    t.append(
        spark.createDataFrame(
            [(1, anc), (2, dt.datetime(98, 6, 1))],
            "doc_id long, warc_ts timestamp",
        )
    )
    t.append(
        spark.createDataFrame(
            [(3, dt.datetime(2025, 1, 1))], "doc_id long, warc_ts timestamp"
        )
    )
    groups = t.manifest(t.current_version())["data_groups"]
    old = t.scan([("warc_ts", None, dt.datetime(2024, 1, 1))])
    assert {r["doc_id"] for r in old.collect()} == {1, 2}
    assert _groups_read(old) == {groups[0]}


def test_scan_string_column_stays_lexicographic(spark, tmp_path):
    """A genuine string column holding space-separated ISO timestamps
    must prune by Spark's LEXICOGRAPHIC order — chronological pruning
    would skip groups whose rows match the range, because ' ' sorts
    before 'T' (round-5 review finding)."""
    t = SnapshotTable(spark, str(tmp_path / "strlex"))
    t.append(
        spark.createDataFrame(
            [(1, "2024-01-02 01:00:00")], "doc_id long, seen string"
        )
    )
    t.append(
        spark.createDataFrame(
            [(2, "2024-01-03 09:00:00")], "doc_id long, seen string"
        )
    )
    # lexicographically '2024-01-02 01:00:00' < '2024-01-02T00:30:00'
    # (' ' < 'T') although it is chronologically LATER — a chrono prune
    # would silently drop doc 1
    got = t.scan([("seen", None, "2024-01-02T00:30:00")])
    assert {r["doc_id"] for r in got.collect()} == {1}


def test_delete_matching_timestamp_key_prunes(spark, tmp_path):
    """Point deletes on a TIMESTAMP key must prune via the UTC-decoded
    stats range join — including the group-min key, which a local-tz
    decode would shift out of range on a non-UTC host (round-5 review
    finding; validated to fail pre-fix under TZ=America/New_York)."""
    import datetime as dt

    def ts_df(day_lo, day_hi):
        return spark.createDataFrame(
            [
                (dt.datetime(2020, 1, d, 12), d)
                for d in range(day_lo, day_hi)
            ],
            "warc_ts timestamp, doc_id long",
        )

    t = SnapshotTable(spark, str(tmp_path / "tskey"))
    t.append(ts_df(1, 5))     # group A: Jan 1-4
    t.append(ts_df(10, 15))   # group B: Jan 10-14
    before = list(t.manifest(t.current_version())["data_groups"])
    keys = spark.createDataFrame(
        [(dt.datetime(2020, 1, 1, 12),)], "warc_ts timestamp"
    )  # the group-A MIN — the boundary a tz-shifted range misses
    t.delete_matching(keys, "warc_ts")
    after = t.manifest(t.current_version())["data_groups"]
    assert before[1] in after and before[0] not in after
    assert t.read().count() == 8
    assert min(r["doc_id"] for r in t.read().collect()) == 2


def test_apply_deletes_rewrites_only_key_holding_groups(spark, tmp_path):
    """Folding a small DV on a many-group table must rewrite ONLY the
    groups whose stats can hold a DV key; the other gated groups are
    carried by reference and restamped so the vector still dies
    (round-5 review finding: the fold was O(table))."""
    t = SnapshotTable(spark, str(tmp_path / "morprune"))
    for i in range(5):
        t.append(_df(spark, range(i * 100, i * 100 + 10)))
    before = list(t.manifest(t.current_version())["data_groups"])
    t.delete_matching(
        spark.createDataFrame([(203,), (205,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    r = t.apply_deletes()
    assert r["applied"] and r["remaining_dvs"] == 0
    after = t.manifest(t.current_version())["data_groups"]
    # 4 of 5 original groups carried by reference; only the key-holding
    # group (200-209) was rewritten
    assert set(before) & set(after) == set(before) - {before[2]}
    expect = {
        i for g in range(5) for i in range(g * 100, g * 100 + 10)
    } - {203, 205}
    assert {x["doc_id"] for x in t.read().collect()} == expect
    # restamped groups must still be gated by FUTURE vectors
    t.delete_matching(
        spark.createDataFrame([(0,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    assert 0 not in {x["doc_id"] for x in t.read().collect()}


def test_manifest_row_count_zero_jobs_path(spark, tmp_path):
    """Exact visible row count from manifest stats; None whenever the
    manifest cannot answer exactly (no version, pending delete
    vectors)."""
    t = SnapshotTable(spark, str(tmp_path / "mrc"))
    assert t.manifest_row_count() is None
    t.append(_df(spark, range(7)))
    assert t.manifest_row_count() == 7
    t.append(_df(spark, range(10, 13)))
    assert t.manifest_row_count() == 10
    t.delete_matching(
        spark.createDataFrame([(1,)], "doc_id long"),
        "doc_id",
        merge_on_read=True,
    )
    assert t.manifest_row_count() is None  # DV pending → would overcount
    t.apply_deletes()
    assert t.manifest_row_count() == 9
    t.truncate()
    assert t.manifest_row_count() == 0
