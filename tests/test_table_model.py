"""Randomized model test for the ACID snapshot table: a seeded sequence
of mixed operations (append / upsert / copy-on-write and merge-on-read
deletes / stats-pruned range scans on both the int key and the
timestamp column / fold / compact / metadata-only rename / expire+vacuum)
runs against BOTH the real table and a pure-Python row-multiset model,
with read-equivalence asserted after EVERY op, every scan checked
against the model's rows in its range, and time travel spot-checked
against remembered model snapshots.

Why: round 5's review found that every pruning bug in this layer has the
same signature — visible rows silently diverge from the intended
semantics only for specific value/stats/op interleavings. Example-based
tests pin the interleavings we thought of; this drives a few hundred ops
through interleavings nobody thought of. The seed is fixed so a failure
reproduces exactly."""

from __future__ import annotations

import datetime as dt
import random

from simages_spark.table import SnapshotTable

N_OPS = 60
KEYSPACE = 400  # small enough that ops collide constantly


def _ts(doc_id: int) -> dt.datetime:
    # warc_ts is a deterministic function of doc_id so the model never
    # tracks it separately — and scans on it exercise temporal pruning
    return dt.datetime(2020, 1, 1) + dt.timedelta(hours=doc_id)


def _mk_df(spark, rows, text_col):
    return spark.createDataFrame(
        [(d, _ts(d), s) for d, s in rows],
        f"doc_id long, warc_ts timestamp, {text_col} string",
    )


def _snapshot(model):
    return tuple(sorted(model))


def test_table_random_ops_match_model(spark, tmp_path):
    rng = random.Random(20260819)
    t = SnapshotTable(spark, str(tmp_path / "model_t"))
    text_col = "text"
    model: list[tuple[int, str]] = []  # multiset of (doc_id, text)
    history: dict[int, tuple] = {}  # version -> frozen model snapshot
    counts = {}

    def check(op):
        got = sorted(
            (r["doc_id"], r["warc_ts"], r[text_col])
            for r in t.read().collect()
        )
        want = sorted((d, _ts(d), s) for d, s in model)
        assert got == want, (op, len(got), len(want))

    def new_rows(n):
        return [
            (rng.randrange(KEYSPACE), f"s{rng.randrange(10**6)}")
            for _ in range(n)
        ]

    # seed the table so early deletes and scans have something to chew on
    model += new_rows(30)
    t.append(_mk_df(spark, model, text_col))
    history[t.current_version()] = _snapshot(model)
    check("seed")

    for step in range(N_OPS):
        op = rng.choice(
            [
                "append",
                "append",
                "upsert",
                "delete_keys_cow",
                "delete_keys_mor",
                "scan_id",
                "scan_ts",
                "apply_deletes",
                "compact",
                "rename",
                "expire_vacuum",
            ]
        )
        counts[op] = counts.get(op, 0) + 1
        if op == "append":
            rows = new_rows(rng.randrange(1, 12))
            t.append(_mk_df(spark, rows, text_col))
            model += rows
        elif op == "upsert":
            rows = new_rows(rng.randrange(1, 8))
            # upsert semantics: one row per key in the source frame
            dedup = {d: s for d, s in rows}
            rows = list(dedup.items())
            t.upsert(_mk_df(spark, rows, text_col), key="doc_id")
            model = [r for r in model if r[0] not in dedup] + rows
        elif op in ("delete_keys_cow", "delete_keys_mor"):
            ks = {rng.randrange(KEYSPACE) for _ in range(rng.randrange(1, 6))}
            t.delete_matching(
                spark.createDataFrame([(k,) for k in ks], "doc_id long"),
                "doc_id",
                merge_on_read=(op == "delete_keys_mor"),
            )
            model = [r for r in model if r[0] not in ks]
        elif op in ("scan_id", "scan_ts"):
            # bounds drawn from the groups' doc_id [min,max] stats (±1)
            # so the range edges land exactly on stats boundaries — the
            # place off-by-one prunes hide; warc_ts is monotone in doc_id,
            # so its stats boundaries are _ts of the same ids
            stats = t.manifest(t.current_version()).get("group_stats") or {}
            edges = [
                e
                for st in stats.values()
                for e in ((st or {}).get("columns") or {}).get("doc_id", [])
            ] or [rng.randrange(KEYSPACE)]
            lo, hi = sorted(
                rng.choice(edges) + rng.choice((-1, 0, 1)) for _ in range(2)
            )
            side = rng.random()
            lo = None if side < 0.2 else lo
            hi = None if 0.2 <= side < 0.4 else hi
            if op == "scan_id":
                pred = ("doc_id", lo, hi)
            else:
                pred = (
                    "warc_ts",
                    None if lo is None else _ts(lo),
                    None if hi is None else _ts(hi),
                )
            got = sorted(
                (r["doc_id"], r["warc_ts"], r[text_col])
                for r in t.scan([pred]).collect()
            )
            want = sorted(
                (d, _ts(d), s)
                for d, s in model
                if (lo is None or d >= lo) and (hi is None or d <= hi)
            )
            assert got == want, (step, pred, len(got), len(want))
        elif op == "apply_deletes":
            t.apply_deletes()  # visible rows must not change
        elif op == "compact":
            t.compact(target_rows=rng.choice([50, 200, 10**6]))
        elif op == "rename":
            new = "body" if text_col == "text" else "text"
            t.rename_column(text_col, new)
            text_col = new
        elif op == "expire_vacuum":
            t.expire_snapshots(keep_last=rng.randrange(1, 4))
            t.vacuum(min_age_s=0)
            # expired versions are gone; forget their snapshots
            live = set(t.versions())
            history.clear()
            history[t.current_version()] = _snapshot(model)
            assert t.current_version() in live
        check(f"{step}:{op}")
        v = t.current_version()
        # renames are metadata-only; remembered snapshots predate them,
        # so only remember/compare while the column name is stable
        if text_col == "text":
            history[v] = _snapshot(model)
        # time-travel spot check against a random remembered snapshot
        live_versions = [
            hv for hv in history if hv in set(t.versions())
        ]
        if live_versions and rng.random() < 0.4:
            hv = rng.choice(live_versions)
            old = sorted(
                (r["doc_id"], r[1], r[2])
                for r in t.read(version=hv).collect()
            )
            want = sorted((d, _ts(d), s) for d, s in history[hv])
            assert old == want, ("time-travel", hv)

    # every op family must actually have run for the test to mean much
    assert len(counts) >= 9, counts
