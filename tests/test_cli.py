"""CLI smoke: stage-by-stage pipeline over checkpoints (in-process)."""

from __future__ import annotations

import json
import shutil

from simages_spark.checkpoint import TableCheckpointStore
from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.groups import keep_first_policy
from simages_spark.pipeline import build_candidates, build_edges, representative_docs

CFG = DedupConfig()


def test_stagewise_checkpoint_flow(spark, docs_sf0001, tmp_path):
    """The cli.py command sequence (signatures → candidates → cluster →
    apply-policy) as in-process calls over one TableCheckpointStore."""
    store = TableCheckpointStore(spark, str(tmp_path / "wd"))

    sig = store.get_or_compute(
        "signatures", lambda: compute_signatures(representative_docs(docs_sf0001), CFG)
    )
    assert store.exists("signatures")
    meta = store.metrics("signatures")
    # exact-first: one signature per distinct non-empty text
    assert meta["rows"] == (
        docs_sf0001.where("text IS NOT NULL AND trim(text) != ''")
        .select("text").distinct().count()
    )
    assert meta["partitions"] >= 1  # per-partition lineage recorded

    cand = store.get_or_compute(
        "candidates", lambda: build_candidates(docs_sf0001, sig, CFG)
    )
    edges = store.get_or_compute(
        "edges", lambda: build_edges(cand, sig, docs_sf0001, CFG)
    )
    clusters = store.get_or_compute(
        "clusters", lambda: connected_components(edges, CFG)
    )

    policy = keep_first_policy(clusters, docs_sf0001, CFG)
    to_delete = policy.where("NOT is_keeper")
    kept = docs_sf0001.join(to_delete.select("doc_id"), "doc_id", "left_anti")
    assert kept.count() == docs_sf0001.count() - to_delete.count()

    # resume: fresh store over the same dir skips recompute and yields
    # identical rows (the .npy-cache semantics, extractor.py:179-189)
    store2 = TableCheckpointStore(spark, str(tmp_path / "wd"))
    sig2 = store2.get_or_compute("signatures", lambda: 1 / 0)  # must not run
    assert sig2.count() == meta["rows"]

    # stage metrics (commit properties) are valid json for every stage
    for stage in ("signatures", "candidates", "edges", "clusters"):
        m = store2.metrics(stage)
        assert json.dumps(m)  # serializable
        assert m["rows"] >= 0


def test_render_html_report():
    """S12 sink: escaped static HTML, keeper row marked, pager links
    (reference chunks 25/page + Jinja render,
    src/simages/duplicate_images/duplicate_finder.py:304-339)."""
    from simages_spark.report import render_html_report

    rows = [
        {
            "cluster_id": 7,
            "total": 2,
            "items": [
                {"doc_id": 1, "url": "http://a/<script>"},
                {"doc_id": 2, "url": "http://b"},
            ],
        },
        {"cluster_id": 9, "total": 3, "items": []},
    ]
    out = render_html_report(rows, page=2, page_size=25, n_pages=3)
    assert "cluster 7" in out and "cluster 9" in out
    assert "&lt;script&gt;" in out and "<script>" not in out  # escaped
    assert out.count('class="keeper"') == 1  # first member of group 7
    assert 'href="report_p1.html"' in out and "<b>2</b>" in out  # pager
    # JSON-string items (the checkpointed-groups form) also render
    out2 = render_html_report(
        [{"cluster_id": 1, "total": 2,
          "items": json.dumps([{"doc_id": 4}, {"doc_id": 5}])}],
        page=1, page_size=25, n_pages=1,
    )
    assert "cluster 1" in out2 and out2.count('class="keeper"') == 1


def test_probe_flow_with_checkpointed_index(spark, docs_sf0001, tmp_path):
    """The cli.py `probe` flow in-process: signatures stage checkpoints
    the slim probe index alongside; a batch of exact re-crawls probed
    through the stored index matches every non-empty batch doc at 1.0."""
    from pyspark.sql import functions as F

    from simages_spark.operators.incremental import incremental_dedup_edges
    from simages_spark.operators.sig_index import probe_keys

    store = TableCheckpointStore(spark, str(tmp_path / "wd_probe"))
    sig = store.get_or_compute(
        "signatures",
        lambda: compute_signatures(representative_docs(docs_sf0001), CFG),
    )
    store.get_or_compute("sig_index", lambda: probe_keys(sig, CFG))

    batch = (
        docs_sf0001.where(F.col("doc_id") % 10 == 0)
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .select("doc_id", "text")
    )
    edges = incremental_dedup_edges(
        batch, store.read("signatures"), CFG,
        existing_index=store.read("sig_index"),
    )
    exact = edges.where(F.col("jaccard") == 1.0)
    assert (
        exact.select("src").distinct().count() == batch.count()
    )  # every re-crawled doc matches the store


def test_table_checkpoint_store(spark, docs_sf0001, tmp_path):
    """TableCheckpointStore: the stagewise flow plus what the table form
    adds — per-stage version history (lineage of reruns), stage time
    travel, and commit-time metrics."""
    from simages_spark.checkpoint import config_fingerprint

    store = TableCheckpointStore(spark, str(tmp_path / "twd"))
    fp = config_fingerprint(CFG)

    sig = store.get_or_compute(
        "signatures",
        lambda: compute_signatures(representative_docs(docs_sf0001), CFG),
        fingerprint=fp,
    )
    n_sig = sig.count()
    assert store.exists("signatures")
    meta = store.metrics("signatures")
    assert meta["rows"] == n_sig and meta["fingerprint"] == fp
    assert meta["partitions"] >= 1  # per-partition lineage recorded
    # lineage columns stored but not surfaced
    assert "part_id" not in sig.columns and "stage_run_id" not in sig.columns

    # resume-skip: compute must not run again under the same fingerprint
    sig2 = store.get_or_compute("signatures", lambda: 1 / 0, fingerprint=fp)
    assert sig2.count() == n_sig
    assert len(store.history("signatures")) == 1

    # a config change is a NEW VERSION, and the old run stays readable
    cfg2 = DedupConfig(jaccard_threshold=0.9)
    store.get_or_compute(
        "signatures",
        lambda: compute_signatures(representative_docs(docs_sf0001), cfg2),
        fingerprint=config_fingerprint(cfg2),
    )
    hist = store.history("signatures")
    assert len(hist) == 2 and hist[0]["fingerprint"] == fp
    assert store.read("signatures", version=0).count() == n_sig  # time travel
    assert store.metrics("signatures", version=0)["fingerprint"] == fp

    # downstream stages flow from the stored signatures
    cand = store.get_or_compute(
        "candidates", lambda: build_candidates(docs_sf0001, sig, CFG)
    )
    edges = store.get_or_compute(
        "edges", lambda: build_edges(cand, sig, docs_sf0001, CFG)
    )
    clusters = store.get_or_compute(
        "clusters", lambda: connected_components(edges, CFG)
    )
    assert clusters.count() > 0


def test_schema_columns_parser():
    """Depth-aware top-level field extraction — 'id' must not match
    'batch_id', nested names must not count."""
    from simages_spark.cli import _schema_columns

    s = "struct<doc_id:bigint,batch_id:int,m:array<struct<id:int,pos:int>>,text:string>"
    cols = _schema_columns(s)
    assert cols == ["doc_id", "batch_id", "m", "text"]
    assert "id" not in cols and "pos" not in cols
    assert _schema_columns("struct<a:bigint>") == ["a"]


def test_cli_compact_crawl_tables_missing_root_errors(tmp_path):
    """A typo'd --crawl-tables root must error up front, not fabricate
    empty table skeletons and report success."""
    import pytest

    from simages_spark import cli

    bogus = str(tmp_path / "nope")
    with pytest.raises(SystemExit):
        cli.main(["compact", "--crawl-tables", bogus])
    assert not (tmp_path / "nope").exists()  # nothing fabricated


def test_checkpoint_legacy_layout_refused(spark, tmp_path):
    """A stage in the old directory layout (a `<name>.meta.json` sidecar
    beside its parquet dir) must be a clear error that names `clear` —
    not a silent recompute into the directory that still holds it."""
    import os

    import pytest

    from simages_spark.checkpoint import config_fingerprint

    wd = str(tmp_path / "wd")
    os.makedirs(os.path.join(wd, "sig"))
    with open(os.path.join(wd, "sig.meta.json"), "w") as f:
        f.write("{}")
    store = TableCheckpointStore(spark, wd)
    with pytest.raises(ValueError, match="clear"):
        store.exists("sig")
    with pytest.raises(ValueError, match="clear"):
        store.get_or_compute("sig", lambda: 1 / 0)
    assert os.listdir(os.path.join(wd, "sig")) == []  # nothing written

    # storage knobs must NOT invalidate fingerprints: moving the workdir
    # is not a semantic config change
    a = DedupConfig(checkpoint_dir="/x")
    b = DedupConfig(checkpoint_dir="/y")
    assert config_fingerprint(a) == config_fingerprint(b)
    assert config_fingerprint(a) != config_fingerprint(
        DedupConfig(jaccard_threshold=0.7)
    )


def test_schema_columns_parametrized_types():
    from simages_spark.cli import _schema_columns

    s = "struct<score:decimal(10,2),name:varchar(20),doc_id:bigint>"
    assert _schema_columns(s) == ["score", "name", "doc_id"]


def test_cli_table_maintenance_command(spark, tmp_path, monkeypatch):
    """The `table` subcommand: merge-on-read delete by key file,
    apply-deletes fold, metadata rename/drop, history — in-process main()
    calls against a shared session (cli.get_spark returns the active
    one; its stop() is stubbed so the fixture session survives)."""
    from simages_spark.cli import main
    from simages_spark.table import SnapshotTable

    monkeypatch.setattr(spark, "stop", lambda: None)

    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    t.append(
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
        )
    )
    keys_path = str(tmp_path / "keys.parquet")
    spark.createDataFrame([(3,), (4,)], "doc_id long").write.parquet(keys_path)

    rc = main([
        "table", "--table-root", root,
        "--delete-keys", keys_path, "--key", "doc_id", "--merge-on-read",
    ])
    assert rc == 0
    assert len(t.pending_delete_vectors()) == 1
    assert t.read().count() == 8

    rc = main([
        "table", "--table-root", root,
        "--apply-deletes", "--rename-column", "text:body", "--history",
    ])
    assert rc == 0
    assert t.pending_delete_vectors() == []
    assert t.read().columns == ["doc_id", "body"]

    rc = main(["table", "--table-root", root, "--drop-column", "body"])
    assert rc == 0
    assert t.read().columns == ["doc_id"]


def test_cli_table_rejects_malformed_rename_before_any_mutation(
    spark, tmp_path, monkeypatch
):
    """A malformed --rename-column must be rejected up front — previously
    it was validated only at its own step, AFTER --delete-keys had
    already committed, so a 'rejected' command left mutations behind."""
    import pytest

    from simages_spark.cli import main
    from simages_spark.table import SnapshotTable

    monkeypatch.setattr(spark, "stop", lambda: None)
    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    t.append(
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(5)], "doc_id long, text string"
        )
    )
    keys_path = str(tmp_path / "keys.parquet")
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(keys_path)
    v_before = t.current_version()

    with pytest.raises(SystemExit):
        main([
            "table", "--table-root", root,
            "--delete-keys", keys_path,
            "--rename-column", "no-colon-here",  # malformed
        ])
    assert t.current_version() == v_before  # the delete did NOT run
    assert t.read().count() == 5


def test_cli_compact_crawl_tables_folds_clusters(
    spark, tmp_path, monkeypatch, capsys
):
    """`compact --crawl-tables` folds the crawl's cluster forwarding
    table into its members (a root holding only `clusters/` is valid);
    the labels read the same before and after."""
    from simages_spark.cli import main
    from simages_spark.operators.cluster_state import ClusterState

    monkeypatch.setattr(spark, "stop", lambda: None)
    root = str(tmp_path / "crawl")
    st = ClusterState(spark, f"{root}/clusters")
    edges = "src long, dst long"
    st.update(spark.createDataFrame([(3, 2)], edges), 0, cfg=CFG)
    st.update(spark.createDataFrame([(2, 1)], edges), 1, cfg=CFG)  # 2 → 1
    before = {tuple(r) for r in st.clusters().collect()}
    assert before == {(1, 1), (2, 1), (3, 1)}
    capsys.readouterr()

    assert main(["compact", "--crawl-tables", root]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"clusters": {"folded": True, "forward_entries_applied": 1}}
    assert st.forward.manifest_row_count() == 0
    assert {tuple(r) for r in st.clusters().collect()} == before


def test_cli_clear_needs_no_corpus_and_no_spark(tmp_path, capsys):
    """clear must work with only --workdir (the corpus may be long gone)
    and without starting a session."""
    import json as _json

    from simages_spark.cli import main

    wd = tmp_path / "wd"
    (wd / "sub").mkdir(parents=True)
    (wd / "sub" / "f").write_text("x")
    rc = main(["clear", "--workdir", str(wd)])
    assert rc == 0 and not wd.exists()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert _json.loads(out) == {"cleared": str(wd)}


def test_cli_ingest_requires_new_input():
    """Missing --new-input must be an argparse error, not a deep Py4J
    crash after session startup."""
    import pytest

    from simages_spark.cli import main

    with pytest.raises(SystemExit):
        main(["ingest", "--input", "/x", "--workdir", "/y"])


def test_render_html_report_truncation_and_links():
    """A capped group must say 'showing N of total' (never-silent caps)
    and nav links must follow the caller's page-file naming."""
    from simages_spark.report import render_html_report

    rows = [{
        "cluster_id": 3,
        "total": 5,  # capped: only 2 of 5 members materialized
        "items": [{"doc_id": 1}, {"doc_id": 2}],
    }]
    out = render_html_report(
        rows, page=2, page_size=25, n_pages=3, link_pattern="mine_p{page}.html"
    )
    assert "showing 2 of 5" in out
    assert 'href="mine_p1.html"' in out and 'href="mine_p3.html"' in out
    assert "report_p1.html" not in out
    # un-capped groups carry no marker
    out2 = render_html_report(
        [{"cluster_id": 1, "total": 2, "items": [{"d": 1}, {"d": 2}]}],
        page=1, page_size=25, n_pages=1,
    )
    assert "showing" not in out2


def test_cli_strip_substrings_command(spark, tmp_path, monkeypatch, capsys):
    """`strip-substrings`: spans + stripped corpus checkpointed under the
    min_len fingerprint; summary JSON reports the chars removed; a rerun
    reuses both stages (stage-skip)."""
    import random

    from simages_spark.cli import main

    monkeypatch.setattr(spark, "stop", lambda: None)

    rng = random.Random(41)
    boiler = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(90))
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (1, "first " + boiler, 0),
            (2, "second " + boiler + " tail", 1),
            (3, "unrelated short text", 2),
        ],
        "doc_id long, text string, warc_ts long",
    ).write.parquet(corpus)
    wd = str(tmp_path / "wd")

    rc = main([
        "strip-substrings", "--input", corpus, "--workdir", wd,
        "--min-len", "64",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stripped_corpus"] == 3
    assert out["spans_removed"] == 1
    assert out["chars_removed"] >= 90  # the boiler run leaves doc 2

    store = TableCheckpointStore(spark, wd)
    assert store.exists("substring_spans") and store.exists("stripped_corpus")
    stripped = {
        r["doc_id"]: r["text"] for r in store.read("stripped_corpus").collect()
    }
    assert boiler in stripped[1] and boiler not in stripped[2]
    assert stripped[3] == "unrelated short text"

    # rerun at the same min_len reuses both checkpoints (stage-skip)
    run1 = store.metrics("stripped_corpus")["run_id"]
    rc = main([
        "strip-substrings", "--input", corpus, "--workdir", wd,
        "--min-len", "64",
    ])
    assert rc == 0
    assert store.metrics("stripped_corpus")["run_id"] == run1


def test_cli_decontaminate_command(spark, tmp_path, monkeypatch, capsys):
    """`decontaminate`: flags corpus docs sharing 5-gram shingles with the
    benchmark parquet; report checkpointed under a (k, cap, benchmark)
    fingerprint; a changed benchmark path recomputes."""
    from simages_spark.cli import main

    monkeypatch.setattr(spark, "stop", lambda: None)

    leak = "the exact question text of a held out benchmark item"
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (1, "ordinary page about something else entirely today", 0),
            (2, "prefix words then " + leak + " then more", 1),
            (3, "another clean page with its own words only", 2),
        ],
        "doc_id long, text string, warc_ts long",
    ).write.parquet(corpus)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(100, leak)], "doc_id long, text string").write.parquet(
        bench
    )
    bench2 = str(tmp_path / "bench2.parquet")
    spark.createDataFrame(
        [(200, "completely disjoint benchmark content here now")],
        "doc_id long, text string",
    ).write.parquet(bench2)
    wd = str(tmp_path / "wd")

    rc = main([
        "decontaminate", "--input", corpus, "--workdir", wd,
        "--benchmark", bench,
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "contaminated_docs": 1, "corpus_docs": 3, "benchmark_docs": 1,
    }
    store = TableCheckpointStore(spark, wd)
    flagged = store.read("decontamination").collect()
    assert [r["doc_id"] for r in flagged] == [2]
    assert flagged[0]["n_overlap"] >= 1

    # a different benchmark = a different fingerprint: stage recomputes
    # and doc 2 is no longer flagged
    rc = main([
        "decontaminate", "--input", corpus, "--workdir", wd,
        "--benchmark", bench2,
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["contaminated_docs"] == 0

    # an IN-PLACE overwrite at the same path is also a different
    # benchmark: content identity (newest mtime) joins the fingerprint,
    # so the stale clean report is not reused
    shutil.rmtree(bench2)
    spark.createDataFrame(
        [(200, "prefix " + leak + " suffix")], "doc_id long, text string"
    ).write.parquet(bench2)
    rc = main([
        "decontaminate", "--input", corpus, "--workdir", wd,
        "--benchmark", bench2,
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["contaminated_docs"] == 1


def test_cli_line_dedup_command(spark, tmp_path, monkeypatch, capsys):
    """`line-dedup`: stats + deduped corpus checkpointed under the
    segment-width fingerprint; rerun stage-skips; width change recomputes."""
    from simages_spark.cli import main

    monkeypatch.setattr(spark, "stop", lambda: None)

    boiler = "alpha beta gamma delta"  # one full 4-token window
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (1, boiler + " unique one two", 0),
            (2, boiler + " other tail words", 1),
            (3, "entirely different text here", 2),
        ],
        "doc_id long, text string, warc_ts long",
    ).write.parquet(corpus)
    wd = str(tmp_path / "wd")

    rc = main([
        "line-dedup", "--input", corpus, "--workdir", wd,
        "--segment-words", "4",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 3
    assert out["dup_segments"] == 1  # doc 2's boiler window lost to doc 1
    assert out["segments_kept"] == out["segments"] - 1

    store = TableCheckpointStore(spark, wd)
    deduped = {
        r["doc_id"]: r["text_deduped"]
        for r in store.read("line_deduped_corpus").collect()
    }
    assert deduped[1].startswith(boiler)
    assert boiler not in deduped[2]

    # rerun: stage-skip; width change: recompute
    run1 = store.metrics("line_dup_stats")["run_id"]
    assert main([
        "line-dedup", "--input", corpus, "--workdir", wd,
        "--segment-words", "4",
    ]) == 0
    assert store.metrics("line_dup_stats")["run_id"] == run1
    assert main([
        "line-dedup", "--input", corpus, "--workdir", wd,
        "--segment-words", "3",
    ]) == 0
    assert store.metrics("line_dup_stats")["run_id"] != run1


def test_cli_curate_command(spark, tmp_path, monkeypatch, capsys):
    """`curate`: the full composition over the checkpointed pipeline
    clusters; requires cluster to have run (prerequisite discipline)."""
    from simages_spark.cli import main

    monkeypatch.setattr(spark, "stop", lambda: None)

    base = " ".join(f"word{i}" for i in range(40))
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (0, base, "en", 0),
            (1, base, "en", 1),  # exact dup → dedup loser
            (2, "clean and unique page with plenty of distinct words "
                "covering the minimum token threshold easily right here",
             "en", 2),
            (3, "bench mark gram one two three four five six seven eight "
                "nine ten eleven twelve", "en", 3),  # contaminated
        ],
        "doc_id long, text string, lang string, warc_ts long",
    ).write.parquet(corpus)
    benchmark = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(100, "bench mark gram one two three four five six seven eight "
               "nine ten eleven twelve")],
        "doc_id long, text string",
    ).write.parquet(benchmark)
    wd = str(tmp_path / "wd")

    for cmd in ("signatures", "candidates", "cluster"):
        assert main([cmd, "--input", corpus, "--workdir", wd]) == 0
    capsys.readouterr()
    rc = main([
        "curate", "--input", corpus, "--workdir", wd,
        "--benchmark", benchmark,
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["input_docs"] == 4
    assert out["dedup_dropped"] == 1       # doc 1 loses to doc 0
    assert out["contaminated_dropped"] == 1  # doc 3
    assert out["curated_docs"] == 2          # docs 0 and 2 survive


def test_cli_curate_checkpoint_hit_reuses_counts(spark, tmp_path, monkeypatch, capsys):
    """Round-6: on a curated_corpus fingerprint hit the drop counts come
    from the sidecar written at compute time — the expensive decision
    sets are not re-derived (round-5 ADVICE), and the output is
    byte-identical across the miss and hit invocations."""
    from simages_spark.cli import main

    monkeypatch.setattr(spark, "stop", lambda: None)

    base = " ".join(f"word{i}" for i in range(40))
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (0, base, "en", 0),
            (1, base, "en", 1),
            (2, "clean and unique page with plenty of distinct words "
                "covering the minimum token threshold easily right here",
             "en", 2),
        ],
        "doc_id long, text string, lang string, warc_ts long",
    ).write.parquet(corpus)
    benchmark = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(100, "bench mark gram one two three four five six seven")],
        "doc_id long, text string",
    ).write.parquet(benchmark)
    wd = str(tmp_path / "wd")
    for cmd in ("signatures", "candidates", "cluster"):
        assert main([cmd, "--input", corpus, "--workdir", wd]) == 0
    capsys.readouterr()
    args = ["curate", "--input", corpus, "--workdir", wd,
            "--benchmark", benchmark]
    assert main(args) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    import os as _os
    sidecar = _os.path.join(wd, "curate_counts.json")
    assert _os.path.exists(sidecar)
    assert main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first == second
    assert second["dedup_dropped"] == 1
