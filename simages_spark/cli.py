"""spark-submit CLI — stage-by-stage pipeline runner.

Subcommand parity with the reference CLI (`simages add/find/show/remove/
clear`, reference: src/simages/main.py:14-35,238-288), re-cut along the
batch pipeline's checkpoint boundaries so any stage can be (re)run or
resumed independently (north_rule: resumable with lineage + metrics):

    spark-submit --py-files simages_spark.zip -m simages_spark.cli \\
        <ingest|signatures|candidates|cluster|probe|report|apply-policy|show|clear|compact> \\
        --input <parquet dir/table> --workdir <checkpoint root> [options]

`probe` is the continuous-crawl form of the reference's `add`: a new
batch (--new-input) is near-dup-probed against the maintained signature
store through the slim probe index the `signatures` stage checkpoints
alongside the signatures (operators/sig_index.py) — per-batch cost never
rescans the store payload. `--within-batch` additionally emits the
batch's internal near-dup pairs, so probe edges ∪ corpus edges cluster
identically to a from-scratch run on the union.

`compact --crawl-tables <root>` is the offline maintenance action for
long-running crawls (stream_near_dedup_to_tables, stream_crawl_dedup):
SnapshotTable.compact() on each crawl table (sig_table, idx_table,
edges_table, lineage_table), and a fold of the crawl's
incremental cluster labeling (`<root>/clusters`) when it exists.

Every stage checkpoints as a version of an ACID SnapshotTable under
`<workdir>/<stage>/`: single-hardlink atomic commits, the full run
history per stage, and stage time travel (checkpoint.TableCheckpointStore).
The --py-files artifact itself is built by tools/make_pyfiles_zip.py
(deterministic bytes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from simages_spark.checkpoint import TableCheckpointStore, config_fingerprint
from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures, signature_metrics
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.groups import (
    duplicate_groups,
    keep_first_policy,
    paginate_groups,
)
from simages_spark.operators.lsh import lsh_metrics
from simages_spark.pipeline import build_candidates, build_edges, representative_docs
from simages_spark.session import get_spark
from simages_spark.sources.corpus import ingest as ingest_op, mint_doc_ids

# the SnapshotTables of a crawl root (streaming.stream_crawl_dedup)
_CRAWL_TABLES = ("sig_table", "idx_table", "edges_table", "lineage_table")


def _load_docs(spark, path: str):
    df = spark.read.parquet(path)
    if "doc_id" not in df.columns:
        df = mint_doc_ids(df, "url")
    return df


def _schema_columns(schema: str) -> list[str]:
    """Top-level field names of a simpleString schema
    ('struct<a:bigint,b:array<struct<c:int>>>' → ['a', 'b']) — a
    depth-aware split, NOT a substring test: 'id' must not match
    'batch_id:', and nested field names must not count. Both bracket
    kinds nest: decimal(10,2)/varchar(n) carry commas in PARENS."""
    inner = schema.removeprefix("struct<").removesuffix(">")
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(inner + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            field = inner[start:i]
            cols.append(field.split(":", 1)[0].strip())
            start = i + 1
    return [c for c in cols if c]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="simages-spark")
    ap.add_argument("command", choices=[
        "ingest", "signatures", "candidates", "cluster", "probe",
        "substrings", "strip-substrings", "line-dedup", "decontaminate",
        "curate", "report",
        "apply-policy", "show", "clear", "compact", "table",
    ])
    ap.add_argument("--input", help="corpus parquet path")
    ap.add_argument("--workdir", help="checkpoint root")
    ap.add_argument("--crawl-tables", default=None,
                    help="compact: root of a crawl store (sig_table/ "
                         "idx_table/ edges_table/ [lineage_table/] "
                         "[clusters/] as written "
                         "by stream_near_dedup_to_tables or "
                         "stream_crawl_dedup); runs SnapshotTable.compact()"
                         " on each table — bin-packs per-batch groups into "
                         "~--target-rows groups, history stays "
                         "time-travelable — and folds the cluster "
                         "labeling. Run between streaming runs "
                         "(availableNow slots), never mid-batch.")
    ap.add_argument("--target-rows", type=int, default=50_000_000,
                    help="--crawl-tables: rows per packed group")
    ap.add_argument("--sort-by", default=None,
                    help="--crawl-tables: range-cluster each table's "
                         "packs on this column where it exists (e.g. "
                         "pkey clusters the probe index; doc_id the "
                         "signature store) — restores scan stats-pruning "
                         "after arbitrary-order appends")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="--crawl-tables: after compacting, expire all "
                         "but the last N snapshots of each table "
                         "(retention — folded-away groups stay pinned "
                         "by history until expired)")
    ap.add_argument("--vacuum-min-age", type=float, default=None,
                    help="--crawl-tables: after expiring, reclaim "
                         "unreferenced data groups older than this many "
                         "seconds (pass with --expire-keep for the full "
                         "maintenance loop: fold → expire → reclaim)")
    ap.add_argument("--new-input", help="ingest: incoming parquet path")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--topk", type=int, default=None,
                    help="report: cap groups printed/rendered per page "
                         "(default: the full page — a default cap below "
                         "page-size silently hid groups the pagination "
                         "metadata claimed to show)")
    ap.add_argument("--page", type=int, default=1, help="report: 1-based page")
    ap.add_argument("--page-size", type=int, default=25)
    ap.add_argument("--html", help="report: also write a static HTML page here")
    ap.add_argument("--min-len", type=int, default=64,
                    help="substrings: minimum shared-run length (chars)")
    ap.add_argument("--segment-words", type=int, default=10,
                    help="line-dedup: tokens per segment window (the "
                         "'line' width for corpora without newlines)")
    ap.add_argument("--contamination-max", type=float, default=0.2,
                    help="curate: drop docs whose benchmark-shingle "
                         "contamination is at or above this fraction")
    ap.add_argument("--benchmark", default=None,
                    help="decontaminate: parquet path of the benchmark "
                         "suite (eval set) to decontaminate against; any "
                         "corpus doc sharing a k-gram shingle with it is "
                         "flagged in the checkpointed report")
    ap.add_argument("--within-batch", action="store_true",
                    help="probe: also emit batch-internal near-dup pairs")
    ap.add_argument("--table-root", default=None,
                    help="apply-policy: also maintain the corpus as a "
                         "snapshot-versioned ACID table at this root — the "
                         "delete commits as one atomic snapshot (time-"
                         "travelable, concurrent-writer-safe)")
    ap.add_argument("--all-pairs-edges", action="store_true",
                    help="legacy: signatures for EVERY doc and full "
                         "within-group edges, instead of one representative "
                         "per distinct text + linear star edges")
    ap.add_argument("--delete-keys", default=None,
                    help="table: parquet path of keys to DELETE from the "
                         "table at --table-root (one column named --key)")
    ap.add_argument("--key", default="doc_id",
                    help="table --delete-keys: the key column name")
    ap.add_argument("--merge-on-read", action="store_true",
                    help="table --delete-keys: write an equality-delete "
                         "vector instead of rewriting groups (KBs instead "
                         "of GBs for small policy deletes; fold later with "
                         "--apply-deletes)")
    ap.add_argument("--apply-deletes", action="store_true",
                    help="table: fold all pending merge-on-read delete "
                         "vectors into their groups")
    ap.add_argument("--rename-column", default=None, metavar="OLD:NEW",
                    help="table: metadata-only column rename (name "
                         "mapping — no file rewrite)")
    ap.add_argument("--drop-column", default=None, metavar="NAME",
                    help="table: metadata-only column drop")
    ap.add_argument("--history", action="store_true",
                    help="table: print the snapshot history")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    if args.command == "table":
        if not args.table_root:
            ap.error("table requires --table-root")
        if not any(
            (
                args.delete_keys,
                args.apply_deletes,
                args.rename_column,
                args.drop_column,
                args.history,
            )
        ):
            ap.error(
                "table requires an action: --delete-keys / --apply-deletes"
                " / --rename-column / --drop-column / --history"
            )
        # validate EVERY action's args before ANY mutation runs: a malformed
        # --rename-column rejected only at its own step would leave the
        # --delete-keys commit already applied by a command that "errored"
        if args.rename_column:
            old, _, new = args.rename_column.partition(":")
            if not old or not new:
                ap.error("--rename-column expects OLD:NEW")
    elif args.command == "compact":
        if not args.crawl_tables:
            ap.error("compact requires --crawl-tables")
        if not any(
            os.path.isdir(os.path.join(args.crawl_tables.rstrip("/"), n))
            for n in (*_CRAWL_TABLES, "clusters")
        ):
            ap.error(
                f"--crawl-tables {args.crawl_tables!r} contains no crawl "
                "tables (expected sig_table/ idx_table/ edges_table/ "
                "lineage_table/ or clusters/)"
            )
    elif args.command == "clear":
        # clearing a checkpoint dir needs no corpus (and no Spark): the
        # old gate on --input made a workdir uncleanable once its corpus
        # path was gone
        if not args.workdir:
            ap.error("clear requires --workdir")
        import shutil

        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps({"cleared": args.workdir}))
        return 0
    elif args.command == "show":
        if not args.input:
            ap.error("show requires --input")
    elif args.command in ("ingest", "probe"):
        if not (args.input and args.workdir and args.new_input):
            ap.error(f"{args.command} requires --input, --workdir and --new-input")
    elif not (args.input and args.workdir):
        ap.error(f"{args.command} requires --input and --workdir")

    spark = get_spark(f"simages_{args.command}", cores=args.cores)

    if args.command == "table":
        from simages_spark.table import SnapshotTable

        t = SnapshotTable(spark, args.table_root)
        out = {}
        if args.delete_keys:
            keys = spark.read.parquet(args.delete_keys)
            v = t.delete_matching(
                keys, args.key, merge_on_read=args.merge_on_read
            )
            out["delete"] = {
                "version": v,
                "merge_on_read": args.merge_on_read,
                "pending_dvs": len(t.pending_delete_vectors()),
            }
        if args.apply_deletes:
            out["apply_deletes"] = t.apply_deletes()
        if args.rename_column:
            old, _, new = args.rename_column.partition(":")  # pre-validated
            out["rename"] = {"version": t.rename_column(old, new)}
        if args.drop_column:
            out["drop"] = {"version": t.drop_column(args.drop_column)}
        if args.history:
            out["history"] = [
                {k: h.get(k) for k in ("version", "op", "parent")}
                for h in t.history()
            ]
        out["rows"] = t.read().count() if t.current_version() is not None else 0
        print(json.dumps(out))
        spark.stop()
        return 0

    if args.command == "compact":
        from simages_spark.table import SnapshotTable

        out = {}
        croot = args.crawl_tables.rstrip("/")
        for name in _CRAWL_TABLES:
            # only open tables that exist: SnapshotTable.__init__ mkdirs
            # its layout, and a typo'd --crawl-tables root must error,
            # not fabricate empty skeletons and "succeed"
            if not os.path.isdir(os.path.join(croot, name)):
                continue
            t = SnapshotTable(spark, os.path.join(croot, name))
            if t.current_version() is not None:
                cols = _schema_columns(t.manifest(t.current_version())["schema"])
                sb = [args.sort_by] if args.sort_by and args.sort_by in cols else None
                out[name] = t.compact(target_rows=args.target_rows, sort_by=sb)
                if args.expire_keep is not None:
                    out[name]["expired"] = t.expire_snapshots(
                        keep_last=args.expire_keep
                    )["expired"]
                if args.vacuum_min_age is not None:
                    out[name]["vacuumed"] = t.vacuum(
                        min_age_s=args.vacuum_min_age
                    )
        cl_root = os.path.join(croot, "clusters")
        if os.path.isdir(cl_root):
            # the crawl's incremental cluster labeling: fold the label
            # forwarding table into members (same availableNow slot)
            from simages_spark.operators.cluster_state import ClusterState

            out["clusters"] = ClusterState(spark, cl_root).fold()
        print(json.dumps(out))
        spark.stop()
        return 0
    cfg = DedupConfig(jaccard_threshold=args.threshold, checkpoint_dir=args.workdir,
                      exact_first=not args.all_pairs_edges)
    # per-stage fingerprints: each stage hashes only the knobs that can
    # change ITS output, and every cross-stage READ passes the expected
    # fingerprint — `cluster` after a config change refuses stale
    # signatures/candidates instead of silently mixing configs
    stage_fp = lambda stage: config_fingerprint(cfg, stage=stage)  # noqa: E731
    store = (
        TableCheckpointStore(spark, args.workdir)
        if args.workdir
        else None  # `show` takes no workdir
    )
    docs = _load_docs(spark, args.input)

    if args.command == "ingest":
        new = _load_docs(spark, args.new_input)
        added = ingest_op(new, docs, key="url" if "url" in docs.columns else "doc_id")
        out = store.write("ingested", added)
        print(json.dumps({"ingested_rows": out.count()}))
    elif args.command == "signatures":
        from simages_spark.operators.sig_index import probe_keys

        sig_docs = representative_docs(docs) if cfg.exact_first else docs
        sig = store.get_or_compute(
            "signatures",
            lambda: compute_signatures(sig_docs, cfg),
            fingerprint=stage_fp("signatures"),
        )
        # slim probe index rides along with the signatures so `probe`
        # batches never rescan the store's minhash/shingle payload
        store.get_or_compute(
            "sig_index", lambda: probe_keys(sig, cfg), fingerprint=stage_fp("sig_index")
        )
        health = signature_metrics(sig).collect()[0].asDict()
        print(json.dumps({"signatures": sig.count(),
                          "n_corpus_docs": docs.count(), **health,
                          **store.metrics("signatures")}))
    elif args.command == "probe":
        from simages_spark.operators.incremental import incremental_dedup_edges

        new = _load_docs(spark, args.new_input)
        sig = store.read("signatures", expected_fingerprint=stage_fp("signatures"))
        idx = (
            store.read("sig_index", expected_fingerprint=stage_fp("sig_index"))
            if store.exists("sig_index")
            else None
        )
        edges = store.write(
            "probe_edges",
            incremental_dedup_edges(
                new.select("doc_id", "text"),
                sig,
                cfg,
                existing_index=idx,
                include_within_batch=args.within_batch,
            ),
        )
        print(json.dumps({
            "probe_edges": edges.count(),
            "batch_docs": new.count(),
            "indexed": idx is not None,
            "within_batch": bool(args.within_batch),
        }))
    elif args.command == "candidates":
        sig = store.read("signatures", expected_fingerprint=stage_fp("signatures"))
        cand = store.get_or_compute(
            "candidates",
            lambda: build_candidates(docs, sig, cfg),
            fingerprint=stage_fp("candidates"),
        )
        metrics = lsh_metrics(sig, cfg).collect()[0].asDict()
        print(json.dumps({"candidates": cand.count(), "lsh": metrics}))
    elif args.command == "cluster":
        sig = store.read("signatures", expected_fingerprint=stage_fp("signatures"))
        cand = store.read("candidates", expected_fingerprint=stage_fp("candidates"))
        edges = store.get_or_compute(
            "edges",
            lambda: build_edges(cand, sig, docs, cfg),
            fingerprint=stage_fp("edges"),
        )
        clusters = store.get_or_compute(
            "clusters",
            lambda: connected_components(edges, cfg),
            fingerprint=stage_fp("clusters"),
        )
        print(json.dumps({"edges": edges.count(), "clusters_rows": clusters.count()}))
    elif args.command == "substrings":
        from simages_spark.operators.suffix import (
            substring_dup_pairs,
            suffix_metrics,
        )

        # substring_dup_pairs reads no DedupConfig knob — its only output
        # parameter IS min_len, so the fingerprint carries exactly that
        # (hashing the whole config made every knob change recompute the
        # most expensive stage for nothing)
        pairs = store.get_or_compute(
            "substring_pairs",
            lambda: substring_dup_pairs(docs, min_len=args.min_len),
            fingerprint=f"min_len={args.min_len}",
        )
        metrics = suffix_metrics(docs, args.min_len).collect()[0].asDict()
        print(json.dumps({"substring_pairs": pairs.count(), "suffix": metrics}))
    elif args.command == "strip-substrings":
        from simages_spark.operators.suffix import (
            strip_duplicate_spans,
            substring_dup_spans,
        )

        # spans and the stripped corpus depend on min_len only (same
        # contract as the `substrings` stage); spans checkpoint is
        # shared with any later re-strip at the same min_len
        spans = store.get_or_compute(
            "substring_spans",
            lambda: substring_dup_spans(docs, min_len=args.min_len),
            fingerprint=f"min_len={args.min_len}",
        )
        stripped = store.get_or_compute(
            "stripped_corpus",
            lambda: strip_duplicate_spans(
                docs, min_len=args.min_len, spans=spans
            ),
            fingerprint=f"min_len={args.min_len}",
        )
        summary = stripped.agg(
            F.count("*").alias("docs"),
            F.sum("n_spans_removed").alias("spans_removed"),
            F.sum("n_chars_removed").alias("chars_removed"),
        ).collect()[0]
        print(json.dumps({
            "stripped_corpus": summary["docs"],
            "spans_removed": int(summary["spans_removed"] or 0),
            "chars_removed": int(summary["chars_removed"] or 0),
        }))
    elif args.command == "line-dedup":
        from simages_spark.operators.line_dedup import (
            line_dup_stats,
            line_deduped_corpus,
        )

        # both outputs depend on the segment width only (same
        # single-knob fingerprint contract as the substring stages)
        stats = store.get_or_compute(
            "line_dup_stats",
            lambda: line_dup_stats(docs, words_per_segment=args.segment_words),
            fingerprint=f"words={args.segment_words}",
        )
        deduped = store.get_or_compute(
            "line_deduped_corpus",
            lambda: line_deduped_corpus(
                docs, words_per_segment=args.segment_words
            ),
            fingerprint=f"words={args.segment_words}",
        )
        summary = stats.agg(
            F.count("*").alias("docs"),
            F.sum("n_segments").alias("segments"),
            F.sum("n_dup_segments").alias("dup_segments"),
        ).collect()[0]
        kept = deduped.agg(
            F.sum("n_segments_kept").alias("kept")
        ).collect()[0]
        print(json.dumps({
            "docs": summary["docs"],
            "segments": int(summary["segments"] or 0),
            "dup_segments": int(summary["dup_segments"] or 0),
            "segments_kept": int(kept["kept"] or 0),
        }))
    elif args.command == "curate":
        from simages_spark.operators.curation import curation_stages
        from simages_spark.table import _newest_mtime

        if not args.benchmark:
            ap.error("curate requires --benchmark")
        bench = _load_docs(spark, args.benchmark)
        # production composition: clusters come from the checkpointed
        # pipeline (signatures → candidates → cluster must have run at
        # this config — same prerequisite discipline as apply-policy)
        clusters = store.read(
            "clusters", expected_fingerprint=stage_fp("clusters")
        )
        bench_id = f"{args.benchmark}@{_newest_mtime(args.benchmark):.6f}"
        fp = (
            f"{stage_fp('clusters')},words={args.segment_words},"
            f"contamination={args.contamination_max},benchmark={bench_id}"
        )
        # stage-count sidecar: the drop counts are derived from the
        # expensive decision sets (policy window, repetition aggs,
        # decontamination join). Recomputing them on a checkpoint HIT
        # defeated the stage-skip (round-5 ADVICE: 5.1× at 1M docs) —
        # persist them keyed by the SAME fingerprint at compute time and
        # read them back on a hit.
        counts_path = os.path.join(args.workdir, "curate_counts.json")
        cached_counts = None
        if os.path.exists(counts_path):
            try:
                with open(counts_path) as fh:
                    c = json.load(fh)
                if c.get("fingerprint") == fp:
                    cached_counts = c
            except (OSError, ValueError):
                cached_counts = None
        if cached_counts is None:
            stages = curation_stages(
                docs,
                bench,
                clusters,
                words_per_segment=args.segment_words,
                contamination_max=args.contamination_max,
                k=cfg.shingle_size,
                max_shingles=cfg.max_shingles_per_doc,
            )
            curated = store.get_or_compute(
                "curated_corpus", lambda: stages["curated"], fingerprint=fp
            )
            cached_counts = {
                "fingerprint": fp,
                "dedup_dropped": stages["dedup_losers"].count(),
                "contaminated_dropped": stages["contaminated"].count(),
            }
            tmp = counts_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(cached_counts, fh)
            os.replace(tmp, counts_path)
        else:
            curated = store.get_or_compute(
                "curated_corpus",
                lambda: curation_stages(
                    docs,
                    bench,
                    clusters,
                    words_per_segment=args.segment_words,
                    contamination_max=args.contamination_max,
                    k=cfg.shingle_size,
                    max_shingles=cfg.max_shingles_per_doc,
                )["curated"],
                fingerprint=fp,
            )
        summary = curated.agg(
            F.count("*").alias("docs"),
            F.sum("n_chars_curated").alias("chars"),
        ).collect()[0]
        print(json.dumps({
            "curated_docs": summary["docs"],
            "curated_chars": int(summary["chars"] or 0),
            "input_docs": docs.count(),
            "dedup_dropped": cached_counts["dedup_dropped"],
            "contaminated_dropped": cached_counts["contaminated_dropped"],
        }))
    elif args.command == "decontaminate":
        from simages_spark.operators.curation import decontamination_report

        if not args.benchmark:
            ap.error("decontaminate requires --benchmark")
        bench = _load_docs(spark, args.benchmark)
        # output depends on (k, cap, benchmark identity) — the benchmark
        # is this stage's extra input, so its path AND content identity
        # (newest mtime under the path) join the fingerprint: a changed
        # benchmark, even overwritten in place at the same path, is a
        # different stage output and forces a recompute
        from simages_spark.table import _newest_mtime

        bench_id = f"{args.benchmark}@{_newest_mtime(args.benchmark):.6f}"
        report = store.get_or_compute(
            "decontamination",
            lambda: decontamination_report(
                docs,
                bench,
                k=cfg.shingle_size,
                max_shingles=cfg.max_shingles_per_doc,
            ),
            fingerprint=(
                f"k={cfg.shingle_size},cap={cfg.max_shingles_per_doc},"
                f"benchmark={bench_id}"
            ),
        )
        flagged = report.count()
        print(json.dumps({
            "contaminated_docs": flagged,
            "corpus_docs": docs.count(),
            "benchmark_docs": bench.count(),
        }))
    elif args.command == "report":
        # groups derive deterministically from (clusters, docs): checkpoint
        # them once under the clusters fingerprint so paging through a
        # large report is a parquet scan per view, not a recomputed
        # corpus-join+window+collect_list per page (and per n_pages agg).
        # Items are stored as JSON; render_html_report accepts that form.
        groups = store.get_or_compute(
            "groups",
            lambda: duplicate_groups(
                store.read(
                    "clusters", expected_fingerprint=stage_fp("clusters")
                ),
                docs,
            ).withColumn("items", F.to_json("items")),
            fingerprint=stage_fp("clusters"),
        )
        # paged report — reference chunks 25 groups/page
        # (duplicate_images/duplicate_finder.py:324-329)
        paged = paginate_groups(groups, args.page_size)
        page_q = paged.where(F.col("page") == args.page).orderBy("rank")
        if args.topk is not None:
            # explicit cap only: the old default of 10 silently dropped
            # groups 11..page_size from a page that claimed to show them
            page_q = page_q.limit(args.topk)
        page_rows = page_q.collect()
        for row in page_rows:
            print(json.dumps({
                "cluster_id": row["cluster_id"], "total": row["total"],
                "rank": row["rank"], "page": row["page"],
            }))
        if args.html:
            import re

            from simages_spark.report import render_html_report

            n_pages = (
                paged.agg(F.max("page").alias("m")).collect()[0]["m"] or 0
            )
            # nav links must point at files that exist under the user's
            # OWN naming: derive the sibling-page pattern from the actual
            # --html filename (report.html / report_p2.html → report_p{n}
            # .html), instead of hardcoding a convention the user never
            # chose and producing dead links
            base = os.path.basename(args.html)
            m = re.match(r"^(.*?)(?:_p\d+)?\.(html?)$", base)
            stem, ext = (m.group(1), m.group(2)) if m else (base, "html")
            link_pattern = f"{stem}_p{{page}}.{ext}"
            html_doc = render_html_report(
                [
                    {
                        "cluster_id": r["cluster_id"],
                        "total": r["total"],
                        "items": r["items"],  # JSON string form
                    }
                    for r in page_rows
                ],
                page=args.page,
                page_size=args.page_size,
                n_pages=int(n_pages),
                link_pattern=link_pattern,
            )
            with open(args.html, "w") as f:
                f.write(html_doc)
            print(json.dumps({"html_report": args.html, "n_pages": int(n_pages)}))
    elif args.command == "apply-policy":
        clusters = store.read(
            "clusters", expected_fingerprint=stage_fp("clusters")
        )
        policy = keep_first_policy(clusters, docs, cfg)
        # rebind to the CHECKPOINTED outputs so the window-join policy is
        # computed exactly once (the kept-join and the table delete then
        # read the stage parquet), and take the row counts from the stage
        # metas the writes already sealed — zero recount jobs
        to_delete = store.write("to_delete", policy.where(~F.col("is_keeper")))
        kept = store.write(
            "deduped_corpus",
            docs.join(to_delete.select("doc_id"), "doc_id", "left_anti"),
        )
        deleted_rows = store.metrics("to_delete")["rows"]
        kept_rows = store.metrics("deduped_corpus")["rows"]
        out = {
            "deleted": deleted_rows,
            "kept": kept_rows,
            # every to_delete doc_id comes from the corpus, so the corpus
            # partitions exactly into kept ∪ deleted
            "total": deleted_rows + kept_rows,
        }
        if args.table_root:
            from simages_spark.table import SnapshotTable

            table = SnapshotTable(spark, args.table_root)
            if table.current_version() is None:
                table.append(docs)
            v = table.delete_matching(to_delete.select("doc_id"), "doc_id")
            out["table_version"] = v
            out["table_rows"] = table.read().count()
        print(json.dumps(out))
    elif args.command == "show":
        docs.show(20, truncate=80)
        print(json.dumps({"rows": docs.count()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
