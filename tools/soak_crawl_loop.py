"""Continuous-crawl loop soak (round-2 verdict item 5 done-criterion at
scale): a corpus arrives as K successive batches through the streaming
batch processor (`process_near_dedup_batch_tables` with within-batch
edges — exactly what `stream_crawl_dedup` runs per micro-batch),
maintaining the signature, probe-index and edge tables incrementally,
with a `SnapshotTable.compact()` of all three mid-loop. The cumulative
edge set must produce the SAME clusters as a from-scratch
`find_duplicates` run on the full union — the loop needs no second
pass, at any batch split.

From-scratch runs exact-first (signatures over representatives + star
edges); the loop probes per batch. The edge SETS differ by construction
(different connectivity certificates); cluster co-membership is the
contract, and min-label cluster ids make equality literal.

Usage: python tools/soak_crawl_loop.py [total_docs] [n_batches]
(cores: SPARK_GRAFT_CPUS, default the host's CPU count)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simages_spark.config import DedupConfig  # noqa: E402
from simages_spark.operators.connected_components import connected_components  # noqa: E402
from simages_spark.pipeline import find_duplicates  # noqa: E402
from simages_spark.session import get_spark  # noqa: E402
from simages_spark.sources.corpus import generate_pages, mint_doc_ids  # noqa: E402
from simages_spark.operators.cluster_state import ClusterState  # noqa: E402
from simages_spark.streaming import process_near_dedup_batch_tables  # noqa: E402
from simages_spark.table import SnapshotTable  # noqa: E402

ROOT = "/tmp/soak_crawl"


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("soak_crawl_loop")
    cfg = DedupConfig()
    shutil.rmtree(ROOT, ignore_errors=True)
    tables = {
        n: SnapshotTable(spark, f"{ROOT}/{n}")
        for n in ("sig_table", "idx_table", "edges_table")
    }

    # persist: every batch filter and the from-scratch comparison read
    # the corpus — without the cache each one re-runs the generator UDF
    # over ALL `total` docs (at 10M that dominated every batch wall),
    # and the comparison plans against a stats-less UDF chain (parity
    # with tools/profile_1m.py, which also persists)
    docs = (
        mint_doc_ids(generate_pages(spark, total, seed=42))
        .select("doc_id", "text")
        .persist()
    )
    docs.count()
    per = total // k
    t_loop = 0.0
    t_inc_total = 0.0
    state = ClusterState(spark, f"{ROOT}/clusters")
    for b in range(k):
        batch = docs.where(
            (F.col("doc_id") % k + k) % k == b  # deterministic split
        )
        t0 = time.time()
        process_near_dedup_batch_tables(
            batch, b, ROOT, cfg, include_within_batch=True
        )
        dt = time.time() - t0
        t_loop += dt
        # round-5 item 7: clusters requested EVERY batch — incremental
        # update on this batch's edges + a labeling read, never a
        # from-scratch CC over history
        t0 = time.time()
        batch_edges = tables["edges_table"].scan(
            [("batch_id", b, b)]
        ).select("src", "dst")
        um = state.update(batch_edges, b, source_id="near", cfg=cfg)
        t_upd = time.time() - t0
        t0 = time.time()
        n_clusters_now = state.clusters().count()
        t_read = time.time() - t0
        t_inc_total += t_upd + t_read
        print(json.dumps({
            "batch": b, "sec": round(dt, 1),
            "cluster_update_sec": round(t_upd, 1),
            "cluster_read_sec": round(t_read, 1),
            "edges": um["edges"], "merges": um["merges"],
            "labeled_docs": n_clusters_now,
        }), flush=True)
        if b == k // 2:
            # mid-loop maintenance (between batches — exactly the
            # availableNow slot of `compact --crawl-tables`): bin-pack
            # each table's per-batch groups; later batches must probe
            # identically
            t0 = time.time()
            packed = {n: t.compact() for n, t in tables.items()}
            print(json.dumps({
                "compaction_sec": round(time.time() - t0, 1), **packed,
            }), flush=True)

    loop_edges = tables["edges_table"].read().select("src", "dst", "jaccard")
    t0 = time.time()
    loop_clusters = connected_components(loop_edges, cfg).persist()
    n_loop = loop_clusters.count()
    t_cc = time.time() - t0

    t0 = time.time()
    scratch = find_duplicates(docs, cfg).clusters.persist()
    n_scratch = scratch.count()
    t_scratch = time.time() - t0

    # min-label cluster ids: co-membership equality == literal row equality
    mismatches = (
        loop_clusters.exceptAll(scratch).count()
        + scratch.exceptAll(loop_clusters).count()
    )
    inc = state.clusters().persist()
    n_inc = inc.count()
    inc_mismatches = (
        inc.exceptAll(loop_clusters).count()
        + loop_clusters.exceptAll(inc).count()
    )
    print(json.dumps({
        "total_docs": total,
        "n_batches": k,
        "loop_sec": round(t_loop, 1),
        "loop_docs_per_sec": round(total / t_loop, 1),
        "loop_cc_sec": round(t_cc, 1),
        "incremental_total_sec": round(t_inc_total, 1),
        "scratch_sec": round(t_scratch, 1),
        "cluster_rows_loop": n_loop,
        "cluster_rows_scratch": n_scratch,
        "cluster_rows_incremental": n_inc,
        "cluster_mismatches": mismatches,
        "incremental_mismatches": inc_mismatches,
        "clusters_equal": mismatches == 0 and inc_mismatches == 0,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
