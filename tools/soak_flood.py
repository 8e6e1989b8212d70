"""Exact-copy flood soak for the composed crawl recipe (round-3 verdict
"missing" item 3 done-criterion at scale).

Every batch carries `flood_per_batch` copies of ONE page plus
`fresh_per_batch` distinct pages. Without the exact-first upstream
stage, batch b's probe would match its copies against ALL prior copies
(quadratic: b·flood² pair explosions); through `stream_crawl_dedup` each
batch must cost ~the same regardless of how many copies accumulated —
THE linearity evidence. Ends with full cluster-equality vs a
from-scratch batch run on the union.

Usage: python tools/soak_flood.py [n_batches] [flood_per_batch] [fresh_per_batch]
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
from simages_spark.streaming import crawl_edges, stream_crawl_dedup  # noqa: E402

ROOT = "/tmp/soak_flood"
FLOOD = "breaking mirror syndication page replicated across very many hosts " * 6


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    flood_per = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    fresh_per = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    spark = get_spark("soak_flood")
    cfg = DedupConfig()
    shutil.rmtree(ROOT, ignore_errors=True)
    inp = f"{ROOT}/incoming"
    root = f"{ROOT}/crawl"

    fresh_all = (
        mint_doc_ids(generate_pages(spark, k * fresh_per, seed=11))
        .select("doc_id", "text")
        .persist()
    )
    fresh_all.count()

    per_batch_sec = []
    for b in range(k):
        fresh = fresh_all.where(
            (F.col("doc_id") % k + k) % k == b
        ).select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("s").alias("source"), F.length("text").alias("n_chars"),
        )
        flood = spark.range(flood_per).select(
            (F.lit(10_000_000 + b * flood_per) + F.col("id")).alias("doc_id"),
            F.lit(FLOOD).alias("text"),
            F.lit("en").alias("lang"), F.lit("s").alias("source"),
            F.length(F.lit(FLOOD)).alias("n_chars"),
        )
        fresh.unionByName(flood).coalesce(4).write.mode("append").parquet(inp)
        t0 = time.time()
        out = stream_crawl_dedup(spark, inp, root, cfg)
        dt = time.time() - t0
        per_batch_sec.append(round(dt, 1))
        print(json.dumps({"batch": b, "sec": round(dt, 1),
                          "cum_flood_copies": (b + 1) * flood_per,
                          **out}), flush=True)

    # quadratic behavior would make late batches dominate: compare the
    # mean of the last 3 batches to the first 3 (steady-state ratio)
    head = sum(per_batch_sec[1:4]) / 3  # skip batch 0 (store bootstrap)
    tail = sum(per_batch_sec[-3:]) / 3
    # union of everything fed to the stream (doc_ids are xxhash64-minted
    # for fresh docs — reconstruct from the input dir, not by id range)
    docs = spark.read.parquet(inp).select("doc_id", "text")
    t0 = time.time()
    scratch = find_duplicates(docs, cfg).clusters.persist()
    n_scratch = scratch.count()
    t_scratch = time.time() - t0
    loop = connected_components(crawl_edges(spark, root), cfg).persist()
    n_loop = loop.count()
    mismatches = loop.exceptAll(scratch).count() + scratch.exceptAll(loop).count()

    total = k * (flood_per + fresh_per)
    print(json.dumps({
        "total_docs": total,
        "flood_copies": k * flood_per,
        "per_batch_sec": per_batch_sec,
        "tail_over_head_ratio": round(tail / head, 2),
        "loop_sec": round(sum(per_batch_sec), 1),
        "loop_docs_per_sec": round(total / sum(per_batch_sec), 1),
        "scratch_sec": round(t_scratch, 1),
        "cluster_rows_loop": n_loop,
        "cluster_rows_scratch": n_scratch,
        "cluster_mismatches": mismatches,
        "clusters_equal": mismatches == 0,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
