"""Stage-isolation benchmarks (guide §1.4: noop sink, labeled jobs).

bench.py is FROZEN for the driver's measurement; this file holds the
builder's finer-grained instrumentation: per-stage wall times for the
expensive bench queries so the optimization work targets the right stage.

Usage: python bench_extra.py [sf_dir] [rounds]
Prints one JSON line: {"stages": {...}, "sf": ..., "rounds": N}
Every stage timing is min-over-rounds (same CPU-steal rationale as
bench.py's interleaved min).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from simages_spark.config import DedupConfig  # noqa: E402
from simages_spark.functions.signatures import compute_signatures  # noqa: E402
from simages_spark.operators.connected_components import connected_components  # noqa: E402
from simages_spark.operators.exact import exact_dup_edges  # noqa: E402
from simages_spark.operators.lsh import candidate_pairs  # noqa: E402
from simages_spark.operators.simhash_join import simhash_candidates  # noqa: E402
from simages_spark.operators.suffix import (  # noqa: E402
    _extend_matches,
    _substring_matches,
    anchored_windows,
)
from simages_spark.operators.verify import verify_pairs  # noqa: E402
from simages_spark.pipeline import find_duplicates, representative_docs  # noqa: E402
from simages_spark.session import default_cores, get_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = default_cores()
    cfg = DedupConfig()
    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus).persist()
    docs.count()

    # JIT warm-up (same rationale as bench.py)
    warm = docs.limit(1000).persist()
    warm.count()
    res = find_duplicates(warm, cfg)
    res.clusters.count()
    from simages_spark.operators.suffix import substring_dup_pairs

    substring_dup_pairs(warm, 64).count()
    res.signatures.unpersist()
    res.edges.unpersist()
    warm.unpersist()

    sig = compute_signatures(docs, cfg).persist()
    sig.count()
    cand = candidate_pairs(sig, cfg).persist()
    cand.count()
    anchors = anchored_windows(docs, 64).persist()
    anchors.count()

    def sub_counts():
        return anchors.groupBy("h1", "h2").agg(
            F.count_distinct("doc_id").alias("n_docs")
        )

    def sub_eligible_pairs():
        from simages_spark.operators.buckets import bucket_pairs

        counts = sub_counts()
        eligible = anchors.join(
            counts.where((F.col("n_docs") > 1) & (F.col("n_docs") <= 1000)).select(
                "h1", "h2"
            ),
            ["h1", "h2"],
        )
        return (
            bucket_pairs(
                eligible.select("h1", "h2", F.struct("doc_id", "pos").alias("m")),
                ["h1", "h2"],
                "m",
                cap=4000,
                nsalt=8,
            )
            .where(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("src"),
                F.col("b.doc_id").alias("dst"),
                F.col("a.pos").alias("pos_src"),
                F.col("b.pos").alias("pos_dst"),
            )
        )

    matches = sub_eligible_pairs().persist()
    matches.count()

    stages = {
        # --- substring decomposition ---
        "sub_anchors": lambda: noop(
            anchored_windows(docs.where(F.col("doc_id").isNotNull()), 64)
        ),
        "sub_counts": lambda: noop(sub_counts()),
        "sub_pairs_from_anchors": lambda: noop(sub_eligible_pairs()),
        "sub_extend": lambda: noop(_extend_matches(docs, matches, 64)),
        "sub_full": lambda: noop(substring_dup_pairs(docs, 64)),
        # --- e2e decomposition ---
        "e2e_reps": lambda: noop(representative_docs(docs)),
        "e2e_signatures": lambda: noop(
            compute_signatures(docs.where(F.col("doc_id").isNotNull()), cfg)
        ),
        "e2e_lsh": lambda: noop(candidate_pairs(sig, cfg)),
        "e2e_simhash": lambda: noop(simhash_candidates(sig, cfg)),
        "e2e_verify": lambda: noop(
            verify_pairs(cand.where(F.col("src").isNotNull()), sig, cfg)
        ),
        "e2e_exact_edges": lambda: noop(exact_dup_edges(docs)),
    }

    all_rounds = []
    for _ in range(rounds):
        sample = {}
        for label, fn in stages.items():
            sc.setJobDescription(label)
            t0 = time.time()
            fn()
            sample[label] = round(time.time() - t0, 3)
            sc.setJobDescription(None)
        all_rounds.append(sample)
    best = {k: min(s[k] for s in all_rounds) for k in stages}

    # CC timed separately (uses its own jobs; edges from the real path)
    edges = verify_pairs(cand, sig, cfg).persist()
    n_edges = edges.count()
    cc_times = []
    for _ in range(rounds):
        t0 = time.time()
        connected_components(edges, cfg).count()
        cc_times.append(round(time.time() - t0, 3))
    best["e2e_cc"] = min(cc_times)

    print(
        json.dumps(
            {
                "stages": best,
                "rounds_detail": all_rounds,
                "cc_times": cc_times,
                "n_edges": n_edges,
                "n_matches": matches.count(),
                "n_anchors": anchors.count(),
                "sf": sf_dir,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
