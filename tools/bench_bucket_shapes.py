"""A/B the bucket→pair expansion shapes on a 50k-doc corpus (noop sink).

Hypothesis (OPTIMIZATION_r06 "not yet optimized"): the single
groupBy+collect_set in bucket_pairs pays an ObjectHashAggregate over ~1M
near-unique keys, though only multi-member buckets can emit pairs. A
codegen count prefilter sharing ONE repartition exchange should shrink
the object aggregate to the multi-member buckets only.

Shapes timed (each with the exact current downstream expansion):
  A. current bucket_pairs (groupBy + collect_set over all keys)
  B. repartition(key) → count>1 (codegen) → semi-join (exchange-reusing)
     → collect_set over survivors only

Usage: python tools/bench_bucket_shapes.py [sf_dir] [rounds]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from simages_spark.config import DedupConfig  # noqa: E402
from simages_spark.functions.signatures import compute_signatures  # noqa: E402
from simages_spark.operators.buckets import bucket_pairs  # noqa: E402
from simages_spark.operators.lsh import band_keys  # noqa: E402
from simages_spark.operators.simhash_join import simhash_keys  # noqa: E402
from simages_spark.session import default_cores, get_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/bench_data/synth50k"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = default_cores()
    cfg = DedupConfig()
    spark = get_spark("bench_bucket_shapes", cores=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus)
    sig = compute_signatures(docs, cfg).persist()
    sig.count()

    def keyed_simhash():
        return simhash_keys(sig, cfg).select(
            "key", F.struct(F.col("doc_id"), F.col("simhash")).alias("m")
        )

    def variant_b(df, key_cols, member_col, cap, nsalt):
        """Count-prefilter sharing one repartition exchange."""
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        keyed = df.repartition(nparts, *key_cols)
        multi = (
            keyed.groupBy(*key_cols)
            .agg(F.count("*").alias("__n"))
            .where(F.col("__n") > 1)
            .select(*key_cols)
        )
        eligible = keyed.join(multi, key_cols, "left_semi")
        # reuse the existing expansion on the prefiltered rows
        return bucket_pairs(eligible, key_cols, member_col, cap=cap, nsalt=nsalt)

    def run_a_simhash():
        noop(
            bucket_pairs(
                keyed_simhash(), ["key"], "m",
                cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt,
            )
        )

    def run_b_simhash():
        noop(
            variant_b(
                keyed_simhash(), ["key"], "m",
                cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt,
            )
        )

    def run_a_lsh():
        noop(
            bucket_pairs(
                band_keys(sig, cfg), ["band", "band_key"], "doc_id",
                cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt,
            )
        )

    def run_b_lsh():
        noop(
            variant_b(
                band_keys(sig, cfg), ["band", "band_key"], "doc_id",
                cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt,
            )
        )

    def run_keys_only():
        noop(keyed_simhash())

    jobs = [
        ("simhash_keys_only", run_keys_only),
        ("simhash_A_current", run_a_simhash),
        ("simhash_B_prefilter", run_b_simhash),
        ("lsh_A_current", run_a_lsh),
        ("lsh_B_prefilter", run_b_lsh),
    ]
    # correctness: identical pair sets
    a = bucket_pairs(
        keyed_simhash(), ["key"], "m", cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt
    )
    b = variant_b(
        keyed_simhash(), ["key"], "m", cap=cfg.max_bucket_size, nsalt=cfg.bucket_salt
    )
    na, nb = a.count(), b.count()
    nd = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(f"simhash pairs A={na} B={nb} symdiff={nd}")
    assert na == nb and nd == 0, "variant B changed the pair set"

    results: dict[str, list] = {label: [] for label, _ in jobs}
    for _ in range(rounds):
        for label, fn in jobs:
            sc.setJobDescription(label)
            s0, t0 = steal(), time.time()
            fn()
            dt, ds = time.time() - t0, steal() - s0
            results[label].append((round(dt, 3), ds))
            sc.setJobDescription(None)
    for label, vals in results.items():
        clean = [t for t, s in vals if s < 150] or [t for t, _ in vals]
        print(f"{label:24s} min={min(clean):6.3f}  all={vals}")
    spark.stop()


if __name__ == "__main__":
    main()
