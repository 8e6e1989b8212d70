"""Capture .explain("formatted") for every bench-path query.

Usage: python tools/capture_plans.py <out_dir> [sf_dir]

Writes <out_dir>/<query>_<tag>.txt for each bench query — the judge's
evidence files (plans/r06/*_before.txt / *_after.txt). Tag comes from the
out_dir's trailing component convention: callers pass e.g. plans/r06 and a
suffix via PLAN_TAG (default "before").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simages_spark.config import DedupConfig  # noqa: E402
from simages_spark.functions.signatures import compute_signatures  # noqa: E402
from simages_spark.functions.text_stats import quality_columns  # noqa: E402
from simages_spark.operators.exact import exact_dup_groups  # noqa: E402
from simages_spark.operators.lsh import candidate_pairs  # noqa: E402
from simages_spark.operators.simhash_join import simhash_candidates  # noqa: E402
from simages_spark.operators.suffix import substring_dup_pairs  # noqa: E402
from simages_spark.operators.verify import verify_pairs  # noqa: E402
from simages_spark.session import default_cores, get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    tag = os.environ.get("PLAN_TAG", "before")
    os.makedirs(out_dir, exist_ok=True)
    cfg = DedupConfig()
    cpus = default_cores()
    spark = get_spark("plan_capture", cores=cpus, shuffle_partitions=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus).persist()
    docs.count()
    sig = compute_signatures(docs, cfg).persist()
    sig.count()

    plans = {
        "signatures": compute_signatures(
            docs.where(F.col("doc_id").isNotNull()), cfg
        ),
        "lsh_candidates": candidate_pairs(sig, cfg),
        "simhash_pairs": simhash_candidates(sig, cfg),
        "verified_edges": verify_pairs(
            candidate_pairs(sig, cfg).where(F.col("src").isNotNull()), sig, cfg
        ),
        "exact_dups": exact_dup_groups(docs),
        "doc_quality": quality_columns(docs),
        "substring_pairs": substring_dup_pairs(docs, 64),
    }
    for name, df in plans.items():
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_exch = text.count("Exchange")
        print(f"{name}: {n_exch} Exchange nodes -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
