"""Scaling-efficiency evidence: same e2e dedup job at local[N] vs local[4N].

Sandbox proxy for the north rule's N vs 4N executor criterion (no real
cluster available): one JVM per parallelism level (fresh subprocess), same
deterministic synthetic corpus, throughput reported at both levels plus
efficiency = tput@4N / (4 × tput@N). Results land in BENCH/BASELINE.md.

Two launch modes per level:

  python bench_scaling.py            # plain python child processes
  python bench_scaling.py --submit   # the north rule's literal run mode:
                                     #   spark-submit --master local[N]
                                     #     --py-files dist/simages_spark.zip
                                     #     tools/submit_scaling_driver.py
                                     # with cwd OUTSIDE the repo and a
                                     # scrubbed PYTHONPATH, so every import
                                     # resolves from the shipped zip (the
                                     # artifact a real cluster's executors
                                     # would receive); the driver aborts if
                                     # the package did not come from the zip.

Internal: `--cores N` runs a single measurement in-process.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

# 1.2M: at 300k the round-2 signature speedup left local[32] latency-bound
# (24.3s vs 21.2s, efficiency 0.287 — fixed job overhead, not scaling);
# the corpus must be big enough that compute dominates at BOTH levels
N_DOCS = int(os.environ.get("SCALING_N_DOCS", "1200000"))

# N vs 4N levels. Default 2→8: both levels fit the 32-vCPU host with room
# for the JVM's auxiliary threads (GC, shuffle) and the Arrow python
# workers, so the pinned measurement isolates the JOB's scalability — the
# cluster analog where each added executor brings real cores. The 8→32
# pair saturates the host (32 task threads + 32 python workers + GC share
# 32 vCPUs + 5-15% steal) and under-reports; it is still reported in
# BENCH/BASELINE.md as the saturation data point.
LEVELS = tuple(
    int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(",")
)

# best-of-N reps per level; raise when the host's steal bursts leave the
# rep sequence still descending at 3 (min is the estimator, see BASELINE.md)
REPS = int(os.environ.get("SCALING_REPS", "3"))

# SCALING_ROUNDS > 1 interleaves the two levels (N, 4N, N, 4N, ...) with
# one fresh JVM per leg per round, pooling each level's min across rounds.
# Rationale: the sequential order (all N reps, then all 4N reps) lets slow
# host drift — steal phases on this VM — land entirely on one level and
# skew the ratio; interleaving exposes both levels to the same conditions,
# the same fix bench.py applies to its per-query rounds.
ROUNDS = int(os.environ.get("SCALING_ROUNDS", "1"))


def _pin(cmd: list[str], cores: int) -> list[str]:
    # taskset pins the whole JVM (GC, shuffle, python workers) to N CPUs —
    # otherwise local[8] borrows all 32 machine cores for its auxiliary
    # thread pools and the comparison under-reports scaling
    if os.path.exists("/usr/bin/taskset"):
        return ["taskset", "-c", f"0-{cores - 1}"] + cmd
    return cmd


def _launch_plain(cores: int) -> tuple[list[str], dict, str]:
    cmd = [sys.executable, os.path.abspath(__file__), "--cores", str(cores)]
    return _pin(cmd, cores), dict(os.environ), REPO  # REPS flows via env


def _launch_submit(cores: int, zip_path: str) -> tuple[list[str], dict, str]:
    from simages_spark.session import driver_java_options, driver_memory

    mem = driver_memory()
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", mem,
        # session.py sets these via the builder, which is too late for the
        # driver JVM under spark-submit (the gateway JVM starts before the
        # builder runs) — pass them on the submit command line instead
        "--conf", f"spark.driver.extraJavaOptions={driver_java_options(mem)}",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "submit_scaling_driver.py"),
        "--cores", str(cores),
        "--n-docs", str(N_DOCS),
        "--reps", str(REPS),
    ]
    env = dict(os.environ)
    # the proof is that the zip ALONE provides the package: no repo on the
    # import path, cwd outside the repo
    env.pop("PYTHONPATH", None)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    return _pin(cmd, cores), env, "/tmp"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--submit", action="store_true",
                    help="launch each level via spark-submit --py-files")
    args = ap.parse_args()
    if args.cores:
        from simages_spark.benchmarks import measure_scaling

        print("RESULT " + json.dumps(measure_scaling(args.cores, N_DOCS, REPS)))
        return

    zip_path = None
    if args.submit:
        sys.path.insert(0, os.path.join(REPO, "tools"))
        from make_pyfiles_zip import build_zip

        zip_path = build_zip()
        print(f"built --py-files artifact: {zip_path}")

    lo, hi = LEVELS
    assert hi == 4 * lo, "levels must be N and 4N"

    def measure_level(cores: int) -> dict:
        cmd, env, cwd = (
            _launch_submit(cores, zip_path) if args.submit else _launch_plain(cores)
        )
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, env=env)
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(proc.stdout[-3000:], proc.stderr[-3000:])
            raise SystemExit(f"measurement at cores={cores} failed")
        res = json.loads(line[-1][len("RESULT "):])
        res["wall_sec_incl_startup"] = round(time.time() - t0, 1)
        return res

    per_level: dict[int, list[dict]] = {lo: [], hi: []}
    for rnd in range(ROUNDS):
        for cores in (lo, hi):
            res = measure_level(cores)
            per_level[cores].append(res)
            tag = f"round {rnd} " if ROUNDS > 1 else ""
            print(f"{tag}local[{cores}]: {res}", flush=True)

    results = {}
    for cores in (lo, hi):
        legs = per_level[cores]
        best = min(legs, key=lambda r: r["elapsed_sec"])
        pooled = dict(best)
        pooled["all_reps_sec"] = [s for leg in legs for s in leg["all_reps_sec"]]
        if ROUNDS > 1:
            pooled["round_mins_sec"] = [leg["elapsed_sec"] for leg in legs]
        pooled["wall_sec_incl_startup"] = round(
            sum(leg["wall_sec_incl_startup"] for leg in legs), 1
        )
        results[cores] = pooled
    counts = {
        (r["n_candidates"], r["n_edges"], r["n_cluster_rows"])
        for legs in per_level.values()
        for r in legs
    }
    assert len(counts) == 1, f"nondeterministic across legs: {counts}"

    t_lo, t_hi = results[lo]["docs_per_sec"], results[hi]["docs_per_sec"]
    eff = t_hi / (4 * t_lo)
    summary = {
        "n_docs": N_DOCS,
        "launch_mode": "spark-submit --py-files" if args.submit else "python",
        "interleaved_rounds": ROUNDS,
        "reps_per_leg": REPS,
        f"throughput_local{lo}_docs_per_sec": t_lo,
        f"throughput_local{hi}_docs_per_sec": t_hi,
        f"scaling_efficiency_{lo}_to_{hi}": round(eff, 3),
        "clusters_equal_across_levels": results[lo]["n_cluster_rows"]
        == results[hi]["n_cluster_rows"],
    }
    print(json.dumps(summary))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, f"BENCH/scaling_{lo}_{hi}.json"), "w") as f:
        json.dump({"runs": results, "summary": summary}, f, indent=2)


if __name__ == "__main__":
    main()
