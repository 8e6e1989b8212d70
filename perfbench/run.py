"""The repository benchmark: one workload, one fresh JVM, one JSON result.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The run

  1. generates a seeded corpus with planted duplicates and stages it as
     parquet under `.perfbench_work/` in the checkout;
  2. starts Spark through `simages_spark.session.get_spark`, loads the
     parquet and runs one cold pass (together: `setup_s`);
  3. runs the workload's untimed warm passes and the untimed work its
     output checks need (`prepare_check`);
  4. times passes for `--seconds` (at least MIN_TIMED passes) and
     reports medians. With `--trace 1` it times untraced passes for half
     the window;
  5. runs the output checks against the generator's truth;
  6. with `--trace 1`, times traced passes, one layer at a time, for the
     other half of the window, and for `batch_dedup` the crawl_tables
     step (`workloads.CrawlTables`) once untraced and once traced.

Every pass's output digest must equal the first pass's. The last line of
standard output is the JSON result; a human-readable table and the per-
pass run record (steal, load, trend) go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import corpus  # noqa: E402
import procstat  # noqa: E402

CORES = 2  # fixed slot count, so runs on hosts of any size compare
DRIVER_MEM = "2g"  # a heap a 16 GB host shared with others can commit
# the median of three passes ignores one pass slowed by a busy neighbour
MIN_TIMED = 3
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}

# e2e metric name -> unit; the order BENCHMARK.json lists them
E2E_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_ms_per_doc": "ms",
    "setup_s": "s",
    "driver_rss_mb": "MB",
    "worker_rss_mb": "MB",
    "pair_recall": "ratio",
}
LAYERS = [
    "exact", "signatures", "lsh", "simhash_join", "candidates", "verify",
    "connected_components", "groups", "suffix", "line_dedup",
]
# layers only the crawl_tables step of batch_dedup's traced run works
CRAWL_LAYERS = ["sig_index", "incremental", "table"]
SPAN_FIELDS = {"self_s": "s", "cpu_s": "s", "worker_cpu_s": "s", "gc_s": "s", "rows": "count"}
COUNTERS = {
    "session.start_s": "s",
    "exact.rep_ratio": "ratio",
    "signatures.docs_per_cpu_s": "docs/s",
    "lsh.pairs": "count",
    "lsh.truncated_members": "count",
    "simhash_join.pairs": "count",
    "verify.yield": "ratio",
    "connected_components.driver_rss_delta_mb": "MB",
    "suffix.anchor_rows": "count",
    "suffix.spans": "count",
    "suffix.viral_windows": "count",
    "suffix.chars_removed": "count",
    "line_dedup.dup_segment_ratio": "ratio",
    "incremental.candidate_pairs": "count",
    "incremental.matched_store_docs": "count",
    "incremental.yield": "ratio",
    "table.bytes_written": "B",
    "table.bytes_rewritten": "B",
    "table.compact_s": "s",
    "crawl_tables.batch_s_p50": "s",
    "crawl_tables.stored_bytes_per_input_byte": "B/B",
    "crawl_tables.pair_recall": "ratio",
    "crawl_tables.signatures_s": "s",
    "crawl_tables.uncovered_s": "s",
    "crawl_tables.trace_overhead": "ratio",
    "trace.uncovered_s": "s",
    "trace.overhead": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{f}": u
        for layer in LAYERS + CRAWL_LAYERS
        for f, u in SPAN_FIELDS.items()
    }
    units.update(COUNTERS)
    return units


def pin_environment(work: Path) -> None:
    """Everything the program and its JVM write goes under `work`, and
    the Python workers can import the package from the checkout."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(ROOT)


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and every process under this one, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Pass:
    """One timed call, with the process-tree and host readings around it."""

    def __init__(self, fn):
        self.error = None
        self.digest = None
        h0, t0 = procstat.HostSample(), procstat.TreeSample()
        w0 = time.perf_counter()
        try:
            self.digest = fn()
        except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
            self.error = traceback.format_exc()
        self.wall_s = time.perf_counter() - w0
        t1, h1 = procstat.TreeSample(), procstat.HostSample()
        self.cpu_s = t1.total_cpu_s - t0.total_cpu_s
        self.worker_cpu_s = t1.worker_cpu_s - t0.worker_cpu_s
        self.new_workers = len(t1.workers - t0.workers)
        self.worker_hwm_mb = t1.worker_hwm_mb
        self.steal = h1.steal_frac_since(h0)
        self.load1 = h1.load1

    def record(self) -> dict:
        return {
            "wall_s": round(self.wall_s, 4), "cpu_s": round(self.cpu_s, 3),
            "worker_cpu_s": round(self.worker_cpu_s, 3), "new_workers": self.new_workers,
            "steal": round(self.steal, 4), "load1": self.load1,
            "failed": self.error is not None,
        }


def trend(walls: list[float]) -> float:
    """Least-squares slope of pass wall against pass index, as a share
    of the median wall per pass (0 = flat)."""
    n = len(walls)
    if n < 3:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - mx) * (w - my) for i, w in enumerate(walls)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    return slope / statistics.median(walls)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS, stage

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="corpus size override")
    args = ap.parse_args(argv)

    wl_cls = WORKLOADS[args.workload]
    n_req = args.docs or wl_cls.default_docs
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    pin_environment(work)
    spark = None
    try:
        table = corpus.generate(n_req, args.seed)
        n_docs = table.num_rows

        from simages_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=CORES, extra_conf=SPARK_CONF)
        start_s = time.perf_counter() - t0
        docs = stage(spark, table, work / "input", n_files=2 * CORES)
        wl = wl_cls(spark, n_docs, args.seed, work)
        cold = Pass(lambda: wl.run_pass(docs))
        setup_s = time.perf_counter() - t0
        if cold.error:
            raise RuntimeError(f"cold pass failed:\n{cold.error}")
        warm = [Pass(lambda: wl.run_pass(docs)) for _ in range(wl.warm_passes)]
        c0 = time.perf_counter()
        wl.prepare_check()
        check_s = time.perf_counter() - c0
        # the RSS metrics cover the timed passes: not the generator, the
        # cold pass or the extra inputs of the checks
        procstat.reset_peak_rss()
        procstat.reset_worker_peaks()

        timed: list[Pass] = []
        traced: list[tuple[Pass, object]] = []
        crawl_passes: list[Pass] = []
        window = args.seconds / 2 if args.trace else args.seconds
        min_timed = 1 if args.trace else MIN_TIMED
        t_start = time.perf_counter()
        while len(timed) < min_timed or time.perf_counter() - t_start < window:
            timed.append(Pass(lambda: wl.run_pass(docs)))
        driver_rss_mb = procstat.window_peak_rss_mb()
        c0 = time.perf_counter()
        checks = wl.check(docs, table)
        check_s += time.perf_counter() - c0
        if args.trace:
            from layer_trace import Tracer

            t_start = time.perf_counter()
            while not traced or time.perf_counter() - t_start < args.seconds / 2:
                tracer = Tracer(spark)
                traced.append((Pass(lambda: wl.traced_pass(docs, tracer)), tracer))
                tracer.count_rows()
            counts = wl.counters(tracer)
            if wl.crawl is not None:
                crawl_passes, crawl_counts = run_crawl(spark, wl, docs, table)
                counts.update(crawl_counts)
    except Exception:  # noqa: BLE001 — reported, then exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                (ROOT / ".perfbench_work").rmdir()
            except OSError:
                pass

    passes = [cold] + warm + timed + [p for p, _ in traced]
    failures = [p.error for p in passes + crawl_passes if p.error]
    problems = list(failures)
    for group in (passes, crawl_passes):
        digests = {p.digest for p in group if not p.error}
        if len(digests) > 1:
            problems.append(f"output digest differs between passes: {sorted(digests)}")

    ok_timed = [p for p in timed if not p.error] or timed
    walls = [p.wall_s for p in ok_timed]
    e2e = {
        "docs_per_s": n_docs / statistics.median(walls),
        "cpu_ms_per_doc": statistics.median(p.cpu_s for p in ok_timed) * 1000 / n_docs,
        "setup_s": setup_s,
        "driver_rss_mb": driver_rss_mb,
        "worker_rss_mb": max(p.worker_hwm_mb for p in timed),
        "pair_recall": checks["pair_recall"],
    }
    if args.trace:
        metrics = trace_metrics(traced, walls, start_s, counts)
        units = per_layer_units()
    else:
        metrics, units = e2e, E2E_UNITS

    record = {
        "workload": args.workload, "seed": args.seed, "docs": n_docs,
        "cores": CORES, "nproc": os.cpu_count(), "driver_mem": DRIVER_MEM,
        "session_start_s": round(start_s, 3), "check_s": round(check_s, 3),
        "cold": cold.record(), "warm": [p.record() for p in warm],
        "timed": [p.record() for p in timed],
        "traced": [p.record() for p, _ in traced],
        "crawl": [p.record() for p in crawl_passes],
        "timed_passes": len(timed),
        "timed_trend_per_pass": round(trend(walls), 4),
        "last_traced_spans": [
            {k: round(v, 4) if isinstance(v, float) else v
             for k, v in vars(s).items() if k != "frame"}
            for s in (traced[-1][1].spans if traced else [])
        ],
        "digest": sorted({p.digest for p in passes + crawl_passes if not p.error}),
    }
    print(json.dumps({"run_record": record}), file=sys.stderr)
    for p in failures:
        print(p, file=sys.stderr)
    n_med = len(traced) if args.trace else len(ok_timed)
    print(f"{args.workload}: medians over {n_med} {'traced' if args.trace else 'timed'}"
          f" passes of {n_docs} pages", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{name:45s} {value:14.6g} {units[name]}", file=sys.stderr)

    result = {
        "correct": not problems,
        "attempted": len(passes) + len(crawl_passes),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    return 0


def run_crawl(spark, wl, docs, table) -> tuple[list[Pass], dict[str, float]]:
    """The crawl_tables step of a traced run: one pass through the public
    entry point, one layer by layer, then its checks and counters."""
    from layer_trace import Tracer

    crawl = wl.crawl
    tracer = Tracer(spark)
    passes = [Pass(lambda: crawl.run(docs)), Pass(lambda: crawl.traced(docs, tracer))]
    if any(p.error for p in passes):
        return passes, {}
    tracer.count_rows()
    input_bytes = sum(len(t.encode()) for t in table.column("text").to_pylist())
    out = {"crawl_tables.pair_recall": crawl.check(wl.last_output, table)}
    out.update(crawl.counters(tracer, input_bytes))
    layers = tracer.by_layer()
    for layer in CRAWL_LAYERS:
        for f in SPAN_FIELDS:
            out[f"{layer}.{f}"] = layers.get(layer, {}).get(f, 0)
    out["crawl_tables.signatures_s"] = layers["signatures"]["self_s"]
    out["crawl_tables.uncovered_s"] = passes[1].wall_s - sum(s.wall_s for s in tracer.spans)
    out["crawl_tables.trace_overhead"] = passes[1].wall_s / passes[0].wall_s - 1
    return passes, out


def trace_metrics(traced, untraced_walls, start_s, counts) -> dict[str, float]:
    """Per-layer medians over the traced passes, the counters, the wall
    no span covers and the tracing overhead."""
    per_pass = [tracer.by_layer() for _, tracer in traced]
    out: dict[str, float] = {}
    for layer in LAYERS:
        for f in SPAN_FIELDS:
            out[f"{layer}.{f}"] = statistics.median(
                d.get(layer, {}).get(f, 0) for d in per_pass
            )
    out.update({f"{layer}.{f}": 0 for layer in CRAWL_LAYERS for f in SPAN_FIELDS})
    out.update({k: 0 for k in COUNTERS})
    out.update(counts)
    out["session.start_s"] = start_s
    out["trace.uncovered_s"] = statistics.median(
        p.wall_s - sum(s.wall_s for s in tracer.spans) for p, tracer in traced
    )
    out["trace.overhead"] = (
        statistics.median(p.wall_s for p, _ in traced)
        / statistics.median(untraced_walls) - 1
    )
    return out


def _terminate(signum, frame):
    # SystemExit unwinds through main()'s cleanup: Spark, its JVM and the
    # work directory are still removed when the run is killed
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    if not (ROOT / "simages_spark" / "__init__.py").is_file():
        print(f"no simages_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
