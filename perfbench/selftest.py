"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json on a few hundred pages, untraced
and traced, and checks that each run exits 0 and that its last output
line is a result that names exactly the metrics BENCHMARK.json declares,
with their units. Then checks that the benchmark refuses to run, without
printing a result, from a directory that holds only BENCHMARK.json and
the benchmark's own files. Takes a few minutes: each run starts a JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY = ["--seed", "1", "--seconds", "1", "--docs", "400"]


def run(cwd: Path, args: list[str]) -> subprocess.CompletedProcess:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return subprocess.run(
        spec["command"] + args, cwd=cwd, capture_output=True, text=True, timeout=180
    )


def check_result(proc: subprocess.CompletedProcess, declared: list[dict], label: str) -> None:
    if proc.returncode != 0:
        raise AssertionError(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{label}: {result}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{label}: metrics {sorted(set(got) ^ set(want))} differ")
    for name, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{label}: {name} = {v['value']!r}")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{wl['name']} trace={trace}"
            proc = run(ROOT, ["--workload", wl["name"], "--trace", str(trace)] + TINY)
            check_result(proc, declared, label)
            print(f"ok  {label}", flush=True)

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        name = spec["workloads"][0]["name"]
        proc = run(bare, ["--workload", name, "--trace", "0"] + TINY)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
        print("ok  refuses to run without the package", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
