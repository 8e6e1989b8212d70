"""Process-tree CPU and memory, host steal and load, read from /proc.

Spark in local mode is three kinds of process: this driver Python, the
JVM it launches, and the Python workers the JVM forks for Arrow UDFs.
The cost a cluster bill sees is the CPU of all three, so CPU is summed
over every live descendant of this process (utime+stime of each, plus
cutime+cstime for children it already reaped).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces or parens: split after its closing paren
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def descendants(root: int | None = None) -> dict[int, list[str]]:
    """{pid: stat fields} for every live descendant of `root` (default:
    this process), `root` excluded."""
    root = os.getpid() if root is None else root
    table: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                table[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in table.items():
        # fields[0] = comm, fields[1] = state, fields[2] = ppid
        children.setdefault(int(fields[2]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(children.get(pid, []))
    return out


def _cpu_s(fields: list[str]) -> float:
    # stat fields 14-17 (utime stime cutime cstime); comm is our index 0,
    # so field n of proc(5) sits at index n - 2 here
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK


def python_workers(tree: dict[int, list[str]]) -> list[int]:
    """Python processes forked under the JVM: the Arrow-UDF workers and
    their daemon."""
    return [pid for pid, fields in tree.items() if fields[0].startswith("python")]


class TreeSample:
    """One reading of the driver's process tree."""

    def __init__(self) -> None:
        tree = descendants()
        self.workers = workers = set(python_workers(tree))
        me = os.times()
        self.driver_cpu_s = me.user + me.system
        self.jvm_cpu_s = sum(
            _cpu_s(f) for pid, f in tree.items() if pid not in workers
        )
        # the daemon reaps finished workers, so its cutime/cstime keeps
        # the CPU of workers that exited
        self.worker_cpu_s = sum(_cpu_s(tree[pid]) for pid in workers)
        self.total_cpu_s = self.driver_cpu_s + self.jvm_cpu_s + self.worker_cpu_s
        self.worker_hwm_mb = max(
            (_status_mb(pid, "VmHWM:") for pid in workers), default=0.0
        )


def _status_mb(pid: int | str, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:  # the process ended
        pass
    return 0.0


def current_rss_mb() -> float:
    """Current RSS of this driver Python process."""
    return _status_mb("self", "VmRSS:")


def reset_peak_rss() -> None:
    """Start a new peak-RSS window for this driver: VmHWM drops to the
    current RSS, so `window_peak_rss_mb` reads the peak from here on."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def reset_worker_peaks() -> None:
    """Start a new peak-RSS window in every live Python worker, whose
    VmHWM `TreeSample` reads."""
    for pid in python_workers(descendants()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # the worker ended
            pass


def window_peak_rss_mb() -> float:
    """Peak RSS of this driver since the last `reset_peak_rss`."""
    return _status_mb("self", "VmHWM:")


class HostSample:
    """Cumulative host CPU counters from /proc/stat, plus the 1-minute
    load average — a diagnostic of how contended a pass ran."""

    def __init__(self) -> None:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal ...
        self.steal = vals[7] if len(vals) > 7 else 0
        self.total = sum(vals[:8])
        self.load1 = os.getloadavg()[0]

    def steal_frac_since(self, earlier: "HostSample") -> float:
        dt = self.total - earlier.total
        return (self.steal - earlier.steal) / dt if dt > 0 else 0.0
