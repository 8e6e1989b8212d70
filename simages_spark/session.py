"""SparkSession factory with the engine's canonical configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    for cand in ("/dev/shm/spark-local", "/tmp/spark-local"):
        try:
            os.makedirs(cand, exist_ok=True)
            return cand
        except OSError:
            continue
    return "/tmp"


# local mode = driver-only, so the one JVM gets real memory: a small heap
# makes cache+execution churn/GC the bottleneck long before CPU. The cap
# is the value the engine was tuned at (a 128 GiB host).
_HEAP_FRACTION = 4  # a quarter, the JVM's own MaxRAMPercentage=25
_HEAP_CAP_MB = 24 * 1024

# spark.sql.codegen.cache.maxEntries. Spark's default of 100 is split over
# Guava's 4 cache segments (~25 entries each, each evicting LRU on its
# own), while one pass of find_duplicates on 4k pages compiles 111
# distinct classes and strip_duplicate_spans + line_deduped_corpus on 2k
# pages 74 (91 while its line tier segmented each page twice), so every
# warm pass recompiled dozens of them. One session running both plus the
# table-backed crawl compiled 409 distinct classes (291 with stage ids
# out of the class names, below) at that time; at 1000 each segment holds
# 250, about twice its expected share of 409.
_CODEGEN_CACHE_ENTRIES = 1000


def _cgroup_memory_limit(
    proc_cgroup: str = "/proc/self/cgroup", root: str = "/sys/fs/cgroup"
) -> int | None:
    """Smallest memory limit on this process's cgroup path, in bytes.

    Reads v2 ``memory.max`` or v1 ``memory.limit_in_bytes`` for the cgroup
    named in ``proc_cgroup`` and each of its ancestors (a parent's limit
    binds the child too). None when no limit is set or readable.
    """
    try:
        with open(proc_cgroup) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    limits = []
    for line in lines:
        fields = line.split(":", 2)
        if len(fields) != 3:
            continue
        _, controllers, path = fields
        if controllers == "":
            base, name = root, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = os.path.join(root, "memory"), "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        for depth in range(len(parts), -1, -1):
            try:
                with open(os.path.join(base, *parts[:depth], name)) as f:
                    raw = f.read().strip()
            except OSError:
                continue
            if raw.isdigit():
                limits.append(int(raw))
    return min(limits) if limits else None


def _physical_memory() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (OSError, ValueError, AttributeError):
        return None


def default_driver_memory() -> str:
    """A quarter of the memory this process may use, capped at 24g.

    The usable memory is the smaller of physical memory and the process's
    cgroup limit; when neither is known the cap is used.
    """
    known = [m for m in (_physical_memory(), _cgroup_memory_limit()) if m]
    mb = min(known) // _HEAP_FRACTION // 1024**2 if known else _HEAP_CAP_MB
    return f"{mb}m" if mb < _HEAP_CAP_MB else f"{_HEAP_CAP_MB // 1024}g"


def driver_memory(extra_conf: dict | None = None) -> str:
    """The driver heap: ``extra_conf["spark.driver.memory"]``, else the
    ``SPARK_DRIVER_MEM`` environment variable, else the host default."""
    if extra_conf and "spark.driver.memory" in extra_conf:
        return extra_conf["spark.driver.memory"]
    return os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()


def driver_java_options(driver_mem: str) -> str:
    """``spark.driver.extraJavaOptions`` for a driver heap of ``driver_mem``.

    JVM tuning for a Firecracker VM, each flag measured on one:
    -Xms == -Xmx: G1 otherwise uncommits/recommits heap regions and every
      recommit page-faults through the slow host path (observed 9.5s young
      pauses with User=0.00s Sys=9.51s);
    capped GC threads: G1's default one-GC-thread-per-CPU serializes
      pauses on stolen vCPUs (identical query 23-52s -> 0.7-3s);
    more C2 threads: first execution JIT-compiles Spark's large generated
      methods, 2 compiler threads starve under 32 task threads.
    """
    return (
        f"-Xms{driver_mem} "
        "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:CICompilerCount=6"
    )


def default_cores() -> int:
    """Task slots when `get_spark` is not told: `SPARK_GRAFT_CPUS`, else
    the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "simages_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or cores
    # resolve driver memory ONCE, honoring an extra_conf override: the
    # -Xms below must track whatever spark.driver.memory ends up being —
    # a pinned -Xms24g with an overridden -Xmx4g aborts the JVM at launch
    # ("Initial heap size set to a larger value than the maximum")
    driver_mem = driver_memory(extra_conf)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy parquet timestamp encoding) carries NO
        # footer min/max statistics, which blinds every stats-pruned path
        # (SnapshotTable.scan) on timestamp columns like
        # warc_ts; TIMESTAMP_MICROS is the modern type, matches Spark's
        # internal precision exactly, and gets stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generated classes are cached by source text: size the cache to
        # the pipelines' measured working set (_CODEGEN_CACHE_ENTRIES), and
        # keep whole-stage ids out of the class names. AQE numbers stages
        # as it plans them, in an order that follows which shuffle stages
        # finish first, so an unchanged fragment could get new source and
        # recompile (30 classes at once on some warm span_dedup passes)
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", driver_mem)
        # this sandbox's virtio disk has ~50ms file-metadata latency; the
        # bypass shuffle writer opens R files per map task and spends 10×
        # more time creating files than writing bytes. tmpfs local dir +
        # the single-file sort writer remove the pathology. (On a real
        # cluster leave local dirs on instance storage — this is a local-
        # mode tuning, not an engine semantic.)
        .config("spark.local.dir", _local_dir())
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.driver.extraJavaOptions", driver_java_options(driver_mem))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
