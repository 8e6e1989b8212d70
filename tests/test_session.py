"""Driver-heap and codegen-cache defaults of `get_spark`, checked without
starting a JVM.

Task slots default to `SPARK_GRAFT_CPUS`, else the host's CPU count.
The default heap is a quarter of the memory the process may use (the
smaller of physical memory and its cgroup limit), capped at 24g; an
`extra_conf["spark.driver.memory"]` wins over `SPARK_DRIVER_MEM`, which
wins over the default, and `-Xms` always equals the chosen heap. The
generated-code cache holds 1000 classes unless `extra_conf` says
otherwise.
"""

from __future__ import annotations

import types

import pytest

from simages_spark import session

GIB = 1024**3


def _mib(mem: str) -> int:
    return int(mem[:-1]) * {"m": 1, "g": 1024}[mem[-1]]


class _FakeBuilder:
    """Records the builder's conf; getOrCreate returns a dummy session."""

    def __init__(self):
        self.conf = {}
        self.master_url = None

    def master(self, url):
        self.master_url = url
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        ctx = types.SimpleNamespace(setLogLevel=lambda _: None)
        return types.SimpleNamespace(sparkContext=ctx)


@pytest.fixture
def fake_builder(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=builder)
    )
    return builder


def _host(monkeypatch, physical, cgroup=None):
    monkeypatch.setattr(session, "_physical_memory", lambda: physical)
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup)


def _xms(conf):
    opts = conf["spark.driver.extraJavaOptions"].split()
    return [o[len("-Xms"):] for o in opts if o.startswith("-Xms")]


@pytest.mark.parametrize("physical_gib", [2, 16, 95, 96, 128, 512])
def test_default_is_quarter_of_memory_capped_at_24g(monkeypatch, physical_gib):
    _host(monkeypatch, physical_gib * GIB)
    mem = session.default_driver_memory()
    assert _mib(mem) <= 24 * 1024
    assert _mib(mem) <= physical_gib * 1024 // 4
    if physical_gib >= 96:
        assert mem == "24g"
    else:
        assert _mib(mem) == physical_gib * 1024 // 4


def test_cgroup_limit_below_physical_is_honoured(monkeypatch):
    _host(monkeypatch, physical=64 * GIB, cgroup=8 * GIB)
    assert session.default_driver_memory() == "2048m"
    # an unlimited cgroup (v1 reports ~2^63) leaves physical memory in charge
    _host(monkeypatch, physical=16 * GIB, cgroup=2**63 - 4096)
    assert session.default_driver_memory() == "4096m"


def test_unknown_memory_falls_back_to_cap(monkeypatch):
    _host(monkeypatch, physical=None)
    assert session.default_driver_memory() == "24g"


def test_this_host_default_within_bounds():
    limit = min(
        m
        for m in (session._physical_memory(), session._cgroup_memory_limit())
        if m
    )
    mem = session.default_driver_memory()
    assert _mib(mem) <= 24 * 1024
    assert _mib(mem) * 1024**2 <= limit // 4


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def test_cgroup_v1_reader_takes_smallest_limit_on_path(tmp_path):
    proc = tmp_path / "cgroup"
    proc.write_text("5:cpu,cpuacct:/jobs\n4:memory:/pod/ctr\n0::/\n")
    mem = tmp_path / "fs" / "memory"
    _write(mem / "memory.limit_in_bytes", str(2**63 - 4096))
    _write(mem / "pod" / "memory.limit_in_bytes", str(6 * GIB))
    _write(mem / "pod" / "ctr" / "memory.limit_in_bytes", str(10 * GIB))
    got = session._cgroup_memory_limit(str(proc), str(tmp_path / "fs"))
    assert got == 6 * GIB


def test_cgroup_v2_reader(tmp_path):
    proc = tmp_path / "cgroup"
    proc.write_text("0::/user.slice/app\n")
    fs = tmp_path / "fs"
    _write(fs / "user.slice" / "app" / "memory.max", "max\n")
    assert session._cgroup_memory_limit(str(proc), str(fs)) is None
    _write(fs / "user.slice" / "memory.max", f"{3 * GIB}\n")
    assert session._cgroup_memory_limit(str(proc), str(fs)) == 3 * GIB


def test_cgroup_reader_without_proc_file(tmp_path):
    missing = str(tmp_path / "nope")
    assert session._cgroup_memory_limit(missing, str(tmp_path)) is None


def test_get_spark_uses_default_with_matching_xms(monkeypatch, fake_builder):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _host(monkeypatch, physical=16 * GIB)
    session.get_spark(cores=2)
    assert fake_builder.conf["spark.driver.memory"] == "4096m"
    assert _xms(fake_builder.conf) == ["4096m"]


def test_env_overrides_default(monkeypatch, fake_builder):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    _host(monkeypatch, physical=16 * GIB)
    session.get_spark(cores=2)
    assert fake_builder.conf["spark.driver.memory"] == "3g"
    assert _xms(fake_builder.conf) == ["3g"]


def test_extra_conf_overrides_env(monkeypatch, fake_builder):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    session.get_spark(cores=2, extra_conf={"spark.driver.memory": "1500m"})
    assert fake_builder.conf["spark.driver.memory"] == "1500m"
    assert _xms(fake_builder.conf) == ["1500m"]


def test_get_spark_sizes_codegen_cache(monkeypatch, fake_builder):
    _host(monkeypatch, physical=16 * GIB)
    session.get_spark(cores=2)
    conf = fake_builder.conf
    assert conf["spark.sql.codegen.cache.maxEntries"] == "1000"
    assert conf["spark.sql.codegen.useIdInClassName"] == "false"


def test_extra_conf_overrides_codegen_cache(monkeypatch, fake_builder):
    _host(monkeypatch, physical=16 * GIB)
    session.get_spark(
        cores=2, extra_conf={"spark.sql.codegen.cache.maxEntries": "64"}
    )
    assert fake_builder.conf["spark.sql.codegen.cache.maxEntries"] == "64"


def test_cores_default_to_cpu_count(monkeypatch, fake_builder):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    _host(monkeypatch, physical=16 * GIB)
    session.get_spark()
    assert fake_builder.master_url == "local[6]"
    assert fake_builder.conf["spark.sql.shuffle.partitions"] == "6"


def test_cores_env_and_argument_override_cpu_count(monkeypatch, fake_builder):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    _host(monkeypatch, physical=16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert fake_builder.master_url == "local[3]"
    session.get_spark(cores=2)
    assert fake_builder.master_url == "local[2]"
