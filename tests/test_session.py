"""Driver heap sizing gate.

A local-mode driver started with a heap limit above the host's memory
grows under ParallelGC until the kernel kills it, and every later Spark
call then fails with ``Connection refused``. The default therefore
follows the JVM's own ergonomic max heap (25% of available memory),
capped at 48g; ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

import pytest

from dbsyncer_spark import session

GIB = 1 << 30
PAGE = 4096


def _host(monkeypatch, tmp_path, total_bytes, cgroup_limit=None):
    """Pretend the host has ``total_bytes`` of physical memory and, when
    given, a cgroup memory limit of ``cgroup_limit``."""
    sysconf = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": total_bytes // PAGE}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sysconf[name])
    limit = tmp_path / "memory.max"
    if cgroup_limit is not None:
        limit.write_text(f"{cgroup_limit}\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(limit),))


def _mem_bytes(s: str) -> int:
    """Bytes in a JVM memory string (``4096m``, ``48g``; no unit = MiB)."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s[-1] in units:
        return int(s[:-1]) * units[s[-1]]
    return int(s) << 20


def test_default_is_quarter_of_host(monkeypatch, tmp_path):
    _host(monkeypatch, tmp_path, 16 * GIB)
    assert session.default_driver_memory() == "4096m"


def test_default_capped_at_48g(monkeypatch, tmp_path):
    _host(monkeypatch, tmp_path, 512 * GIB)
    assert _mem_bytes(session.default_driver_memory()) == 48 * GIB


@pytest.mark.parametrize("limit, want", [("8589934592", "2048m"), ("max", "4096m")])
def test_default_follows_smaller_cgroup_limit(monkeypatch, tmp_path, limit, want):
    _host(monkeypatch, tmp_path, 16 * GIB, cgroup_limit=limit)
    assert session.default_driver_memory() == want


def test_live_session_driver_memory(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env is not None:
        assert conf == env
        return
    assert conf == session.default_driver_memory()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mem_bytes(conf) <= phys
    jvm_max = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert jvm_max <= phys
