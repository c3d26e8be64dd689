"""Host sizing in session.py, checked without starting a JVM."""

from __future__ import annotations

import os

from ssimulacra2_spark import session

MEMINFO = """MemTotal:       16303592 kB
MemFree:         1203840 kB
MemAvailable:   {avail} kB
Buffers:          102400 kB
"""


def test_driver_memory_is_half_of_available_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # 15 GB available -> 7.5 GB heap
    assert session.driver_memory(MEMINFO.format(avail=15 * 1024 * 1024)) == "7680m"
    # 64 GB available -> capped at 16g
    assert session.driver_memory(MEMINFO.format(avail=64 * 1024 * 1024)) == "16384m"
    # a nearly full host still gets a heap the JVM can start with
    assert session.driver_memory(MEMINFO.format(avail=512 * 1024)) == "1024m"
    assert session.driver_memory("MemTotal: 1 kB\n") == "1g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory(MEMINFO.format(avail=15 * 1024 * 1024)) == "3g"


def test_default_parallelism_follows_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
