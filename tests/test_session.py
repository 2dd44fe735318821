"""Session defaults: cores and heap come from the machine unless
``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override them. No
Spark session is started."""

from __future__ import annotations

import os

from trianglecount_spark import session


def test_default_parallelism_from_affinity_or_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3


def test_default_driver_memory_from_ram_or_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    # RAM/3, capped at 6g, at least 1g
    for ram_gb, want in ((15, "5g"), (125, "6g"), (2, "1g")):
        pages = ram_gb * 2**30 // page
        monkeypatch.setattr(
            os, "sysconf", lambda name, n=pages: page if name == "SC_PAGE_SIZE" else n
        )
        assert session.default_driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_driver_memory() == "2g"
