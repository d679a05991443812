"""Session defaults fit the host they run on; the two env vars stay
deployment overrides."""

from __future__ import annotations

import os

from binancedatapipeline_spark import session


def test_defaults_never_exceed_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert 1 <= session.default_cpus() <= os.cpu_count()
    mem = session.default_driver_memory()
    assert mem.endswith("m"), mem
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * 2**20 <= phys


def test_env_vars_override_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == "2g"
