"""The driver-memory default is sized from the machine's physical memory
(capped at 24g) and yields to SPARK_GRAFT_DRIVER_MEM; no JVM is started."""

import os

import pytest

from detectingscc_spark import session


def _machine(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize("gib, want", [(1, "1024m"), (16, "8192m"), (48, "24576m"), (512, "24576m")])
def test_driver_memory_is_half_the_machine_capped(monkeypatch, gib, want):
    _machine(monkeypatch, gib)
    assert session.driver_memory() == want


def test_driver_memory_env_override(monkeypatch):
    _machine(monkeypatch, 16)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "40g")
    assert session.driver_memory() == "40g"


def test_driver_memory_without_sysconf_is_the_cap(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unknown)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory() == "24576m"
