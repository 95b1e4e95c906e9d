"""Local driver-heap default (session.default_driver_mem)."""

from __future__ import annotations

import os

from iceberg_demo_spark import session


def _with_ram(monkeypatch, gib: int) -> str:
    real = os.sysconf

    def sysconf(name):
        if name == "SC_PAGE_SIZE":
            return 4096
        if name == "SC_PHYS_PAGES":
            return gib * 2**30 // 4096
        return real(name)

    monkeypatch.setattr(session.os, "sysconf", sysconf)
    return session.default_driver_mem()


def test_driver_heap_is_48g_on_large_hosts(monkeypatch):
    assert _with_ram(monkeypatch, 80) == f"{48 * 1024}m"
    assert _with_ram(monkeypatch, 256) == f"{48 * 1024}m"


def test_driver_heap_fits_a_16gb_host(monkeypatch):
    assert _with_ram(monkeypatch, 16) == f"{4 * 1024}m"
    assert _with_ram(monkeypatch, 64) == f"{32 * 1024}m"
