"""The session's JVM heap follows the host: a quarter of physical
memory in whole GiB, clamped to [1g, 24g], unless
SPARK_GRAFT_DRIVER_MEM names it."""

from __future__ import annotations

import os

import pytest

from etl_xlsx_potgres_spark.session import default_driver_memory

GIB = 2**30
PAGE = 4096


def _host(monkeypatch, phys_bytes: int) -> None:
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PHYS_PAGES": phys_bytes // PAGE, "SC_PAGE_SIZE": PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


@pytest.mark.parametrize(
    "phys, heap",
    [
        (int(15.7 * GIB), "3g"),   # quarter = 3.9 GiB, whole GiB down
        (16 * GIB, "4g"),
        (8 * GIB - PAGE, "1g"),    # quarter just under 2 GiB
        (8 * GIB, "2g"),
        (2 * GIB, "1g"),           # clamped up to the floor
        (96 * GIB, "24g"),         # exactly the ceiling
        (512 * GIB, "24g"),        # clamped down to the ceiling
    ],
)
def test_quarter_of_physical_memory_clamped(monkeypatch, phys, heap):
    _host(monkeypatch, phys)
    assert default_driver_memory() == heap


def test_unknown_physical_memory_gets_the_floor(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert default_driver_memory() == "1g"


def test_env_overrides_the_derivation(monkeypatch):
    _host(monkeypatch, 512 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert default_driver_memory() == "1g"
