"""Session bootstrap: the driver heap default fits the host."""

import os

from nyctaxidatapipeline_spark import session


def _host_gib(monkeypatch, gib):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_mem_is_a_quarter_of_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host_gib(monkeypatch, 15)
    assert session._driver_mem() == "3840m"
    _host_gib(monkeypatch, 256)
    assert session._driver_mem() == "16384m"  # capped at 16g
    _host_gib(monkeypatch, 64)
    assert session._driver_mem() == "16384m"
    _host_gib(monkeypatch, 2)
    assert session._driver_mem() == "1024m"   # floor 1g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session._driver_mem() == "48g"
