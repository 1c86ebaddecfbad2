"""The session factory's host-sized defaults."""

from __future__ import annotations

import pytest

from data_engineering_pipeline_project_cloud_spark import session


@pytest.mark.parametrize("phys_mb, want", [
    (16_078, "8039m"),       # a 15.7 GiB host: half its RAM
    (262_144, "24576m"),     # a large host keeps the old 24g ceiling
    (1_536, "1024m"),        # a tiny host still gets 1g
])
def test_default_driver_memory_follows_host(monkeypatch, phys_mb, want):
    page = 4096
    conf = {"SC_PAGE_SIZE": page,
            "SC_PHYS_PAGES": phys_mb * 1024 * 1024 // page}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == want


def test_default_driver_memory_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", missing)
    assert session.default_driver_memory() == "24g"
