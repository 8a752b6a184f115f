"""SparkSession factory (session.py): the default driver heap fits the
machine it runs on."""

from __future__ import annotations

import os

import pytest

from secure_agent_api_vector_search_spark import session


@pytest.mark.parametrize(
    ("phys_gib", "want"),
    [(0.5, "1g"), (15.7, "7g"), (16, "8g"), (64, "32g"), (256, "32g")],
)
def test_default_driver_memory_is_half_of_physical_at_most_32g(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    monkeypatch.setattr(
        os, "sysconf", lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name]
    )
    assert session._default_driver_memory() == want


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(f"unrecognized configuration name {name!r}")

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert session._default_driver_memory() == "32g"
