"""build_session's driver heap default comes from the host's RAM."""

from __future__ import annotations

import pytest

from widiff_spark import pipeline

GIB = 2 ** 30


@pytest.mark.parametrize("ram_gib, heap", [(15, "7g"), (64, "24g"),
                                           (1, "1g"), (256, "24g")])
def test_default_driver_memory_is_half_the_ram_capped(monkeypatch, ram_gib,
                                                       heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * GIB // 4096}
    monkeypatch.setattr(pipeline.os, "sysconf", pages.__getitem__)
    assert pipeline.default_driver_memory() == heap


def test_explicit_memory_wins_over_env_and_host(monkeypatch):
    """driver_memory beats WIDIFF_DRIVER_MEMORY, which beats the host."""
    seen = []

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, key, value):
            if key == "spark.driver.memory":
                seen.append(value)
            return self

    monkeypatch.setattr(pipeline.SparkSession, "builder", Builder())
    monkeypatch.setattr(pipeline, "default_driver_memory", lambda: "3g")
    monkeypatch.delenv("WIDIFF_DRIVER_MEMORY", raising=False)
    pipeline.build_session()
    monkeypatch.setenv("WIDIFF_DRIVER_MEMORY", "5g")
    pipeline.build_session()
    pipeline.build_session(driver_memory="2g")
    assert seen == ["3g", "5g", "2g"]
