"""Session defaults that must hold on any host (no Spark started)."""

from __future__ import annotations

import os

import pytest

from big_data_stock_price_forecast_spark.session import default_driver_memory


def test_default_driver_memory_without_sysconf(monkeypatch):
    # non-POSIX hosts have no os.sysconf at all
    monkeypatch.delattr(os, "sysconf")
    assert default_driver_memory() == "12g"


@pytest.mark.parametrize("ram_gb,expected", [(8, "4g"), (2, "2g"), (128, "32g")])
def test_default_driver_memory_is_half_the_ram(monkeypatch, ram_gb, expected):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 1024**3 // 4096}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert default_driver_memory() == expected
