"""Resource defaults come from the host's physical RAM, not hard-coded
sizes (pure functions — no JVM)."""

from __future__ import annotations

from nosql_based_business_intelligence_system_spark.session import (
    physical_ram_bytes,
    ram_share_gib,
)

GIB = 1 << 30


def test_driver_heap_share_is_half_of_ram_capped_at_16():
    assert ram_share_gib(int(15.6 * GIB), 0.5, 16) == 7
    assert ram_share_gib(64 * GIB, 0.5, 16) == 16
    assert ram_share_gib(GIB, 0.5, 16) == 1


def test_ram_share_floors_at_one_gib():
    assert ram_share_gib(int(15.6 * GIB), 0.25) == 3
    assert ram_share_gib(0, 0.25) == 1


def test_defaults_fit_this_host():
    ram = physical_ram_bytes()
    assert ram > 0
    assert ram_share_gib(ram, 0.5, 16) * GIB <= ram
    assert ram_share_gib(ram, 0.25) * GIB <= ram
