"""Session defaults (otel_tail_sampler_spark/session.py)."""

import pytest

from otel_tail_sampler_spark import session
from otel_tail_sampler_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "master, want",
    [
        ("local[32]", "16g"),  # 0.5 GiB per core
        ("local[33]", "17g"),  # rounds up
        ("local[64,3]", "32g"),  # task-retry suffix ignored
        ("local[4]", "8g"),  # 8 GiB floor
        ("local", "8g"),  # one core
        ("spark://host:7077", "8g"),  # non-local: floor
        ("yarn", "8g"),
    ],
)
def test_default_driver_memory_follows_local_cores(master, want):
    assert default_driver_memory(master) == want


def test_default_driver_memory_star_uses_host_cores(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 48)
    assert default_driver_memory("local[*]") == "24g"
    assert default_driver_memory("local[*,2]") == "24g"
    monkeypatch.setattr(session.os, "cpu_count", lambda: None)
    assert default_driver_memory("local[*]") == "8g"
