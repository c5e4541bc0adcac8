import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otel_tail_sampler_spark.session import build_session  # noqa: E402
from otel_tail_sampler_spark.sources.generator import GenSpec, generate_dataset  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-example property tests (several Spark jobs each)"
    )


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def small_dataset(tmp_path_factory):
    """~1.5k spans incl. skewed + error + slow traces; returns paths dict."""
    out = tmp_path_factory.mktemp("tok")
    spec = GenSpec(
        n_traces=200,
        spans_per_trace=6,
        error_rate=0.15,
        slow_rate=0.10,
        heavy_frac=0.02,
        heavy_spans=120,
        seed=7,
    )
    return generate_dataset(spec, str(out))
