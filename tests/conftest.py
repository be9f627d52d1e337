from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from msstreamingstack_spark.session import get_spark  # noqa: E402


# ---------------------------------------------------------------------------
# Two-tier suite (r12, verdict task #2). The default `pytest tests/`
# run is the FAST tier: smoke + every equivalence/invariant pin —
# the external driver's verify budget could not finish the ~30 min
# full suite (round 11 timed out with zero failures).
# The SLOW tier (exhaustive property sweeps and per-query oracle
# parity already covered by `python -m msstreamingstack_spark
# verify`) stays runnable:
#   pytest tests/ --runslow        # everything
#   pytest tests/ -m slow          # slow tier only
# ---------------------------------------------------------------------------
def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (full property/oracle sweeps)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive property/oracle sweep — excluded from the "
        "default run; opt in with --runslow or -m slow",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    markexpr = config.getoption("-m", default="") or ""
    if "slow" in markexpr:
        return  # explicit -m selection governs
    skip = pytest.mark.skip(
        reason="slow tier: opt in with --runslow (or -m slow)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="msstreamingstack-tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
