"""Mirror of the driver's sf0.01 DuckDB-oracle gate, run locally.

Every oracle-bearing query in the registry must hash-match; a failure
here predicts a `python -m msstreamingstack_spark verify` failure.
"""

from __future__ import annotations

import pytest

from msstreamingstack_spark.queries import REGISTRY
from tests.oracle_harness import compare, duck_connect

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


# Whole-module slow tier: exhaustive sweeps the default run skips
# (oracle parity duplicates `python -m msstreamingstack_spark verify`,
# which the external driver runs separately; opt in with --runslow).
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def duck(sf_correctness):
    con = duck_connect(sf_correctness)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, sf_correctness, name):
    spec = REGISTRY[name]
    df = spec.builder(spark, sf_correctness)
    ok, msg = compare(df, duck, spec.oracle)
    assert ok, f"{name}: {msg}"


def test_all_queries_return_rows(spark, sf_smoke):
    for name, spec in REGISTRY.items():
        df = spec.builder(spark, sf_smoke)
        assert df.count() >= 0, name
        assert len(df.columns) > 0, name
