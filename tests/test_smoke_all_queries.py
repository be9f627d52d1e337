"""Every registered query must run at every scale factor — catches
accidental SF-dependence (hardcoded ids, empty-input crashes) that the
sf0.01 oracle tests wouldn't see."""

from __future__ import annotations

import inspect
import os

import pytest

from msstreamingstack_spark.queries import REGISTRY

SF_TINY = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs_at_tiny_sf(spark, name):
    # one plan per query: a builder takes no plan-selecting parameter
    builder = REGISTRY[name].builder
    assert list(inspect.signature(builder).parameters) == ["spark", "sf_dir"]
    df = builder(spark, SF_TINY)
    rows = df.limit(5).collect()
    assert df.columns, name
    assert rows is not None


def _registry_after_first_import(module: str) -> dict:
    """{name: oracle} of the full registry in a fresh interpreter whose
    first import is ``module``."""
    import json
    import subprocess
    import sys

    code = (
        f"import {module}\n"
        "import json\n"
        "from msstreamingstack_spark.queries import REGISTRY\n"
        "print(json.dumps({n: s.oracle for n, s in REGISTRY.items()}))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, (module, r.stderr[-800:])
    return json.loads(r.stdout.splitlines()[-1])


def test_registry_complete_under_any_first_import():
    """Importing any query module first must yield the same registry
    (names and oracles) as importing ``queries`` first: a module that
    imports a helper from a half-initialised sibling breaks this."""
    import msstreamingstack_spark

    pkg = os.path.dirname(msstreamingstack_spark.__file__)
    modules = sorted(
        f"msstreamingstack_spark.{f[:-3]}"
        for f in os.listdir(pkg)
        if f.startswith("queries") and f.endswith(".py")
    )
    want = _registry_after_first_import("msstreamingstack_spark.queries")
    assert len(want) == len(REGISTRY)
    for module in modules:
        got = _registry_after_first_import(module)
        assert got.keys() == want.keys(), module
        assert got == want, module
