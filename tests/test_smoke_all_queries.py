"""Every registered query must run at every scale factor — catches
accidental SF-dependence (hardcoded ids, empty-input crashes) that the
sf0.01 oracle tests wouldn't see."""

from __future__ import annotations

import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

from msstreamingstack_spark.queries import REGISTRY
from msstreamingstack_spark.schemas import TABLE_NAMES

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


def test_registry_metadata_consistency(spark):
    """Every registry entry carries a doc and at least one tag; every
    oracle references only fixture tables, and every fixture table is
    referenced by some oracle (a table no query reads is a leftover);
    names are unique and builder callables are distinct (no accidental
    double-register)."""
    tables = set(TABLE_NAMES)
    named = set()
    builders = set()
    for name, spec in REGISTRY.items():
        assert spec.doc and len(spec.doc) > 40, name
        assert spec.tags, name
        assert id(spec.builder) not in builders, name
        builders.add(id(spec.builder))
        if spec.oracle:
            refs = set(re.findall(
                r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", spec.oracle
            ))
            # every base-table reference must be a fixture table or a
            # CTE defined inside the oracle itself
            ctes = set(re.findall(
                r"([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?\s+AS\s*\(",
                spec.oracle,
            ))
            unknown = refs - tables - ctes
            assert not unknown, (name, unknown)
            named |= refs & tables
    assert named == tables, f"no oracle reads {sorted(tables - named)}"


def test_rotating_persist_bounds_registry_query_caches(spark):
    """Leak regression: registry query functions persist reused
    subtrees but return the frame BEFORE any action, so they can never
    unpersist — each invocation used to stack a session-lifetime cache
    entry. rotating_persist must bound that
    to ONE live entry per slot: re-invoking the same call site
    replaces its cache instead of accumulating, and different slots
    never evict each other."""
    from msstreamingstack_spark.caching import live_slots, rotating_persist

    def persistent_ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        it = m.keySet().iterator()
        s = set()
        while it.hasNext():
            s.add(it.next())
        return s

    base = persistent_ids()
    d = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} epsilon zeta") for i in range(6)],
        ["doc_id", "text"],
    )
    for _ in range(4):  # 4 invocations — the old code left 4 caches
        shingles = d.select("doc_id", F.split("text", " ").alias("toks"))
        rotating_persist(shingles, "test.shingles").collect()
    grown = persistent_ids() - base
    assert len(grown) <= 1, grown  # one rotated slot, not one per call
    assert "test.shingles" in live_slots(spark)

    # distinct slots coexist (no cross-eviction): persist a second slot
    # and confirm the first slot's entry survives
    other = rotating_persist(d.select("doc_id"), "test.other_slot")
    other.collect()
    assert "test.shingles" in live_slots(spark)
    after_other = persistent_ids() - base
    assert len(after_other) <= 2, after_other
    # rotation of the second slot releases only its own predecessor
    other2 = rotating_persist(d.select("doc_id", "text"), "test.other_slot")
    other2.collect()
    assert len(persistent_ids() - base) <= 2
    # cleanup: rotate tiny frames through both slots, then unpersist
    for slot, df in list(live_slots(spark).items()):
        df.unpersist(blocking=False)
