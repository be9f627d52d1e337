"""Extension-operator tests: the exact embedding queries, bounded
query caches and registry metadata."""

from __future__ import annotations

from pyspark.sql import functions as F



def test_quantize_int8_error_bound(spark, sf_correctness):
    """Min-max int8 reconstruction error is bounded by scale/2 =
    (mx-mn)/510 per element; MSE ≤ (scale/2)²."""
    from msstreamingstack_spark.operators.similarity import quantize_int8_stats
    from msstreamingstack_spark.sources.tables import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    for r in quantize_int8_stats(emb).collect():
        half_step = (r["mx"] - r["mn"]) / 510.0
        assert r["max_abs_err"] <= half_step + 1e-9
        assert r["mse"] <= half_step**2 + 1e-9


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


def test_mine_hard_negatives_matches_numpy_model(spark, sf_smoke):
    """Independent numpy model of the mining rule: per query, top-5
    cross-label cosine, ties on id — and every returned negative must
    out-rank (or tie) any same-label vector's eligibility by
    construction (labels differ from the query's)."""
    import os

    import numpy as np
    import pandas as pd

    from msstreamingstack_spark.operators.similarity import COS_ROUND
    from msstreamingstack_spark.queries import REGISTRY

    base = pd.read_parquet(os.path.join(sf_smoke, "embeddings.parquet"))
    X = np.stack(
        [np.asarray(v, dtype="float64") for v in base["embedding"]]
    )
    labels = base["label"].to_numpy()
    ids = base["vec_id"].to_numpy()
    norms = np.linalg.norm(X, axis=1)

    want = {}
    for qi in range(len(ids)):
        if ids[qi] >= 10:
            continue
        cands = []
        for ci in range(len(ids)):
            if labels[ci] == labels[qi]:
                continue
            cos = round(float(X[qi] @ X[ci]) / float(norms[qi] * norms[ci]),
                        COS_ROUND)
            cands.append((-cos, ids[ci]))
        cands.sort()
        want[ids[qi]] = [
            (int(i), -c) for c, i in cands[:5]
        ]

    got = {}
    for r in REGISTRY["mine_hard_negatives"].builder(spark, sf_smoke).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["negative_id"], r["cos"], r["query_label"])
        )
    assert set(got) == set(want)
    for qid, rows in got.items():
        rows.sort()
        assert [(n, c) for _, n, c, _ in rows] == want[qid], qid
        # negatives all differ from the query's label
        qlabel = rows[0][3]
        assert all(
            labels[list(ids).index(n)] != qlabel for _, n, _, _ in rows
        )


def test_registry_metadata_consistency(spark):
    """Every registry entry carries a doc and at least one tag; every
    oracle references only fixture tables; names are unique and
    builder callables are distinct (no accidental double-register)."""
    from msstreamingstack_spark.queries import REGISTRY

    tables = {"region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"}
    builders = set()
    for name, spec in REGISTRY.items():
        assert spec.doc and len(spec.doc) > 40, name
        assert spec.tags, name
        assert id(spec.builder) not in builders, name
        builders.add(id(spec.builder))
        if spec.oracle:
            import re as _re

            refs = set(_re.findall(
                r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", spec.oracle
            ))
            # every base-table reference must be a fixture table or a
            # CTE defined inside the oracle itself
            ctes = set(_re.findall(
                r"([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?\s+AS\s*\(",
                spec.oracle,
            ))
            unknown = refs - tables - ctes
            assert not unknown, (name, unknown)


def test_label_outliers_match_numpy_mirror(spark, sf_correctness):
    """numpy mirror of embedding_label_outliers: float64 per-label
    centroids, cosine to own centroid, bottom-5 per label — the chosen
    vec_ids must match exactly and the cosines to 1e-6 (the engine's
    DECIMAL centroid sums vs numpy's float64 sums differ only in last
    bits, far below the round-9 output grain)."""
    import numpy as np

    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.queries_extensions import LABEL_OUTLIER_K
    from msstreamingstack_spark.sources.tables import load_table

    emb = load_table(spark, sf_correctness, "embeddings").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        )
    expect = {}
    for lab, vecs in by_label.items():
        cent = np.mean([v for _, v in vecs], axis=0)
        cn = np.linalg.norm(cent)
        scored = sorted(
            (
                round(float(v @ cent / (np.linalg.norm(v) * cn)), 9),
                vid,
            )
            for vid, v in vecs
        )
        expect[lab] = scored[:LABEL_OUTLIER_K]
    got = REGISTRY["embedding_label_outliers"].builder(
        spark, sf_correctness
    ).collect()
    assert len(got) == sum(len(v) for v in expect.values())
    for r in got:
        cos, vid = expect[r["label"]][r["rn"] - 1]
        assert r["vec_id"] == vid
        assert abs(r["cos_centroid"] - cos) <= 1e-6
