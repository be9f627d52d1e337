"""Extension-operator tests: ANN recall vs the exact baseline, LSH vs
exact jaccard agreement, and the multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.extensions.multimodal import (
    FEATURE_DIM,
    extract_features,
    media_stats,
    sample_frames,
    synthetic_media,
)
from msstreamingstack_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from msstreamingstack_spark.sources.tables import load_table


def test_minhash_lsh_finds_planted_near_dups(spark, sf_correctness):
    """LSH candidates must recover (nearly) all high-jaccard pairs the
    exact all-pairs scan finds — at jaccard ≥ 0.8, 8 bands × 2 rows
    gives pair-catch probability ≥ 1-(1-0.8^2)^8 ≈ 0.9997."""
    docs = load_table(spark, sf_correctness, "documents")
    exact = {
        (r["d1"], r["d2"]) for r in ngram_jaccard_pairs(docs, 0.8).collect()
    }
    lsh = {(r["d1"], r["d2"]) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    assert exact, "test data should contain planted near-dups"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} below bound"
    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"


def test_jaccard_verify_array_form_matches_join_count(
    spark, sf_correctness
):
    """The array-intersect verify (r11 _jaccard_on_pairs) is exact iff
    (doc_id, h) is duplicate-free — pin BOTH: the fixture corpus holds
    the invariant at this SF, and the array form's (n_inter, n1, n2,
    jaccard) equals the old two-sided join count on the real LSH
    candidate set."""
    from msstreamingstack_spark.operators.dedup import (
        _band_buckets,
        _jaccard_on_pairs,
        doc_shingle_hashes,
        minhash_signatures,
    )

    docs = load_table(spark, sf_correctness, "documents")
    sh = doc_shingle_hashes(docs)
    assert (
        sh.groupBy("doc_id", "h").count().filter(F.col("count") > 1).count()
        == 0
    ), "(doc_id, h) must be duplicate-free for array-intersect verify"
    buckets = _band_buckets(minhash_signatures(sh))
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    # the array form also emits zero-intersection candidates (the old
    # inner join on h dropped them); every caller filters
    # jaccard >= threshold > 0, so compare the reachable surface
    got = {
        (r["d1"], r["d2"]): (r["n_inter"], r["n1"], r["n2"], r["jaccard"])
        for r in _jaccard_on_pairs(sh, cand).collect()
        if r["n_inter"] > 0
    }
    # reference: the pre-r11 join-count form, inline
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "h")
    b = sh.select(F.col("doc_id").alias("d2"), "h")
    ref_df = (
        cand.join(a, "d1")
        .join(b, ["d2", "h"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
        .join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
    )
    ref = {
        (r["d1"], r["d2"]): (r["n_inter"], r["n1"], r["n2"], r["jaccard"])
        for r in ref_df.collect()
    }
    assert ref, "candidate set should be non-empty at this SF"
    assert got == ref


def test_multimodal_feature_extraction(spark):
    media = synthetic_media(spark, n=64)
    feats = extract_features(media).collect()
    assert len(feats) == 64
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    # determinism
    again = extract_features(synthetic_media(spark, n=64)).collect()
    assert sorted((r["media_id"], tuple(r["feature"])) for r in feats) == sorted(
        (r["media_id"], tuple(r["feature"])) for r in again
    )


def test_multimodal_frame_sampling(spark):
    media = synthetic_media(spark, n=12)
    frames = sample_frames(media, every_ms=1000)
    rows = frames.collect()
    assert rows, "video rows must yield sampled frames"
    per_media = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    for ts_list in per_media.values():
        assert ts_list == sorted(ts_list)
        assert ts_list[0] == 0


def test_multimodal_stats(spark):
    st = {r["kind"]: r for r in media_stats(synthetic_media(spark, 64)).collect()}
    assert set(st) == {"image", "audio", "video"}
    assert st["image"]["max_width"] is not None


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
    entry (the shingle-hash tables). rotating_persist must bound that
    to ONE live entry per slot: re-invoking the same call site
    replaces its cache instead of accumulating, and different slots
    never evict each other."""
    from msstreamingstack_spark.caching import live_slots, rotating_persist
    from msstreamingstack_spark.operators.dedup import doc_shingle_hashes

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
        doc_shingle_hashes(d, slot="test.shingles").collect()
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


def test_bm25_rare_term_dominates_and_order_is_monotone(spark, sf_correctness):
    """idf separates the rare query term ('dup', df~26/500) from the
    near-ubiquitous ones: every top-20 hit must contain it, scores
    must be non-increasing, and term-match counts must stay in
    [1, |terms|]."""
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.queries_extensions import BM25_TERMS

    rows = REGISTRY["retrieval_bm25_topk"].builder(spark, sf_correctness).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_terms_matched"] <= len(BM25_TERMS) for r in rows)

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_correctness}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert all("dup" in docs[r["doc_id"]].split(" ") for r in rows)


def test_bm25_matches_python_model(spark, sf_correctness):
    """Full independent BM25 model in pure Python over the same corpus
    — same tokenization, same k1/b, same rounding discipline."""
    import math

    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.queries_extensions import BM25_B, BM25_K1, BM25_TERMS

    docs = (
        spark.read.parquet(f"{sf_correctness}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for r in docs:
        toks = [w for w in r["text"].split(" ") if w]
        dl[r["doc_id"]] = len(toks)
        for w in toks:
            if w in BM25_TERMS:
                tf[(r["doc_id"], w)] = tf.get((r["doc_id"], w), 0) + 1
    n_docs = len(dl)
    avgdl = float(sum(dl.values())) / n_docs
    df = {t: sum(1 for (_, w) in tf if w == t) for t in BM25_TERMS}
    scores: dict[int, float] = {}
    for (d, w), f in tf.items():
        idf = math.log((n_docs - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
        s = idf * (f * (BM25_K1 + 1.0)) / (
            f + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl[d] / avgdl)
        )
        scores[d] = scores.get(d, 0.0) + round(s, 9)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [
        (r["doc_id"], r["bm25"])
        for r in REGISTRY["retrieval_bm25_topk"].builder(spark, sf_correctness).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (_, g), (_, e) in zip(got, expect):
        assert abs(g - e) <= 1e-9


def test_registry_metadata_consistency(spark):
    """Every registry entry carries a doc and at least one tag; every
    oracle references only fixture tables; names are unique and
    builder callables are distinct (no accidental double-register)."""
    from msstreamingstack_spark.queries import REGISTRY

    tables = {"region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"}
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
