"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the corpus, dot/norm via built-in higher-order functions
(``zip_with`` + ``aggregate``: JVM-side sequential fold, so the DuckDB
oracle's ``list_dot_product`` over DOUBLE[] reproduces the arithmetic;
results are additionally rounded to 9 decimals before ranking to keep
cross-engine ordering stable).

Scale path: sign-random-projection LSH — pack per-plane sign bits into
a bucket id, candidate pairs share a bucket, exact cosine only on
candidates. Plane vectors are derived from the cross-engine md5 hash
(functions/text.py) so signatures are deterministic; the operator is
still approximate by nature (recall < 1), so its correctness check is
the pytest recall bound against the brute-force result rather than a
SQL oracle.

At 100 TB: brute force is O(Q×N) — fine when Q is a broadcastable
query batch; the LSH path turns all-pairs near-dup mining into
bucket-local joins. The second scale path is IVF (bottom of this
file): a deterministic k-means coarse quantizer; queries probe only
the nprobe nearest cells. Both ANN variants are recall-tested against
the brute-force baseline rather than SQL-oracle-checked (approximate
by design).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from msstreamingstack_spark.functions.text import hash48

COS_ROUND = 9  # decimals; cross-engine double drift is ~1e-15 relative


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in DOUBLE (order-matched with
    the oracle's list_dot_product over DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


DOT_SQL = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def cosine_sql(a: str, b: str) -> str:
    d = DOT_SQL.format(a=a, b=b)
    na = DOT_SQL.format(a=a, b=a)
    nb = DOT_SQL.format(a=b, b=b)
    return f"{d} / (sqrt({na}) * sqrt({nb}))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self). The
    query side is broadcast; ranking is (rounded cosine desc, id asc)
    for determinism."""
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def brute_force_topk_sql(k: int = 5, n_queries: int = 10) -> str:
    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, {COS_ROUND}) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_queries}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (cos ≥ threshold).

    All-pairs self-join — the exact kernel. At 100 TB this runs only on
    LSH candidates (``srp_buckets`` bucket-join prunes first, same
    pattern as minhash→jaccard verification in operators/dedup.py);
    the threshold filter is applied before any wide columns survive.

    The d1 < d2 inequality condition admits no equi-join, so Spark
    picks between CartesianProduct and BroadcastNestedLoopJoin on
    size estimates — and AQE re-picked per run, swinging wall time 4×
    on unchanged code (1.7-8.3 s history; round-5 VERDICT flagged the
    roulette). One side is broadcast EXPLICITLY: the kernel's input is
    a bounded candidate set by contract (the verify twin of the LSH
    path, never the full corpus), so the broadcast is always
    legitimate and the plan is pinned to BroadcastNestedLoopJoin
    (tests/test_plans.py).
    """
    # norms computed ONCE per vector, not per pair — the pair loop then
    # pays a single dot-product fold instead of three
    withn = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    a = withn.select(
        F.col("_id").alias("d1"), F.col("_v").alias("v1"), F.col("_n").alias("n1")
    )
    b = withn.select(
        F.col("_id").alias("d2"), F.col("_v").alias("v2"), F.col("_n").alias("n2")
    )
    return (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                COS_ROUND,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("d1", "d2", "cos")
    )


def quantize_int8_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 (0..255) min-max quantization + reconstruction
    error — the memory-side scale path for ANN: codes are 4× smaller
    than float32, so a 100 TB embedding corpus's candidate scan stays
    in memory; exact re-ranking then reads only the shortlist's floats.

    Codes are ``floor((x-mn)/scale + 0.5)`` (explicit floor, not
    round: Spark HALF_UP vs DuckDB's banker's rounding would drift on
    exact .5 ties). Error stats go through the verified fold pattern
    (``dot`` over the error list ≡ DuckDB list_dot_product), max via
    order-independent array_max.

    Output: (vec_id, mn, mx, max_abs_err, mse) — all rounded to
    COS_ROUND decimals for cross-engine repr stability.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    err = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: x
            - (
                F.col("_mn")
                + F.floor((x - F.col("_mn")) / F.col("_scale") + 0.5)
                * F.col("_scale")
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))
    dim = F.size(F.col(vec_col))
    return (
        emb.select(
            F.col(id_col),
            F.col(vec_col),
            mn.alias("_mn"),
            mx.alias("_mx"),
            scale.alias("_scale"),
        )
        .withColumn("_err", err)
        .select(
            id_col,
            F.round(F.col("_mn"), COS_ROUND).alias("mn"),
            F.round(F.col("_mx"), COS_ROUND).alias("mx"),
            F.round(
                F.array_max(F.transform(F.col("_err"), F.abs)), COS_ROUND
            ).alias("max_abs_err"),
            F.round(
                dot(F.col("_err"), F.col("_err")) / dim.cast("double"),
                COS_ROUND,
            ).alias("mse"),
        )
    )


def quantize_int8_sql(emb_rel: str = "embeddings") -> str:
    v = "CAST(embedding AS DOUBLE[])"
    mn, mx = f"list_min({v})", f"list_max({v})"
    scale = f"(({mx}) - ({mn})) / 255.0"
    err = (
        f"CASE WHEN _scale > 0 THEN "
        f"list_transform(_v, x -> x - (_mn + floor((x - _mn) / _scale + 0.5) * _scale)) "
        f"ELSE list_transform(_v, x -> 0.0) END"
    )
    return f"""
WITH base AS (
  SELECT vec_id, {v} AS _v, {mn} AS _mn, {mx} AS _mx, {scale} AS _scale
  FROM {emb_rel}
),
werr AS (SELECT vec_id, _v, _mn, _mx, {err} AS _err FROM base)
SELECT vec_id,
       round(_mn, {COS_ROUND}) AS mn,
       round(_mx, {COS_ROUND}) AS mx,
       round(list_max(list_transform(_err, x -> abs(x))), {COS_ROUND})
         AS max_abs_err,
       round(list_dot_product(_err, _err) / CAST(len(_v) AS DOUBLE),
             {COS_ROUND}) AS mse
FROM werr
"""


def quantized_approx_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The quantized code-scan stage of ``quantized_rescore_topk``:
    (query_id, neighbor_id, approx_cos) candidates, AT MOST
    ``partitions × |queries| × k·shortlist_factor`` rows total.

    One numpy matmul per Arrow batch (reconstruct x̂ = mn + code·scale,
    then X̂norm @ Qnormᵀ), keeping a RUNNING per-query top-M
    (M = k·shortlist_factor) inside each partition — only M × Q rows
    per partition ever leave the scan, so the downstream global
    per-query shortlist window ranks ~M × partitions rows instead of
    N × Q. That bound is what survives a 100× corpus: the shuffle into
    the window stage is O(partitions), not O(corpus). Exposed as its
    own function so the bound is directly testable
    (tests/test_extensions.py).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    q_mat = np.array([r[1] for r in q_rows], dtype="float64")
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    n_short = k * shortlist_factor

    # mn/scale bound once per row, in DOUBLE from the first subtraction
    # (a float32 max-min would round differently from the SQL oracle's
    # double arithmetic — same discipline as quantize_int8_stats)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        dv.alias("_v"),
    ).select(
        "neighbor_id",
        "_v",
        F.array_min(F.col("_v")).alias("mn"),
        ((F.array_max(F.col("_v")) - F.array_min(F.col("_v"))) / F.lit(255.0)).alias(
            "scale"
        ),
    )
    codes = base.select(
        "neighbor_id",
        "mn",
        "scale",
        F.when(
            F.col("scale") > 0,
            F.transform(
                F.col("_v"),
                lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5).cast(
                    "int"
                ),
            ),
        )
        .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
        .alias("codes"),
    )

    def scan(batches):
        # running per-query top-M across the partition's batches: keep
        # (rounded approx_cos, neighbor_id) sorted by the same total
        # order the global window uses, so the partition cut never
        # drops a global-top-M candidate
        best_cos = np.full((len(q_ids), 0), 0.0)
        best_id = np.full((len(q_ids), 0), 0, dtype="int64")
        for pdf in batches:
            c = np.stack(pdf["codes"].to_numpy()).astype("float64")
            mn = pdf["mn"].to_numpy()[:, None]
            sc = pdf["scale"].to_numpy()[:, None]
            x = mn + c * sc
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-30
            )
            cos = np.round(xn @ q_norm.T, COS_ROUND).T  # Q × batch
            ids = np.broadcast_to(
                pdf["neighbor_id"].to_numpy("int64"), cos.shape
            )
            cos = np.where(ids == q_ids[:, None], -np.inf, cos)  # no self
            all_cos = np.concatenate([best_cos, cos], axis=1)
            all_id = np.concatenate([best_id, ids], axis=1)
            # lexsort: last key primary → (-cos asc, id asc) = the
            # (cos desc, neighbor_id asc) window order
            keep_cos = np.empty((len(q_ids), min(n_short, all_cos.shape[1])))
            keep_id = np.empty_like(keep_cos, dtype="int64")
            for qi in range(len(q_ids)):
                o = np.lexsort((all_id[qi], -all_cos[qi]))[: n_short]
                keep_cos[qi] = all_cos[qi][o[: keep_cos.shape[1]]]
                keep_id[qi] = all_id[qi][o[: keep_cos.shape[1]]]
            best_cos, best_id = keep_cos, keep_id
        mask = np.isfinite(best_cos)
        qq = np.broadcast_to(q_ids[:, None], best_cos.shape)
        yield pd.DataFrame(
            {
                "query_id": qq[mask],
                "neighbor_id": best_id[mask],
                "approx_cos": best_cos[mask],
            }
        )

    return codes.mapInPandas(
        scan, "query_id long, neighbor_id long, approx_cos double"
    )


def quantized_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized-scan + exact-rescore ANN (the IVF-PQ-style memory
    pattern): the corpus-wide pass reads only int8 codes — 4× smaller
    than float32, so at 100 TB the scan stage holds codes in executor
    memory (see ``quantized_approx_candidates`` for the scan and its
    per-partition output bound) — and the exact float cosine runs only
    on a per-query shortlist of ``shortlist_factor × k`` candidates.

    Deterministic end to end (quantization is exact integer/double
    arithmetic; approx scores are rounded to COS_ROUND before ranking
    with an id tiebreak, so the result is invariant to partitioning),
    which makes the whole operator SQL-expressible —
    ``quantized_rescore_sql`` is the DuckDB oracle; the recall bound vs
    brute force is additionally asserted in tests.
    """
    from pyspark.sql import Window

    n_short = k * shortlist_factor
    approx = quantized_approx_candidates(
        corpus, queries, k, shortlist_factor, id_col, vec_col
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        approx.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= n_short)
        .select("query_id", "neighbor_id")
    )
    scored = (
        shortlist.join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
                )
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            ),
            "neighbor_id",
        )
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def quantized_rescore_sql(
    k: int = 5, shortlist_factor: int = 4, n_queries: int = 10
) -> str:
    """DuckDB oracle for ``quantized_rescore_topk``. The operator is
    deterministic end to end — int8 codes are exact integer/double
    arithmetic (bit-identical across engines), approx scores are
    rounded to COS_ROUND before the id-tiebroken shortlist cut, and the
    exact rescore uses the verified sequential-fold cosine — so the
    whole ANN, not just its exact baseline, is SQL-checkable."""
    m = k * shortlist_factor
    cos = cosine_sql("qe.embedding", "ce.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
stats AS (
  SELECT vec_id, v, list_min(v) AS mn,
         (list_max(v) - list_min(v)) / 255.0 AS scale
  FROM base
),
recon AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(v, x ->
                     mn + floor((x - mn) / scale + 0.5) * scale)
              ELSE list_transform(v, x -> mn) END AS xhat
  FROM stats
),
approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(c.xhat, q.v)
               / (greatest(sqrt(list_dot_product(c.xhat, c.xhat)), 1e-30)
                  * sqrt(list_dot_product(q.v, q.v))), {COS_ROUND})
           AS approx_cos
  FROM recon c JOIN base q ON q.vec_id < {n_queries}
  WHERE q.vec_id <> c.vec_id
),
shortlist AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY approx_cos DESC, neighbor_id ASC) AS arank
        FROM approx)
  WHERE arank <= {m}
),
scored AS (
  SELECT s.query_id, s.neighbor_id, round({cos}, {COS_ROUND}) AS cos
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ce ON ce.vec_id = s.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _srp_buckets_cte(
    n_tables: int | None = None, planes_per_table: int | None = None
) -> str:
    """The SRP bucket table as DuckDB SQL: md5-derived hyperplanes
    inlined as double literals (repr round-trips exactly), sign test
    and bucket packing as scalar SQL. Shared by every SRP oracle."""
    n_tables = N_TABLES if n_tables is None else n_tables
    planes_per_table = (
        PLANES_PER_TABLE if planes_per_table is None else planes_per_table
    )
    per_table = []
    for t in range(n_tables):
        terms = []
        for j in range(planes_per_table):
            p = t * planes_per_table + j
            lit = "[" + ", ".join(repr(x) for x in _plane(p)) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) > 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        bucket = "\n         + ".join(terms)
        per_table.append(
            f"SELECT vec_id, {t} AS tbl,\n           {bucket} AS bucket FROM b"
        )
    return "\n  UNION ALL\n  ".join(per_table)


def srp_ann_sql(k: int = 5, n_queries: int = 10) -> str:
    """DuckDB oracle for ``srp_ann_topk`` — the same bit-exact-LSH
    discipline as ``minhash_lsh_sql``. The only cross-engine freedom is
    summation order inside the plane dot products; a sign flip needs
    |dot| ≲ 1e-13, vanishingly unlikely for random planes."""
    buckets_sql = _srp_buckets_cte()
    cos = cosine_sql("qe.embedding", "ce.embedding")
    return f"""
WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
  {buckets_sql}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, round({cos}, {COS_ROUND}) AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def embedding_neardup_sql(threshold: float) -> str:
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS d1, b.vec_id AS d2, round({cos}, {COS_ROUND}) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({cos}, {COS_ROUND}) >= {threshold}
"""


TARGET_BUCKET_OCCUPANCY = 32
MIN_PLANES = 4
MAX_PLANES = 24


def auto_planes_per_table(
    n_rows: int, target_occupancy: int = TARGET_BUCKET_OCCUPANCY
) -> int:
    """Derive the SRP plane count from corpus size: per-table buckets
    = 2^planes, so holding expected occupancy N/2^planes at
    ``target_occupancy`` keeps per-bucket join fan-out — and therefore
    candidate volume, ≈ N·occupancy/2 per table — LINEAR in N. The
    round-3 fixed default (4 planes regardless of N) measured 55.7×
    super-linear at 16× data (BASELINE.md) because occupancy, and so
    candidates-per-bucket, grew with N². Floor of MIN_PLANES keeps the
    driver fixture (500 vecs → 4 planes) on the historically-oracled
    sizing; cap of MAX_PLANES bounds signature width.
    """
    import math

    if n_rows <= 0:
        return MIN_PLANES
    need = math.ceil(math.log2(max(1.0, n_rows / target_occupancy)))
    return min(MAX_PLANES, max(MIN_PLANES, need))


def embedding_neardup_lsh_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int | None = None,
    planes_per_table: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """SRP-bucketed embedding near-dup pairs — the SCALE path whose
    exact kernel is ``embedding_neardup_pairs``: candidates are id
    pairs sharing a bucket in ANY table (equi-join on (table, bucket),
    only ids and two longs shuffle), exact cosine runs on candidates
    only. Same shape as minhash→jaccard verification in
    operators/dedup.py; candidate volume is Σ bucket² per table
    instead of N². Recall < 1 by design (a pair can miss every
    table); the recall bound vs the exact kernel is asserted in tests,
    and the operator itself is deterministic ⇒ SQL-oracle-checked.

    Sizing at scale: per-table buckets = 2^planes_per_table, so with
    FIXED planes the expected bucket occupancy is N/2^bits and
    candidate volume grows ~N². When ``planes_per_table`` is None it
    is AUTO-SIZED from the corpus count via ``auto_planes_per_table``
    (≈ log2(N / target_occupancy), floored at the driver fixture's
    historical 4) so occupancy — and candidate volume per table —
    stays linear in N with no knob-turning. ``corpus_count`` skips the
    sizing count() when the caller already knows N (e.g. from parquet
    metadata). More planes lower per-table recall for a fixed
    threshold; a deployment chasing recall at high N adds tables
    (``n_tables``) — recall ≈ 1-(1-p^bits)^tables, p = 1-θ/π.
    """
    if planes_per_table is None:
        n_rows = emb.count() if corpus_count is None else corpus_count
        planes_per_table = auto_planes_per_table(n_rows)

    def bucketed(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idc),
            F.posexplode(
                srp_buckets(F.col(vec_col), n_tables, planes_per_table)
            ).alias("tbl", "bucket"),
        )

    a = bucketed(emb, "d1")
    b = bucketed(emb, "d2")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    # norms once per vector (the embedding_neardup_pairs discipline,
    # applied here in r11): the verify expression per candidate is one
    # dot fold instead of three. This matters twice over because the
    # optimizer pushes the threshold filter INTO the verify join's
    # condition, evaluating the expression a second time per row — the
    # hoist shrinks both evaluations. norm(a) is the identical
    # sqrt(aggregate(...)) expression, just computed in the per-vector
    # projection, so cos is bit-for-bit the same double.
    withv = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    return (
        cand.join(
            withv.select(
                F.col("_id").alias("d1"),
                F.col("_v").alias("v1"),
                F.col("_n").alias("n1"),
            ),
            "d1",
        )
        .join(
            withv.select(
                F.col("_id").alias("d2"),
                F.col("_v").alias("v2"),
                F.col("_n").alias("n2"),
            ),
            "d2",
        )
        .withColumn(
            "cos",
            F.round(
                dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                COS_ROUND,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("d1", "d2", "cos")
    )


def embedding_neardup_lsh_sql(
    threshold: float,
    n_tables: int | None = None,
    planes_per_table: int | None = None,
) -> str:
    """DuckDB oracle for the SRP-bucketed near-dup pairs (buckets CTE
    shared with the ANN oracle)."""
    buckets_sql = _srp_buckets_cte(n_tables, planes_per_table)
    cos = cosine_sql("ae.embedding", "be.embedding")
    return f"""
WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
  {buckets_sql}
),
cand AS (
  SELECT DISTINCT a.vec_id AS d1, c.vec_id AS d2
  FROM buckets a JOIN buckets c ON a.tbl = c.tbl AND a.bucket = c.bucket
  WHERE a.vec_id < c.vec_id
)
SELECT d1, d2, round({cos}, {COS_ROUND}) AS cos
FROM cand
JOIN embeddings ae ON ae.vec_id = cand.d1
JOIN embeddings be ON be.vec_id = cand.d2
WHERE round({cos}, {COS_ROUND}) >= {threshold}
"""


# ---------------------------------------------------------------------------
# Sign-random-projection LSH (scale path, pytest-verified recall)
# ---------------------------------------------------------------------------
# Multi-table SRP: L tables × B planes. For neighbors at angle θ the
# per-table collision probability is (1-θ/π)^B; L independent tables
# lift recall to 1-(1-p)^L. 8×4 targets ~0.7+ recall at θ≈65° (the
# top-neighbor regime of the random test embeddings).
N_TABLES = 8
PLANES_PER_TABLE = 4
DIM = 64


def _plane(p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — same idea as
    the cross-engine hash48, computed driver-side once (tiny)."""
    import hashlib

    vals = []
    for d in range(DIM):
        h = int(hashlib.md5(f"plane_{p}_{d}".encode()).hexdigest()[:12], 16)
        vals.append((h % 2001) / 1000.0 - 1.0)
    return vals


def srp_buckets(
    vec_col: Column,
    n_tables: int | None = None,
    planes_per_table: int | None = None,
) -> Column:
    """Array of N_TABLES bucket ids (sign bits of each table's planes
    packed into a long). Explode + equi-join on (table, bucket) is the
    scalable candidate generation: shuffle keys only, no pair scan.

    Implemented as an Arrow-batched pandas UDF doing ONE numpy matmul
    per batch: inlining 32 planes × 64 literal doubles as codegen
    expressions compiles for seconds and still evaluates per-plane
    per-row; X @ P is the vectorized form of the same sign test.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    # no inner type hints: module-level `from __future__ import
    # annotations` stringifies them and pandas_udf can't resolve the
    # locally-imported pd — pass the eval type explicitly instead
    nt = N_TABLES if n_tables is None else n_tables
    ppt = PLANES_PER_TABLE if planes_per_table is None else planes_per_table

    def _buckets(vecs):
        import numpy as _np

        planes = _np.array(
            [_plane(p) for p in range(nt * ppt)], dtype="float64"
        ).T
        x = np.stack(vecs.to_numpy()).astype("float64")  # N × DIM
        bits = (x @ planes) > 0  # N × (tables·planes)
        weights = np.array([1 << j for j in range(ppt)], dtype="int64")
        packed = (bits.reshape(-1, nt, ppt) * weights).sum(axis=2)  # N × nt
        return pd.Series(list(packed))

    return pandas_udf(_buckets, "array<long>")(vec_col)


def srp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = bucket collision in ANY table;
    exact cosine + rank within candidates. Misses are possible (that's
    the trade); recall is asserted in tests against brute_force_topk."""
    from pyspark.sql import Window

    def bucketed(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idc),
            F.posexplode(srp_buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )

    qb = F.broadcast(bucketed(queries, "query_id"))
    cb = bucketed(corpus, "neighbor_id")
    # dedup candidates on the (query, neighbor) id pair ONLY — grouping
    # on the raw vectors would shuffle and compare 64-float arrays
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
                )
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            ),
            "neighbor_id",
        )
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probe search
# ---------------------------------------------------------------------------
# The second scale path next to SRP-LSH: partition the corpus into K
# cells around centroids; a query probes only the nprobe nearest
# cells, turning O(N) exact scans into O(N * nprobe / K) expected.
# The fit is Lloyd's algorithm with DETERMINISTIC init (first K
# vectors by id) — only K x DIM floats ever reach the driver (the
# centroid matrix), assignments stay distributed.
IVF_K = 16
IVF_ITERS = 3
IVF_NPROBE = 4


def _assign_udf(centroids):
    """pandas_udf: nearest-centroid id per vector (one numpy matmul
    per Arrow batch; euclidean argmin)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    c = centroids  # K x DIM
    c_sq = (c * c).sum(axis=1)  # K

    def assign(vecs):
        x = np.stack(vecs.to_numpy()).astype("float64")  # N x DIM
        # argmin ||x-c||^2 = argmin c_sq - 2 x.c
        d = c_sq[None, :] - 2.0 * (x @ c.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return pandas_udf(assign, "int")


def ivf_fit(
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Lloyd iterations; returns the K x DIM centroid ndarray.

    Driver-side data is HARD-BOUNDED by row count, independent of
    corpus size: init collects exactly ``k`` vectors (``limit(k)``,
    deterministic first-k-by-id), and each iteration collects exactly
    the ``k`` per-cell means — K×DIM doubles per round-trip, never a
    fraction-based sample. Assignment and the mean reduction stay
    distributed (Arrow matmul + groupBy), so the same fit runs
    unchanged on a 100 TB corpus.

    The per-cell mean runs as posexplode → groupBy(cell, pos) → avg:
    DIM-INDEPENDENT plan size (the earlier form built DIM aggregate
    expressions into one projection — fine at 64, a codegen wall at
    BERT-width 768+). The explode amplifies rows ×DIM but map-side
    partial aggregation collapses each partition to ≤ K×DIM rows
    before the shuffle.
    """
    import numpy as np

    # the fit makes `iters` passes over the vectors — pin them in
    # executor memory once instead of re-scanning (and re-decoding)
    # the parquet every Lloyd iteration; at 100 TB the fit input is a
    # bounded sample, so the cache is the sample, not the corpus
    vecs = emb.select(id_col, vec_col).persist()
    try:
        init = (
            vecs.orderBy(id_col)
            .limit(k)
            .select(vec_col)
            .toPandas()[vec_col]
        )
        centroids = np.stack(init.to_numpy()).astype("float64")
        for _ in range(iters):
            assigned = vecs.select(
                _assign_udf(centroids)(F.col(vec_col)).alias("cell"), vec_col
            )
            means = (
                assigned.select(
                    "cell", F.posexplode(F.col(vec_col)).alias("pos", "x")
                )
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .groupBy("cell")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm"))
                .select("cell", F.col("pm.m").alias("c"))
                .collect()
            )
            for r in means:  # empty cells keep their previous centroid
                centroids[r.cell] = np.array(r.c, dtype="float64")
    finally:
        vecs.unpersist()
    return centroids


def ivf_fit_ml(
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    vec_col: str = "embedding",
    seed: int = 7,
):
    """K beyond a few thousand: ``pyspark.ml.clustering.KMeans``
    (k-means|| init, tree-reduced updates) instead of the hand Lloyd
    loop — same contract, returns the K×DIM centroid ndarray for the
    probe/assign kernels. Seeded, so reruns on identical partitioning
    reproduce; centroid VALUES differ from ``ivf_fit`` (different
    init), which is fine — IVF is recall-bounded, not value-oracled."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, maxIter=iters, seed=seed, initMode="k-means||").fit(feats)
    # clusterCenters() already yields ndarrays on Spark 4
    return np.stack([np.asarray(c) for c in model.clusterCenters()]).astype(
        "float64"
    )


def ivf_index_save(centroids, spark, path: str) -> None:
    """Persist a fitted coarse quantizer as a (cell, centroid) parquet
    — the IVF index LIFECYCLE piece: fit once over the (bounded)
    sample, reuse across query batches/sessions/jobs instead of
    re-running Lloyd or KMeans per search. K×DIM doubles — metadata-
    sized at any corpus scale."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def ivf_index_load(spark, path: str):
    """Load a quantizer saved by :func:`ivf_index_save` back into the
    K×DIM ndarray the probe/assign kernels take — bit-identical to
    the array that was saved (doubles round-trip parquet exactly)."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("cell").collect()
    # an empty directory would pass the contiguity check vacuously and
    # surface later as an obscure shape error inside the probe kernel
    assert len(rows) > 0, f"empty/corrupt IVF index at {path}: no centroids"
    assert [r["cell"] for r in rows] == list(range(len(rows))), (
        "corrupt IVF index: non-contiguous cell ids"
    )
    return np.array([r["centroid"] for r in rows], dtype="float64")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "lloyd",
    centroids=None,
) -> DataFrame:
    """IVF probe search: exact cosine only inside the nprobe nearest
    cells of each query. Approximate (recall < 1 when the true
    neighbor lives in an unprobed cell) — recall bound asserted in
    tests, same policy as SRP. ``fit="ml"`` swaps the centroid fit to
    pyspark.ml KMeans (the >few-thousand-K path); probe/assign kernels
    are identical either way. Pass ``centroids`` (a K×DIM ndarray,
    e.g. from :func:`ivf_index_load`) to skip the fit entirely — the
    persisted-index path for repeated query batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.pandas.functions import pandas_udf

    if centroids is not None:
        pass
    elif fit == "ml":
        centroids = ivf_fit_ml(corpus, vec_col=vec_col)
    else:
        centroids = ivf_fit(corpus, id_col=id_col, vec_col=vec_col)
    c_sq = (centroids * centroids).sum(axis=1)

    def probes(vecs):
        x = np.stack(vecs.to_numpy()).astype("float64")
        d = c_sq[None, :] - 2.0 * (x @ centroids.T)
        top = np.argsort(d, axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(top))

    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(pandas_udf(probes, "array<int>")(F.col(vec_col))).alias("cell"),
    )
    scored = (
        F.broadcast(probed)
        .join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Pinned-index IVF probe (fully oracle-checkable)
# ---------------------------------------------------------------------------
# The IVF FIT is floating-point-order dependent (numpy matmul / ml
# KMeans tree-reduce), so a query that fits in-line can only ever be
# rows-only checked. The LIFECYCLE design fixes that: fit ONCE over a
# bounded sample (ivf_fit/ivf_fit_ml), persist the K×DIM quantizer
# (ivf_index_save / resources/ivf_pinned.json), and serve every probe
# batch from the pinned index. Given pinned centroids the probe is
# EXACT arithmetic: cell distances use strictly-sequential dot
# products (np.cumsum — bit-identical to DuckDB's list_dot_product;
# verified on real embeddings), cc = ||c||² ships as a literal both
# engines consume verbatim, and assignment/probe ties break on cell
# id. The whole assignment→probe→exact-cosine-rescore→rank pipeline
# is therefore DuckDB-oracle-checkable bit-for-bit — the SRP
# precedent (srp_ann_sql) applied to IVF. At 100 TB this is also the
# honest serving shape: indexes are fitted offline and shipped, not
# refitted per query batch.

_PINNED_IVF_CACHE: dict = {}


def load_pinned_ivf(which: str = "lloyd"):
    """Load the committed pinned quantizer (resources/ivf_pinned.json)
    as ``(centroids K×DIM float64, cc K float64)``. Pure json+numpy —
    importable with no Spark session (the oracle SQL generator runs at
    module import)."""
    import json
    import os

    import numpy as np

    if which not in _PINNED_IVF_CACHE:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "ivf_pinned.json",
        )
        with open(path) as fh:
            data = json.load(fh)[which]
        _PINNED_IVF_CACHE[which] = (
            np.array(data["centroids"], dtype="float64"),
            np.array(data["cc"], dtype="float64"),
        )
    return _PINNED_IVF_CACHE[which]


def _seq_dots(X, C):
    """(N,D)×(K,D) → (N,K) dot products with STRICTLY SEQUENTIAL
    per-pair accumulation (cumsum), bit-matching DuckDB's
    list_dot_product — never BLAS, whose summation order is a kernel
    implementation detail."""
    import numpy as np

    out = np.empty((X.shape[0], C.shape[0]), dtype="float64")
    # sub-chunk to bound the (chunk, K, D) product tensor at ~8 MB
    step = max(1, (1 << 20) // (C.shape[0] * C.shape[1]))
    for s in range(0, X.shape[0], step):
        e = min(s + step, X.shape[0])
        out[s:e] = np.cumsum(
            X[s:e, None, :] * C[None, :, :], axis=2
        )[:, :, -1]
    return out


def pinned_cell_assign(vec_col: Column, which: str = "lloyd") -> Column:
    """Column: the pinned quantizer's cell id for an embedding —
    parity-exact (sequential-fold distances, cc literals, lowest-cell
    ties), so any query built on it shares the IVF oracle's cent-CTE
    assignment (``PINNED_CENT_CTE_SQL`` + ``PINNED_ASSIGN_RN_SQL``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    C, cc = load_pinned_ivf(which)

    def assign(vecs):
        X = np.stack(vecs.to_numpy()).astype("float64")
        d = cc[None, :] - 2.0 * _seq_dots(X, C)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return pandas_udf(assign, "int")(vec_col)


def pinned_cent_cte_sql(which: str = "lloyd") -> str:
    """The (cell, c, cc) VALUES rows shared by every pinned-quantizer
    oracle — centroids and their precomputed ||c||² as literals."""
    C, cc = load_pinned_ivf(which)
    return ",\n    ".join(
        f"({j}, CAST([{','.join(repr(float(x)) for x in C[j])}] AS DOUBLE[]), "
        f"{cc[j]!r})"
        for j in range(C.shape[0])
    )


def ivf_topk_pinned(
    corpus: DataFrame,
    queries: DataFrame,
    which: str = "lloyd",
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe search against the PINNED quantizer ``which`` — same
    plan shape as :func:`ivf_topk` (broadcast probes → cell equi-join
    → exact cosine → per-query rank window) but with parity-exact
    assignment arithmetic, so the result is fully DuckDB-oracled by
    :func:`ivf_pinned_sql`. Probing a corpus larger than the fit
    sample (e.g. sf0.1 with the sf0.01-fitted index) is the intended
    lifecycle, not a mismatch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.pandas.functions import pandas_udf

    C, cc = load_pinned_ivf(which)

    def probes(vecs):
        X = np.stack(vecs.to_numpy()).astype("float64")
        d = cc[None, :] - 2.0 * _seq_dots(X, C)
        top = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype("int32")))

    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        pinned_cell_assign(F.col(vec_col), which).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            pandas_udf(probes, "array<int>")(F.col(vec_col))
        ).alias("cell"),
    )
    scored = (
        F.broadcast(probed)
        .join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_pinned_sql(
    which: str = "lloyd",
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    n_queries: int = 10,
) -> str:
    """DuckDB twin of :func:`ivf_topk_pinned`: centroids and their
    precomputed ||c||² inline as literals (repr round-trips doubles
    exactly), distances via the same sequential list_dot_product,
    ties on cell id, exact cosine + rank identical to the Spark
    window."""
    rows = pinned_cent_cte_sql(which)
    cos = cosine_sql("p.qv", "a.cv")
    return f"""
WITH cent(cell, c, cc) AS (
  VALUES {rows}
),
dist AS (
  SELECT e.vec_id, e.embedding, t.cell,
         t.cc - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), t.c) AS d
  FROM embeddings e CROSS JOIN cent t
),
assign AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dist) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dist WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.neighbor_id, round({cos}, {COS_ROUND}) AS cos
  FROM probe p JOIN assign a USING (cell)
  WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


def hard_negatives_ann_pinned(
    corpus: DataFrame,
    queries: DataFrame,
    which: str = "lloyd",
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-filtered ANN hard-negative mining on the pinned-IVF probe
    kernel — the scale path mine_hard_negatives' doc promises (r6
    contract): candidates come from the quantizer's nprobe cells, and
    the LABEL-INEQUALITY filter is pushed into the candidate join
    itself (evaluated on the cell-join output before the cosine, so
    same-label candidates never reach the scoring stage). Corpus-side
    cost is one cell assignment + a broadcast probe join over ~nprobe/K
    of the corpus, vs the exact kernel's full scan; recall vs the
    exact top-k is property-bounded in tests/test_extensions.py.
    Deterministic (same rounding/tie discipline as ivf_topk_pinned)
    and fully DuckDB-oracled by :func:`hard_negatives_ann_sql`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.pandas.functions import pandas_udf

    C, cc = load_pinned_ivf(which)

    def probes(vecs):
        X = np.stack(vecs.to_numpy()).astype("float64")
        d = cc[None, :] - 2.0 * _seq_dots(X, C)
        top = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype("int32")))

    indexed = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("cv"),
        pinned_cell_assign(F.col(vec_col), which).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qv"),
        F.explode(
            pandas_udf(probes, "array<int>")(F.col(vec_col))
        ).alias("cell"),
    )
    scored = (
        F.broadcast(probed)
        .join(
            indexed,
            (probed["cell"] == indexed["cell"])
            & (probed["query_label"] != indexed["neg_label"]),
        )
        .withColumn(
            "cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "query_label", "negative_id", "cos", "rank")
    )


def hard_negatives_ann_sql(
    which: str = "lloyd",
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    n_queries: int = 10,
) -> str:
    """DuckDB twin of :func:`hard_negatives_ann_pinned` — the
    ivf_pinned_sql probe/assign CTEs carrying labels, with the label
    inequality in the candidate join."""
    rows = pinned_cent_cte_sql(which)
    cos = cosine_sql("p.qv", "a.cv")
    return f"""
WITH cent(cell, c, cc) AS (
  VALUES {rows}
),
dist AS (
  SELECT e.vec_id, e.label, e.embedding, t.cell,
         t.cc - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), t.c) AS d
  FROM embeddings e CROSS JOIN cent t
),
assign AS (
  SELECT vec_id AS negative_id, label AS neg_label, embedding AS cv, cell
  FROM (
    SELECT vec_id, label, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dist) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv, cell
  FROM (
    SELECT vec_id, label, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dist WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, p.query_label, a.negative_id,
         round({cos}, {COS_ROUND}) AS cos
  FROM probe p JOIN assign a USING (cell)
  WHERE a.neg_label <> p.query_label
)
SELECT query_id, query_label, negative_id, cos,
       CAST(rank AS BIGINT) AS rank FROM (
  SELECT query_id, query_label, negative_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, negative_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# SemDeDup sub-bucket refinement (pinned quantizer + SRP split bits)
# ---------------------------------------------------------------------------
# SemDeDup's published recipe sizes the quantizer with the corpus (K
# grows with N so cell occupancy — and the within-cell quadratic pair
# stage — stays bounded). A PINNED quantizer can't grow K, so beyond
# its design occupancy each cell is SPLIT by deterministic SRP sign
# bits instead: sub-bucket = (cell, b sign bits), b derived from the
# corpus count exactly like auto_planes_per_table. Splitting is
# recall-monotone (a refined pair set is a subset of the unrefined
# one) and candidate volume returns to ~N·occupancy. The planes live
# at an index offset so they are independent of the SRP-ANN/near-dup
# tables.
SEMDEDUP_TARGET_OCC = 32
SEMDEDUP_PLANE_BASE = 100
SEMDEDUP_MAX_BITS = 16


def semdedup_sub_bits(n_rows: int | None) -> int:
    """Refinement bits for a corpus of ``n_rows``: 0 while the pinned
    quantizer's K·target_occupancy covers it (the driver fixture —
    keeping the historically-oracled semantics), +1 per doubling
    beyond."""
    import math

    k = load_pinned_ivf("lloyd")[0].shape[0]
    if not n_rows or n_rows <= k * SEMDEDUP_TARGET_OCC:
        return 0
    return min(
        SEMDEDUP_MAX_BITS, math.ceil(math.log2(n_rows / (k * SEMDEDUP_TARGET_OCC)))
    )


def semdedup_subbucket(vec_col: Column, bits: int) -> Column:
    """Packed SRP sign bits (offset plane family) as an int column;
    constant 0 when ``bits == 0`` so the plan stays UDF-free on the
    driver fixture."""
    if bits == 0:
        return F.lit(0)
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _sub(vecs):
        planes = np.array(
            [_plane(SEMDEDUP_PLANE_BASE + j) for j in range(bits)],
            dtype="float64",
        ).T
        x = np.stack(vecs.to_numpy()).astype("float64")
        b = (x @ planes) > 0
        weights = np.array([1 << j for j in range(bits)], dtype="int64")
        return pd.Series((b * weights).sum(axis=1))

    return pandas_udf(_sub, "long")(vec_col)


def semdedup_sub_sql(bits: int) -> str:
    """DuckDB twin of :func:`semdedup_subbucket` over a DOUBLE[] column
    named ``v`` — plane literals inline, same packing."""
    if bits == 0:
        return "0"
    terms = []
    for j in range(bits):
        lit = "[" + ", ".join(repr(x) for x in _plane(SEMDEDUP_PLANE_BASE + j)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
