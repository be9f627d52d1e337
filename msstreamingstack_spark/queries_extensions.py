"""Extension queries over the driver's ``embeddings`` table: exact
embedding statistics, int8 quantization, and hard-negative and
label-outlier mining. Every query here is exact and SQL-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from msstreamingstack_spark.operators.similarity import (
    COS_ROUND,
    cosine,
    cosine_sql,
    norm,
    quantize_int8_sql,
    quantize_int8_stats,
)
from msstreamingstack_spark.queries import register
from msstreamingstack_spark.sources.tables import load_table, spread

N_QUERY_VECS = 10


# ---------------------------------------------------------------------------
# Embedding statistics and quantization
# ---------------------------------------------------------------------------
@register(
    "embedding_norm_stats",
    """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
       CAST(SUM(CAST(nrm AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS avg_norm
FROM n GROUP BY label
""",
    tags=("extension", "similarity", "agg"),
    doc="Per-label L2-norm statistics over the embedding column — "
    "vector math (zip_with/aggregate) feeding a grouped aggregate with "
    "the decimal-exact mean pattern.",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    nrm = norm(F.col("embedding")).alias("nrm")
    return (
        emb.select("label", nrm)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (
                F.sum(F.col("nrm").cast("decimal(25,12)")).cast("double")
                / F.count("*")
            ).alias("avg_norm"),
        )
    )


@register(
    "embedding_quantize_int8",
    quantize_int8_sql(),
    tags=("extension", "embedding", "quantization"),
    doc="Per-vector int8 min-max quantization with reconstruction "
    "error (max |err|, MSE). Scale rationale: int8 codes are 4× "
    "smaller than float32, so a scan over a 100 TB embedding corpus "
    "can run on codes held in memory. Pure per-row array expressions: "
    "narrow, no shuffle, codegen inside the scan stage.",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_int8_stats(spread(load_table(spark, sf_dir, "embeddings")))


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------
def _hard_negatives_sql(k: int, n_queries: int) -> str:
    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS negative_id,
         round({cos}, {COS_ROUND}) AS cos
  FROM embeddings q JOIN embeddings c
    ON q.label <> c.label
  WHERE q.vec_id < {n_queries}
)
SELECT query_id, query_label, negative_id, cos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, negative_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


@register(
    "mine_hard_negatives",
    _hard_negatives_sql(5, N_QUERY_VECS),
    tags=("extension", "similarity", "pipeline", "contrastive"),
    doc="Hard-negative mining for contrastive training (the DPR/SimCSE "
    "data-prep step): for each query vector, the top-5 most-similar "
    "corpus vectors carrying a DIFFERENT label — the negatives that "
    "actually teach a metric model, vs random negatives that are "
    "trivially far. Exact kernel here (query side broadcast, label "
    "inequality as the join predicate, rounded-cosine rank window). "
    "Deterministic ties on negative_id; fully DuckDB-oracled.",
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("cv"),
    )
    scored = (
        q.join(c, F.col("query_label") != F.col("neg_label"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
        .select("query_id", "query_label", "negative_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "query_label", "negative_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Label-outlier mining — per-label centroid, then the vectors LEAST
# aligned with their own label's centroid: the standard first-pass
# mislabel / noisy-annotation detector over an embedded dataset.
# ---------------------------------------------------------------------------
LABEL_OUTLIER_K = 5


@register(
    "embedding_label_outliers",
    f"""
WITH pe AS (
  SELECT label, vec_id,
         unnest(list_transform(range(len(embedding)),
                i -> struct_pack(pos := i,
                     val := CAST(embedding[i + 1] AS DOUBLE)))) AS u
  FROM embeddings
),
pe2 AS (SELECT label, vec_id, u.pos AS pos, u.val AS val FROM pe),
cd AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) AS s,
         COUNT(*) AS cnt
  FROM pe2 GROUP BY 1, 2
),
cent AS (
  SELECT label, list(s / cnt ORDER BY pos) AS centroid FROM cd
  GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         round({cosine_sql("e.embedding", "c.centroid")}, {COS_ROUND})
           AS cos_centroid
  FROM embeddings e JOIN cent c ON e.label = c.label
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cos_centroid, vec_id) AS rn
  FROM scored
)
SELECT label, vec_id, cos_centroid, rn FROM r WHERE rn <= {LABEL_OUTLIER_K}
""",
    tags=("extension", "embedding", "quality", "outlier"),
    doc="Mislabel mining: per label an exact centroid (per-dimension "
    "DECIMAL-summed mean over the posexploded vectors — float sums "
    "are order-dependent, decimal sums are not), then every vector's "
    f"cosine to its OWN label centroid (the registry's established "
    "sequential-fold dot + round-9 discipline), bottom-"
    f"{LABEL_OUTLIER_K} per label = the annotation-noise review "
    "queue. This is the cheap first pass every labeled-embedding "
    "pipeline runs before training a classifier head: a vector "
    "anti-aligned with its label's mass is either mislabeled or an "
    "ambiguous example worth auditing. 100 TB: the posexplode fan-"
    "out is x-dims but collapses map-side into the (label, dim) "
    "centroid frame — labels x dims rows total, broadcast back; the "
    "scoring pass is embarrassingly parallel with NO shuffle beyond "
    "the bounded per-label bottom-K rank on the (cos, vec_id) total "
    "order. Extension "
    "(SURVEY.md SS2.5: no similarity surface in the reference).",
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    )
    cd = pe.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("double").cast("decimal(38,12)"))
        .cast("double")
        .alias("s"),
        F.count("*").alias("cnt"),
    )
    cent = (
        cd.select(
            "label",
            F.struct(
                F.col("pos"), (F.col("s") / F.col("cnt")).alias("m")
            ).alias("pm"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pm")),
                lambda x: x.getField("m"),
            ).alias("centroid")
        )
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.round(
            cosine(F.col("embedding"), F.col("centroid")), COS_ROUND
        ).alias("cos_centroid"),
    )
    wL = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(wL))
        .filter(F.col("rn") <= LABEL_OUTLIER_K)
        .select("label", "vec_id", "cos_centroid", "rn")
    )
