"""Exact vector math over embedding columns (``array<float>``).

Dot, norm and cosine are built-in higher-order functions (``zip_with``
+ ``aggregate``: a JVM-side sequential fold, so the DuckDB oracle's
``list_dot_product`` over DOUBLE[] reproduces the arithmetic); callers
round cosines to ``COS_ROUND`` decimals before ranking to keep
cross-engine ordering stable. ``quantize_int8_stats`` is the per-row
int8 min-max quantizer with its reconstruction error. Every kernel here
is exact and SQL-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

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
