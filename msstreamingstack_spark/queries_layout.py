"""Layout-family queries: z-order clustering computation.

The write-side demo (range-clustered files, per-file dim-span
compaction vs an unclustered layout) lives in tests/test_zorder.py;
this module registers the oracle-checkable computational core — the
Morton encode + cluster assignment — so cross-engine bit parity of
the clustering math is part of the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.operators.zorder import quantize_sql, zvalue_sql
from msstreamingstack_spark.queries import _dec_sum, _dec_sum_sql, register
from msstreamingstack_spark.sources.tables import load_table

# Dimension grid: SF-independent so the same query is valid at every
# scale factor. custkey wraps onto the grid (modulo — exact at the
# harness SFs where custkey < 65536, merely coarser beyond); price
# uses fixed clamped bounds covering TPC-H's o_totalprice range.
_XQ = "(o_custkey % 65536)"
_YQ = quantize_sql("o_totalprice", 0.0, 600000.0)
_Z = zvalue_sql(_XQ, _YQ)
# top 10 bits of the 32-bit z -> up to 1024 range-contiguous clusters
_CLUSTER = f"({_Z} >> 22)"

_ZORDER_SQL = f"""
WITH z AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         {_XQ} AS xq, {_YQ} AS yq, {_Z} AS zval, {_CLUSTER} AS cluster_id
  FROM orders
)
SELECT cluster_id,
       COUNT(*) AS n_orders,
       MIN(zval) AS z_lo, MAX(zval) AS z_hi,
       MIN(xq) AS cust_lo, MAX(xq) AS cust_hi,
       MIN(yq) AS price_lo, MAX(yq) AS price_hi,
       {_dec_sum_sql('o_totalprice', 'sum_price')}
FROM z
GROUP BY cluster_id
"""


@register(
    "zorder_cluster_stats",
    _ZORDER_SQL,
    tags=("layout", "zorder", "extension"),
    doc="Morton (z-order) encode of (custkey, price-grid) + top-bits "
    "cluster assignment + per-cluster extent stats. The per-cluster "
    "(cust, price) boxes are compact in BOTH dims — the property that "
    "lets parquet file stats prune 2-D box predicates at 100 TB. "
    "Pure bit arithmetic (&,|,<<) inside whole-stage codegen; one "
    "shuffle on cluster_id with map-side partial agg.",
)
def q_zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    z = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(_XQ).alias("xq"),
        F.expr(_YQ).alias("yq"),
        F.expr(_Z).alias("zval"),
        F.expr(_CLUSTER).alias("cluster_id"),
    )
    return z.groupBy("cluster_id").agg(
        F.count("*").alias("n_orders"),
        F.min("zval").alias("z_lo"),
        F.max("zval").alias("z_hi"),
        F.min("xq").alias("cust_lo"),
        F.max("xq").alias("cust_hi"),
        F.min("yq").alias("price_lo"),
        F.max("yq").alias("price_hi"),
        _dec_sum(F.col("o_totalprice"), "sum_price"),
    )
