"""Batch table loaders over the driver's parquet testdata.

Maps the reference's sources (SURVEY.md §2.1): the Kafka JSON stream
(S1) and sample-file schema source (S2) are stood in for by the
``events`` parquet table per FIXTURES.md §F4; the remaining tables feed
the relational/extension operators. Parquet is self-describing columnar
— Catalyst gets predicate pushdown and column pruning for free, which
is the 100 TB-minded reason everything here stays on ``spark.read``
with no driver-side materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.schemas import PROPS_SCHEMA, TABLE_NAMES
from msstreamingstack_spark.session import apply_runtime_confs

NANOS_PER_SEC = 1_000_000_000


def sf_dir_default() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table.

    ``events.ts`` is parquet TIMESTAMP(MICROS) in the driver testdata
    (measured from the footer — round 1 assumed NANOS, which made the
    ``nanosAsLong`` conf doubly dead: Spark 4 ignores it AND it only
    ever applied to nanos). It surfaces as ``timestamp_ntz``;
    ``events_with_time`` dispatches on the actual read-back dtype
    rather than trusting any conf or prior documentation.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    apply_runtime_confs(spark)  # UTC tz / Arrow / AQE on harness sessions
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Widen tiny scans so compute-bound per-row stages (shingling,
    hashing, dot products) use every core.

    At 100 TB the parquet scan already yields thousands of splits and
    this is a no-op — the guard keeps us from ever *reducing*
    parallelism or adding a shuffle to a big scan. Locally, a
    few-hundred-KB file arrives as ONE split and would otherwise pin
    the whole pipeline to a single core.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def events_with_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` plus ``ts_sec`` (epoch seconds, long).

    All event-time arithmetic in the engine runs on integer epoch
    seconds: exact, timezone-free, and bit-identical to the DuckDB
    oracle's ``epoch_ns(ts)//1e9``. Mirrors the reference treating
    ``message_date`` as epoch seconds (StructuredStreaming.scala:186).

    Type-dispatches on the dtype ``ts`` actually read back as:
    parquet timestamp columns (the driver testdata's TIMESTAMP(MICROS)
    surfaces as ``timestamp_ntz``) go through ``unix_timestamp``,
    which under the UTC-pinned session equals DuckDB's
    ``epoch_ns//1e9`` exactly; ``bigint`` columns (the paced
    generator's int64 epoch-nanos) divide by 1e9. Both encodings are
    pinned equal in tests/test_semantics.py.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        ts_sec = (F.col("ts") / NANOS_PER_SEC).cast("long")
    elif ts_type.startswith("timestamp"):
        # timestamp or timestamp_ntz; session tz is pinned UTC so both
        # floor to the same integer epoch seconds as the oracle.
        ts_sec = F.unix_timestamp(F.col("ts"))
    else:  # pragma: no cover - unexpected testdata schema
        raise TypeError(f"events.ts has unsupported dtype {ts_type!r}")
    return ev.withColumn("ts_sec", ts_sec)


def events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream-shaped view of ``events`` (FIXTURES.md §F4 mapping).

    Exercises the reference's parse/derive stage
    (StructuredStreaming.scala:87-120): JSON props parsing (P2, the
    ``from_json`` path), struct expansion (P3), and seeds the columns
    the derivation library (functions/expressions.py) consumes.
    """
    ev = events_with_time(spark, sf_dir)
    return (
        ev.withColumn("props_parsed", F.from_json(F.col("props"), PROPS_SCHEMA))
        .withColumn("prop_k", F.col("props_parsed.k"))
        .drop("props_parsed")
    )
