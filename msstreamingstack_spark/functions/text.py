"""Deterministic cross-engine string hashing.

Both engines agree on ``md5(utf8)``; a 48-bit prefix of the hex digest
parsed as an integer gives a cross-engine 'hash to int' primitive
(Spark ``conv(hex,16,10)``, DuckDB ``'0x'||hex`` cast). The SQL twin
lets a DuckDB oracle reproduce the Spark expression exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def hash48(col: Column) -> Column:
    """Deterministic cross-engine 48-bit integer hash of a string."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast("long")


def hash48_sql(col_sql: str) -> str:
    return f"TRY_CAST('0x' || substr(md5({col_sql}), 1, 12) AS BIGINT)"
