"""Portable 60-bit hash expressions.

Production bucketing uses xxhash64 (ocr_spark.functions.bucketing); the
dedup/sketch operators here use an md5-derived 60-bit hash instead because
it is bit-identical across engines (Spark `conv(substring(md5(x),1,15),
16,10)` == DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`), which lets the
driver's DuckDB oracle verify sketch VALUES, not just row counts. Both are
JVM-side expressions; swap in xxhash64 for production speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD_P = 1_000_000_007


def md5long(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative bigint (< 2^60)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5long(expr: str) -> str:
    """DuckDB rendering of md5long(expr)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"

