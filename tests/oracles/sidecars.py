"""Equality oracle for the extract job's lineage and metrics tables.

Two independent Spark aggregates over the results frame, one per table:
``ocr_spark.plans.extract_job.sidecars_of`` (one (bucket, salt)
aggregate, folded per bucket on the driver) must produce the same rows
and, once written, the same parquet schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_of(results: DataFrame, attempt: int, snapshot_id: str) -> DataFrame:
    """Per-(bucket, salt) lineage rows (FIXTURES.md §3)."""
    return results.groupBy("bucket", "salt").agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(F.when(F.length("extracted_text") > 0, 1).otherwise(0))
        .alias("output_rows"),
        F.sum("input_bytes").alias("input_bytes"),
        (F.sum("extract_us") / F.lit(1000.0)).alias("wall_ms"),
    ).withColumn("attempt", F.lit(attempt)) \
     .withColumn("snapshot_id", F.lit(snapshot_id))


def metrics_of(results: DataFrame, attempt: int,
               snapshot_id: str) -> DataFrame:
    """Per-bucket extraction metrics."""
    return results.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0))
        .alias("empty_docs"),
        F.sum(F.when(F.col("content_kind") == "pdf", 1).otherwise(0))
        .alias("pdf_docs"),
        F.avg(F.length("extracted_text")).alias("avg_text_len"),
        F.avg("link_density").alias("avg_link_density"),
        F.sum("recoveries").alias("tokenizer_recoveries"),
    ).withColumn("attempt", F.lit(attempt)) \
     .withColumn("snapshot_id", F.lit(snapshot_id))
