#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

The session comes from spark-submit's context (master/conf are CLI
concerns); only job-level SQL conf that must hold regardless of deploy
mode is applied here.

Usage:
  spark-submit --py-files ocr_spark.zip scripts/extract_main.py \
      --pages <pages.parquet> --out <warehouse_dir> \
      [--buckets 64] [--salt 8] [--group-size N]

--group-size defaults to run_extract_job's group_size=None: one group
over a pages path that can be listed; a path that cannot (an object-store
URI) keeps the buckets in 4 groups, 16 buckets each at the default 64.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--group-size", type=int, default=None)
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("ocr_spark_extract")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
             .config("spark.sql.files.maxPartitionBytes", "32m")
             .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.plans.extract_job import run_extract_job

    st = run_extract_job(spark, args.pages, args.out,
                         n_buckets=args.buckets, salt_n=args.salt,
                         group_size=args.group_size)
    n = spark.read.parquet(f"{args.out}/results").count()
    print(json.dumps({"completed": st["completed"],
                      "buckets_done": len(st["buckets_done"]),
                      "result_rows": n}))
    spark.stop()


if __name__ == "__main__":
    main()
