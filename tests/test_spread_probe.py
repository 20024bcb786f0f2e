"""The small-input check runs no Spark job.

``spread_small_scan`` (and ``extract_pages``, which calls it) decides
whether to pre-spread a tiny input by reading split counts off the
leaves of the input's physical plan. Sizing through
``df.rdd.getNumPartitions()`` instead runs every shuffle stage below
the input under AQE (a keep-latest window, a dedup anti-join), and the
caller's action then runs them again."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.operators.util import spread_small_scan
from ocr_spark.synth import write_corpus


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    pages, _ = write_corpus(str(tmp_path_factory.mktemp("spread")), 24,
                            seed=5)
    return pages


def _bare(spark, pages, tmp):
    return spark.read.parquet(pages)


def _window(spark, pages, tmp):
    from ocr_spark.plans.ingest_job import keep_latest_within_drop
    return keep_latest_within_drop(spark.read.parquet(pages))


def _dedup(spark, pages, tmp):
    from ocr_spark.operators.dedup import dedup_incremental_vs_hashes
    from ocr_spark.plans.ingest_job import _content_key
    batch = spark.read.parquet(pages)
    hist = os.path.join(tmp, "hist")
    batch.limit(5).select(_content_key().alias("_h")).write.parquet(hist)
    return dedup_incremental_vs_hashes(batch, spark.read.parquet(hist),
                                       _content_key())


def _local(spark, pages, tmp):
    return spark.createDataFrame(
        [("https://a.example.com/", b"<p>a</p>")], "url string, html binary")


def _binary_dir(spark, pages, tmp):
    from ocr_spark.sources.binary_source import pages_from_binary_dir
    d = os.path.join(tmp, "files")
    os.makedirs(d)
    for i in range(3):
        with open(os.path.join(d, f"p{i}.html"), "wb") as f:
            f.write(f"<html><body><p>page {i}</p></body></html>".encode())
    return pages_from_binary_dir(spark, d)


@pytest.mark.parametrize("build", [_bare, _window, _dedup, _local,
                                   _binary_dir],
                         ids=["bare_scan", "keep_latest_window",
                              "dedup_incremental", "create_dataframe",
                              "binary_dir"])
def test_spread_probe_runs_no_job(spark, jobs_in_group, pages_path, tmp_path,
                                  build):
    df = build(spark, pages_path, str(tmp_path))
    group = f"spread-probe-{build.__name__}-{os.getpid()}"
    n = jobs_in_group(group, lambda: spread_small_scan(df))
    assert n == 0


def test_scan_splits_matches_bare_scan_partitions(spark, pages_path):
    from ocr_spark.operators.util import scan_splits
    df = spark.read.parquet(pages_path)
    assert scan_splits(df) == df.rdd.getNumPartitions()
    # a window over the scan keeps the scan's count (the rdd of the
    # window would report AQE's coalesced post-shuffle count instead)
    w = df.withColumn("_n", F.count("url").over(Window.partitionBy("url")))
    assert scan_splits(w) == scan_splits(df)


def test_scan_splits_refuses_cached_leaf(spark, pages_path):
    from ocr_spark.operators.util import scan_splits
    df = spark.read.parquet(pages_path).cache()
    try:
        assert scan_splits(df) is None
        # not small, so no spread: the plan is returned unchanged
        assert spread_small_scan(df) is df
    finally:
        df.unpersist()


def test_extract_pages_plan_runs_no_job(spark, jobs_in_group, pages_path):
    from ocr_spark.plans.extract_job import extract_pages
    from ocr_spark.plans.ingest_job import keep_latest_within_drop
    src = keep_latest_within_drop(spark.read.parquet(pages_path))
    n = jobs_in_group(f"extract-pages-plan-{os.getpid()}",
                      lambda: extract_pages(src, n_buckets=4))
    assert n == 0
