"""The extract job's lineage and metrics rows (``sidecars_of``: one
(bucket, salt) aggregate, folded per bucket on the driver) equal the
two-aggregate oracle's (``tests/oracles/sidecars.py``): integer columns
and ``avg_text_len`` exactly, ``avg_link_density`` to 1e-12 relative
(a float sum whose order neither spelling fixes), ``wall_ms`` left out
(extraction timings differ between runs). Written tables keep the
oracle's parquet schema, for empty results too."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oracles.sidecars import lineage_of, metrics_of
from ocr_spark.plans.extract_job import extract_pages, sidecars_of
from ocr_spark.sources.io import TableIO
from ocr_spark.synth import make_pages

N_BUCKETS = 8
SALT_N = 16

LINEAGE_KEY = ["bucket", "salt"]
METRICS_KEY = ["bucket"]
INEXACT = {"wall_ms": None, "avg_link_density": 1e-12}


def _by_key(df, key):
    return {tuple(r[k] for k in key): r.asDict() for r in df.collect()}


def _assert_rows_equal(got, want, key):
    got, want = _by_key(got, key), _by_key(want, key)
    assert got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        assert g.keys() == w.keys(), k
        for col, wv in w.items():
            if col not in INEXACT:
                assert g[col] == wv, (k, col, g[col], wv)
            elif INEXACT[col] is not None and wv is not None:
                assert math.isclose(g[col], wv, rel_tol=INEXACT[col]), \
                    (k, col, g[col], wv)
            else:
                assert (g[col] is None) == (wv is None), (k, col)


def _assert_written_alike(spark, tmp_path, results):
    new = TableIO(spark, str(tmp_path / "new"))
    old = TableIO(spark, str(tmp_path / "old"))
    lineage, metrics = sidecars_of(results, 3, "snap")
    new.append(lineage, "lineage")
    new.append(metrics, "metrics")
    old.append(lineage_of(results, 3, "snap"), "lineage")
    old.append(metrics_of(results, 3, "snap"), "metrics")
    for table, key in (("lineage", LINEAGE_KEY), ("metrics", METRICS_KEY)):
        assert new.read(table).schema == old.read(table).schema, table
        _assert_rows_equal(new.read(table), old.read(table), key)
    return new


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    """Extracted pages with a salted hot host, PDFs, empty documents
    and NULL html (NULL input_bytes)."""
    pages = make_pages(160, seed=5)
    pages += [{**p, "url": p["url"] + "-null", "html": None}
              for p in pages[:6]]
    path = str(tmp_path_factory.mktemp("sidecars") / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(pages), path)
    res = extract_pages(spark.read.parquet(path), N_BUCKETS, SALT_N).cache()
    yield res
    res.unpersist()


def test_fixture_covers_salt_pdf_empty_and_null(results):
    row = results.agg(
        F.max("salt").alias("salt"),
        F.sum((F.col("content_kind") == "pdf").cast("int")).alias("pdf"),
        F.sum((F.length("extracted_text") == 0).cast("int")).alias("empty"),
        F.sum(F.col("input_bytes").isNull().cast("int")).alias("nul"),
    ).collect()[0]
    assert row["salt"] > 0 and row["pdf"] > 0
    assert row["empty"] > 0 and row["nul"] == 6


def test_sidecars_match_oracle(spark, results, tmp_path):
    lineage, metrics = sidecars_of(results, 2, "run:7")
    _assert_rows_equal(lineage, lineage_of(results, 2, "run:7"), LINEAGE_KEY)
    _assert_rows_equal(metrics, metrics_of(results, 2, "run:7"), METRICS_KEY)
    new = _assert_written_alike(spark, tmp_path, results)
    # one file per table per append
    for table in ("lineage", "metrics"):
        files = [f for f in os.listdir(new.path(table))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (table, files)


def test_sidecars_null_cells_match_oracle(spark, tmp_path):
    """Cells whose every input_bytes, link_density or text is NULL: SQL
    SUM and AVG over them are NULL, and the fold keeps that."""
    res = spark.createDataFrame([
        (0, 0, None, "empty", None, 5, None, None),
        (0, 0, None, "empty", None, 7, None, None),
        (0, 1, "ab", "html", 10, 3, 0.25, 1),
        (1, 0, "", "pdf", 4, 2, 0.5, 0),
        (1, 3, "xyz", "html", None, 9, None, 2),
        (2, 0, None, "empty", None, 1, None, None),
    ], "bucket INT, salt INT, extracted_text STRING, content_kind STRING, "
       "input_bytes INT, extract_us LONG, link_density DOUBLE, "
       "recoveries INT")
    _assert_written_alike(spark, tmp_path, res)


def test_sidecars_of_empty_results_keep_schema(spark, results, tmp_path):
    _assert_written_alike(spark, tmp_path, results.limit(0))
