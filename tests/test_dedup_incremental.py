"""Incremental dedup picks its path from the history's planned size.

``dedup_incremental_vs_hashes`` broadcasts a history whose optimized
plan fits under ``spark.sql.autoBroadcastJoinThreshold`` into one
anti-join and keeps the Bloom prefilter for larger histories (forced
here with a threshold of -1). Both paths must return the plain
anti-join's rows, NULL keys included."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import dedup_incremental_vs_hashes
from ocr_spark.operators.hashing import md5long

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture
def threshold(spark):
    """``set(value)``: set the broadcast threshold for this test only."""
    old = spark.conf.get(THRESHOLD)
    yield lambda v: spark.conf.set(THRESHOLD, v)
    spark.conf.set(THRESHOLD, old)


def _write(spark, root, name, rows, schema):
    path = os.path.join(root, name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return path


def _inputs(spark, root, batch, history):
    """Parquet-backed (batch, fingerprint history) frames: the batch is
    (id, text) rows, the history the md5long of each history text."""
    bp = _write(spark, root, "batch", batch, "id string, text string")
    hp = _write(spark, root, "hist_text", [(t,) for t in history],
                "text string")
    fp = os.path.join(root, "hist")
    (spark.read.parquet(hp).select(md5long(F.col("text")).alias("_h"))
     .coalesce(1).write.parquet(fp))
    return spark.read.parquet(bp), spark.read.parquet(fp)


def _dedup(batch, hist):
    return dedup_incremental_vs_hashes(batch, hist, md5long(F.col("text")))


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# (batch, history texts, ids the plain anti-join keeps)
CASES = {
    "empty_history": (
        [("a", "x"), ("b", "y")], [], ["a", "b"]),
    "null_in_batch": (
        [("a", "x"), ("b", None), ("c", "y"), ("d", "")], ["x"],
        ["b", "c", "d"]),
    "null_in_history": (
        [("a", "x"), ("c", "y"), ("d", "")], ["x", None], ["c", "d"]),
    "dup_within_batch": (
        [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y"), ("e", "z")],
        ["z"], ["a", "b", "c", "d"]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_bloom_and_broadcast_paths_return_same_rows(spark, tmp_path,
                                                   threshold, case):
    batch_rows, history, want = CASES[case]
    batch, hist = _inputs(spark, str(tmp_path), batch_rows, history)
    broadcast = _dedup(batch, hist)
    plan = _plan(broadcast)
    assert any("BroadcastHashJoin" in line and "LeftAnti" in line
               for line in plan.splitlines()), plan
    assert "ArrowEvalPython" not in plan, plan
    assert _ids(broadcast) == want
    threshold("-1")
    bloom = _dedup(batch, hist)
    assert "ArrowEvalPython" in _plan(bloom)
    assert _ids(bloom) == want


@pytest.mark.parametrize("case", ["null_in_batch", "null_in_history"])
def test_bloom_path_keeps_exact_rows_with_null_hashes(spark, tmp_path,
                                                      threshold, case):
    """A NULL in an Arrow batch turns the int64 hash column into
    float64, which rounds the low bits off every other 60-bit hash in
    that batch; neither the mask build nor the membership probe may see
    one, or a history duplicate probes the wrong bits and survives."""
    threshold("-1")
    batch_rows, history, want = CASES[case]
    batch, hist = _inputs(spark, str(tmp_path), batch_rows, history)
    assert _ids(_dedup(batch, hist)) == want


def test_small_history_plan_runs_no_job(spark, jobs_in_group, tmp_path):
    """Building the dedup over a broadcastable history collects no Bloom
    mask: the plan is sized from its statistics, not by running it."""
    batch, hist = _inputs(spark, str(tmp_path),
                          [("a", "x"), ("b", "y")], ["x"])
    n = jobs_in_group(f"dedup-plan-{os.getpid()}",
                      lambda: _dedup(batch, hist))
    assert n == 0
