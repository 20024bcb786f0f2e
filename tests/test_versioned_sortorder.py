"""WRITE SORT ORDER as an inherited VersionedTable property — the
Iceberg ``ALTER TABLE … WRITE ORDERED BY`` analog.

Contract under test (io.py):
  * commit(sort_order=[cols]) lays rows out task-locally sorted, so
    every data FILE is internally clustered on the order columns;
  * the property is INHERITED: plain later commits, and the internal
    delete_where copy-on-write rewrite, keep writing sorted files
    without restating it;
  * rewrite_files() with no sort_by defaults its range distribution to
    the property — a bare compaction keeps file-statistics skipping
    alive instead of silently spanning every file across the whole
    value range (the footgun the property exists to close);
  * [] switches the property off from that snapshot on; a misspelled
    column raises; expire_snapshots compaction carries the property
    onto its compacted base.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
import pytest

from ocr_spark.sources.io import VersionedTable


def _shuffled(spark, part, n=300, seed=3, tasks=1):
    rng = random.Random(seed + part)
    ks = list(range(n))
    rng.shuffle(ks)
    df = spark.createDataFrame(
        [(part, k, f"u{k:05d}") for k in ks], ["p", "k", "url"])
    return df.repartition(tasks) if tasks > 1 else df.coalesce(1)


def _file_cols(root, rel, col):
    """[per-file list of `col` values] for every parquet file of one
    partition dir, in file order."""
    d = os.path.join(root, "data", rel)
    out = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            out.append(pq.read_table(
                os.path.join(d, f), columns=[col])[col].to_pylist())
    return out


def _assert_files_sorted(root, rel, col="k"):
    per_file = _file_cols(root, rel, col)
    assert per_file, f"no parquet files under {rel}"
    for vals in per_file:
        assert vals == sorted(vals), "file not internally sorted"


def test_commit_sorts_files_and_inherits(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_shuffled(spark, 1), "p",
              sort_order=["k"], stats_cols=["k"])
    assert vt.sort_order() == ["k"]
    _assert_files_sorted(vt.root, vt.snapshots()[-1]["parts"]["1"])

    # plain commit inherits the property — no restating
    vt.commit(_shuffled(spark, 2), "p")
    snaps = vt.snapshots()
    assert snaps[-1]["sort_order"] == ["k"]
    _assert_files_sorted(vt.root, snaps[-1]["parts"]["2"])
    # live view rows untouched (sorting is layout, not semantics)
    assert vt.read().count() == 600


def test_delete_where_rewrite_keeps_clustering(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_shuffled(spark, 1), "p",
              sort_order=["k"], stats_cols=["k"])
    sid, stats = vt.delete_where("k >= 200")
    assert stats["rows_deleted"] == 100
    _assert_files_sorted(vt.root, vt.snapshots()[-1]["parts"]["1"])
    assert sorted(r.k for r in vt.read().collect()) == list(range(200))


def test_rewrite_files_defaults_to_sort_order(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    # many small files, rows scattered across them (hash layout)
    df = _shuffled(spark, 1, n=4000, tasks=8).repartition(8)
    vt.commit(df, "p", sort_order=["k"], stats_cols=["k"])
    d = os.path.join(vt.root, "data", vt.snapshots()[-1]["parts"]["1"])
    sz = sum(os.path.getsize(os.path.join(d, f))
             for f in os.listdir(d) if f.endswith(".parquet"))
    # target ~4 output files so the range distribution is observable
    sid, stats = vt.rewrite_files(target_bytes=max(1, sz // 4))
    assert sid is not None and stats["files_after"] < stats["files_before"]
    rel = vt.snapshots()[-1]["parts"]["1"]
    per_file = _file_cols(vt.root, rel, "k")
    assert len(per_file) >= 2
    # files are RANGE-disjoint (repartitionByRange on the property),
    # not merely internally sorted
    spans = sorted((min(v), max(v)) for v in per_file)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo
    # and a narrow range scan skips most files again
    plan = vt.plan_files(where=[("k", "<", 100)])
    assert plan["files_skipped"] >= plan["files_total"] - 2


def test_disable_and_validation(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_shuffled(spark, 1), "p", sort_order=["k"])
    with pytest.raises(ValueError, match="sort_order"):
        vt.commit(_shuffled(spark, 2), "p", sort_order=["nope"])
    # [] switches it off: the next commit preserves input row order
    vt.commit(_shuffled(spark, 2), "p", sort_order=[])
    assert vt.sort_order() == []
    rng = random.Random(3 + 3)
    ks = list(range(300))
    rng.shuffle(ks)
    vt.commit(_shuffled(spark, 3), "p")
    per_file = _file_cols(vt.root, vt.snapshots()[-1]["parts"]["3"], "k")
    assert [v for vals in per_file for v in vals] == ks


def test_production_sinks_declare_url_sort_order(spark, tmp_path):
    """The versioned extract sink and the ingest results table declare
    sort_order=["url"] by default: every data file is internally
    url-clustered, so the pushed url predicate skips row groups inside
    bloom-surviving files, and maintenance keeps the clustering."""
    from ocr_spark.plans.extract_job import run_extract_job
    from ocr_spark.synth import write_corpus

    pages, _ = write_corpus(str(tmp_path / "c"), 60, seed=5)
    run_extract_job(spark, pages, str(tmp_path / "o"), n_buckets=4,
                    group_size=4, versioned=True)
    vt = VersionedTable(spark, str(tmp_path / "o" / "results"))
    assert vt.sort_order() == ["url"]
    parts = vt.snapshots()[-1]["parts"]
    rel = next(r for r in parts.values() if r is not None)
    _assert_files_sorted(vt.root, rel, col="url")


def test_expiry_carries_sort_order(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_shuffled(spark, 1), "p", sort_order=["k"])
    # a metadata-only entry records no property of its own
    vt.delete_where([("k", "==", 5)], mode="merge_on_read")
    assert "sort_order" not in vt.snapshots()[-1]
    vt.expire_snapshots(keep_last=1)
    # the recording entry is truncated; the compacted base carries it
    snaps = vt.snapshots()
    assert len(snaps) == 1 and snaps[0]["sort_order"] == ["k"]
    assert vt.sort_order() == ["k"]
    vt.commit(_shuffled(spark, 2), "p")
    _assert_files_sorted(vt.root, vt.snapshots()[-1]["parts"]["2"])
