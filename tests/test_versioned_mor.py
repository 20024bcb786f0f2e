"""Merge-on-read row deletes on VersionedTable (Iceberg v2
equality-delete-file analog — io.py delete_where(mode="merge_on_read")
/ apply_deletes).

The contract under test:
  * the delete commit is METADATA-ONLY — no data file is read or
    written (the O(1) takedown; copy-on-write rewrites every matching
    partition, massive write amplification for a handful of rows);
  * reads apply ``NOT(pred IS TRUE)`` to exactly the data that
    PREDATES the delete (src-id scoping) AND sits in the delete's
    stats/bloom-bounded ``affected`` partition set — data written
    later, and partitions PROVEN matchless at delete time, are never
    filtered;
  * time travel: pins before the delete id read the rows, pins at or
    after it don't — identical to copy-on-write;
  * NULL-predicate rows are kept (SQL DELETE semantics, same as CoW);
  * apply_deletes physically bakes pending deletes into exactly the
    still-applicable partitions as a LOGICAL NO-OP rewrite snapshot;
    expire_snapshots then drops the inert records and GCs the bytes;
  * expiry compaction mid-pendency carries the records (a truncated
    row_delete line must not lose its effect);
  * changed_partitions reports the affected set as rewritten, so
    read_incremental's non-append contract still raises — a takedown
    must not silently vanish under an incremental consumer.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import VersionedTable


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "url STRING, drop_id STRING, score INT")


def _rows(df, *cols):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df)
                  .collect())


def _data_dirs(root):
    return sorted(os.listdir(os.path.join(root, "data")))


@pytest.fixture()
def vt2(spark, tmp_path):
    """Two drops with url stats+blooms, ready for a takedown."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), ("u2", "a", 2), ("u3", "b", 3)]),
              "drop_id", stats_cols=["url"], bloom_cols=["url"])
    vt.commit(_mk(spark, [("u4", "c", 4), ("u2", "c", 5)]), "drop_id")
    return vt


def test_mor_delete_is_metadata_only_and_filters_reads(vt2):
    dirs_before = _data_dirs(vt2.root)
    sid, stats = vt2.delete_where([("url", "==", "u2")],
                                  mode="merge_on_read")
    assert sid == 3
    assert stats["mode"] == "merge_on_read"
    # blooms bound the affected set to the two partitions holding u2
    assert stats["partitions_affected"] == 2
    # METADATA-ONLY: not a single new data directory or file
    assert _data_dirs(vt2.root) == dirs_before
    assert vt2.snapshots()[-1]["operation"] == "row_delete"
    assert vt2.snapshots()[-1]["parts"] == {}

    assert _rows(vt2.read(), "url", "drop_id") == [
        ("u1", "a"), ("u3", "b"), ("u4", "c")]
    # time travel: the pre-delete pin still reads both copies
    assert ("u2", "a") in _rows(vt2.read(snapshot_id=2), "url", "drop_id")
    # the where-path composes (file skipping + residual + delete filter)
    assert _rows(vt2.read(where=[("url", "==", "u2")])) == []
    assert _rows(vt2.read(where=[("url", "==", "u1")])) == [("u1", "a", 1)]


def test_mor_src_scoping_later_data_not_filtered(spark, vt2):
    vt2.delete_where([("url", "==", "u2")], mode="merge_on_read")
    # the url comes BACK in a later drop — the old delete must not
    # apply to data that postdates it
    vt2.commit(_mk(spark, [("u2", "d", 9)]), "drop_id")
    got = _rows(vt2.read(), "url", "drop_id")
    assert ("u2", "d") in got
    assert ("u2", "a") not in got and ("u2", "c") not in got
    # ... and a dynamic overwrite of an AFFECTED partition re-establishes
    # it past the delete: its rows are never filtered again
    vt2.commit(_mk(spark, [("u2", "a", 77)]), "drop_id")
    assert ("u2", "a", 77) in _rows(vt2.read())


def test_mor_no_match_commits_nothing(vt2):
    n = len(vt2.snapshots())
    sid, stats = vt2.delete_where([("url", "==", "zz_absent")],
                                  mode="merge_on_read")
    assert sid is None and stats["partitions_affected"] == 0
    assert len(vt2.snapshots()) == n


def test_mor_null_predicate_rows_survive(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), (None, "a", 2)]), "drop_id")
    vt.delete_where([("url", "==", "u1")], mode="merge_on_read")
    assert _rows(vt.read()) == [(None, "a", 2)]


def test_mor_validation_errors(spark, vt2):
    with pytest.raises(ValueError, match="structured"):
        vt2.delete_where(F.col("url") == "u2", mode="merge_on_read")
    with pytest.raises(ValueError, match="unknown columns"):
        vt2.delete_where([("nope", "==", 1)], mode="merge_on_read")
    with pytest.raises(ValueError, match="mode must be"):
        vt2.delete_where([("url", "==", "u2")], mode="lazy")


def test_apply_deletes_scopes_to_affected_and_is_logical_noop(spark, vt2):
    vt2.delete_where([("url", "==", "u2")], mode="merge_on_read")
    vt2.commit(_mk(spark, [("u9", "d", 9)]), "drop_id")  # postdates
    before = _rows(vt2.read())
    sid, stats = vt2.apply_deletes()
    assert sid is not None
    # ONLY the bloom-affected partitions (a, c) — never b (proven
    # matchless) or d (postdates the delete)
    assert stats["partitions_rewritten"] == 2
    assert stats["partitions_dropped"] == 0
    assert _rows(vt2.read()) == before          # logical no-op
    # the rewrite moved the partitions' src past the delete: a second
    # apply finds nothing pending
    sid2, stats2 = vt2.apply_deletes()
    assert sid2 is None and stats2["partitions_rewritten"] == 0
    # and the rewrite snapshot is layout-only to incremental consumers
    snaps = vt2.snapshots()
    assert snaps[-1]["operation"] == "rewrite"


def test_apply_deletes_tombstones_emptied_partition(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), ("u2", "b", 2)]), "drop_id",
              stats_cols=["url"])
    vt.delete_where([("url", "==", "u2")], mode="merge_on_read")
    sid, stats = vt.apply_deletes()
    assert stats["partitions_dropped"] == 1
    assert _rows(vt.read(), "url") == [("u1",)]
    live = vt.snapshots()[-1]["parts"]
    assert live.get("b", "absent") is None      # manifest tombstone


def test_mor_then_apply_then_expire_purges_physically(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), ("u2", "b", 2)]), "drop_id",
              stats_cols=["url"])
    vt.delete_where([("url", "==", "u2")], mode="merge_on_read")
    vt.apply_deletes()
    vt.expire_snapshots(keep_last=1)
    # no parquet file on disk holds the deleted row, and the inert
    # delete record is gone from the manifest
    data = os.path.join(vt.root, "data")
    for dirpath, _dn, files in os.walk(data):
        for f in files:
            if f.endswith(".parquet"):
                got = spark.read.parquet(os.path.join(dirpath, f))
                assert got.where(F.col("url") == "u2").count() == 0
    assert vt._deletes_upto(None) == []
    assert _rows(vt.read(), "url") == [("u1",)]


def test_expiry_compaction_carries_pending_delete(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), ("u2", "a", 2)]), "drop_id")  # 1
    vt.commit(_mk(spark, [("u2", "c", 5)]), "drop_id")                  # 2
    vt.delete_where([("url", "==", "u2")], mode="merge_on_read")        # 3
    vt.commit(_mk(spark, [("u9", "e", 9)]), "drop_id")                  # 4
    vt.expire_snapshots(keep_last=1)
    # the row_delete line was truncated; its record must ride the
    # compacted base and keep filtering the predating data
    got = _rows(vt.read(), "url", "drop_id")
    assert ("u2", "a") not in got and ("u2", "c") not in got
    assert ("u1", "a") in got and ("u9", "e") in got
    assert vt._deletes_upto(None) != []
    # ... and apply_deletes still retires it
    vt.apply_deletes()
    vt.expire_snapshots(keep_last=1)
    assert vt._deletes_upto(None) == []
    assert _rows(vt.read(), "url", "drop_id") == got


def test_mor_delete_blocks_incremental_consumers(spark, vt2):
    vt2.delete_where([("url", "==", "u2")], mode="merge_on_read")
    ch = vt2.changed_partitions(2)
    assert set(ch["rewritten"]) == {"a", "c"}   # the affected superset
    assert ch["appended"] == [] and ch["dropped"] == []
    with pytest.raises(ValueError, match="non-append"):
        vt2.read_incremental(2)
    # skip mode: appended-only view, and it must NOT resurrect u2
    vt2.commit(_mk(spark, [("u5", "d", 6)]), "drop_id")
    inc = vt2.read_incremental(2, on_nonappend="skip")
    assert _rows(inc, "url") == [("u5",)]


def test_mor_unpartitioned_table(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1), ("u2", "a", 2)]).drop("drop_id"))
    sid, stats = vt.delete_where([("url", "==", "u2")],
                                 mode="merge_on_read")
    assert sid == 2 and stats["partitions_affected"] == 1
    assert _rows(vt.read()) == [("u1", 1)]
    sid, stats = vt.apply_deletes()
    assert stats["partitions_rewritten"] == 1
    assert _rows(vt.read()) == [("u1", 1)]


def test_mor_rewrite_files_bakes_in_pending_deletes(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    df = _mk(spark, [("u%d" % i, "a", i) for i in range(8)]).repartition(8)
    vt.commit(df, "drop_id")
    vt.delete_where([("url", "==", "u3")], mode="merge_on_read")
    sid, stats = vt.rewrite_files(target_bytes=1 << 30)
    assert stats["partitions_rewritten"] == 1
    got = _rows(vt.read(), "url")
    assert ("u3",) not in got and len(got) == 7
    # compaction read through the delete-applying path: the new files
    # physically lack the row, and the partition's src moved past the
    # delete, so apply_deletes finds nothing left
    sid2, stats2 = vt.apply_deletes()
    assert sid2 is None
