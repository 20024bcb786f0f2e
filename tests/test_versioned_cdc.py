"""CDC changelog scan (VersionedTable.read_changes) — the Iceberg
create_changelog_view / Delta CDF analog.

Contract under test (io.py):
  * read_changes((k, j]) returns the NET row-level diff between the
    two pins as table columns + _change_type ∈ {insert, delete}; an
    update is a delete+insert pair;
  * an append-only range is pure inserts equal to read_incremental's
    rows; a layout-only range (compaction / apply_deletes) is EMPTY
    without reading data;
  * a merge_into recrawl surfaces as delete(old capture) +
    insert(new capture); a takedown (copy-on-write OR metadata-only
    merge-on-read) surfaces as delete rows;
  * from_snapshot=0 diffs against the empty table (everything insert,
    equal to the pin's full read);
  * staged (write-audit-publish) endpoint ids are rejected — they are
    not on the published lineage;
  * the partition-grain lineage diff bounds the data work: partitions
    untouched in range are never scanned (pinned via the explain plan
    containing only the changed partitions' directories).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import VersionedTable

SCHEMA = "drop_id INT, url STRING, score INT"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _changes(vt, frm, to=None):
    return sorted(
        (r.drop_id, r.url, r.score, r._change_type)
        for r in vt.read_changes(frm, to).collect())


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a", 10), (1, "b", 20), (2, "c", 30)]),
             "drop_id", note="drop1", stats_cols=["url"])
    return t


def test_append_only_range_is_pure_inserts(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    vt.commit(_df(spark, [(3, "d", 40), (3, "e", 50)]), "drop_id")
    got = _changes(vt, s1)
    assert got == [(3, "d", 40, "insert"), (3, "e", 50, "insert")]
    # equal to the incremental append scan's rows
    inc = sorted((r.drop_id, r.url, r.score)
                 for r in vt.read_incremental(s1).collect())
    assert [(d, u, s) for d, u, s, _ in got] == inc


def test_from_zero_is_full_insert_view(spark, vt):
    got = _changes(vt, 0)
    assert got == [(1, "a", 10, "insert"), (1, "b", 20, "insert"),
                   (2, "c", 30, "insert")]


def test_recrawl_merge_is_delete_plus_insert(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    # url "b" recaptured with a new score and moved to drop 3; "f" new
    vt.merge_into(_df(spark, [(3, "b", 99), (3, "f", 1)]), ["url"])
    got = _changes(vt, s1)
    assert got == [(1, "b", 20, "delete"), (3, "b", 99, "insert"),
                   (3, "f", 1, "insert")]


def test_cow_takedown_is_delete_rows(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    vt.delete_where([("url", "==", "b")])
    assert _changes(vt, s1) == [(1, "b", 20, "delete")]


def test_mor_takedown_is_delete_rows_metadata_only(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    sid, _ = vt.delete_where([("url", "==", "c")], mode="merge_on_read")
    assert sid is not None
    assert _changes(vt, s1) == [(2, "c", 30, "delete")]
    # and the range PAST the pending delete is layout-only empty
    s2 = vt.snapshots()[-1]["id"]
    vt.apply_deletes()
    assert _changes(vt, s2) == []


def test_dropped_partition_is_delete_rows(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    vt.delete_where([("drop_id", "==", 1)])   # whole partition gone
    assert _changes(vt, s1) == [(1, "a", 10, "delete"),
                                (1, "b", 20, "delete")]


def test_layout_only_range_is_empty(spark, vt):
    vt.commit(_df(spark, [(1, "a2", 11)]), "drop_id")  # fragment drop 1
    s = vt.snapshots()[-1]["id"]
    vt.rewrite_files(target_bytes=1 << 30)
    assert _changes(vt, s) == []


def test_unpartitioned_table_full_diff(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "u"))
    t.commit(_df(spark, [(1, "a", 10), (1, "b", 20)]), None)
    s1 = t.snapshots()[-1]["id"]
    t.commit(_df(spark, [(1, "a", 10), (1, "b", 99), (2, "c", 5)]), None)
    assert _changes(t, s1) == [(1, "b", 20, "delete"),
                               (1, "b", 99, "insert"),
                               (2, "c", 5, "insert")]


def test_staged_endpoint_rejected_and_published_diffs(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    aid = vt.commit(_df(spark, [(4, "g", 7)]), "drop_id", staged=True)
    with pytest.raises(ValueError, match="staged"):
        vt.read_changes(s1, aid)
    with pytest.raises(ValueError, match="staged"):
        vt.read_changes(aid)
    # unpublished staged data is invisible to the changelog
    assert _changes(vt, s1) == []
    vt.publish(aid)
    assert _changes(vt, s1) == [(4, "g", 7, "insert")]


def test_change_col_collision_and_rename(spark, vt):
    s1 = vt.snapshots()[-1]["id"]
    vt.commit(_df(spark, [(5, "h", 3)]), "drop_id")
    with pytest.raises(ValueError, match="collides"):
        vt.read_changes(s1, change_col="url")
    got = sorted((r.drop_id, r.cdc) for r in
                 vt.read_changes(s1, change_col="cdc").collect())
    assert got == [(5, "insert")]


def test_unchanged_partitions_never_scanned(spark, vt):
    """The 100 TB property: the changelog plan's file sources touch
    ONLY the changed partitions' directories."""
    s1 = vt.snapshots()[-1]["id"]
    vt.commit(_df(spark, [(3, "d", 40)]), "drop_id")
    vt.merge_into(_df(spark, [(3, "c", 31)]), ["url"])  # rewrites p2 (+3)
    dirs = {f.split("/_pv=")[-1].split("/")[0]
            for f in vt.read_changes(s1).inputFiles() if "/_pv=" in f}
    assert "1" not in dirs          # untouched partition: no scan
    assert {"2", "3"} <= dirs       # changed ones present
