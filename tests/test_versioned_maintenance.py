"""VersionedTable maintenance & consumption surface: incremental
append scan (read_incremental / changed_partitions), keyed MERGE
upsert (merge_into), small-file compaction (rewrite_files), and the
snapshot metadata table (history()).

Contract under test (io.py):
  * read_incremental((k, latest]) returns EXACTLY the partitions
    appended after k, raises on non-append changes in range by default
    (Iceberg incremental append scan), and reads appended-then-
    rewritten partitions as of the range end;
  * merge_into replaces matched keys and appends the rest at partition
    grain — untouched partitions carry over BY REFERENCE, a matched
    partition left empty becomes a tombstone, earlier snapshots still
    read pre-merge rows, duplicate source keys raise;
  * rewrite_files is a logical no-op (row multiset unchanged) that
    only re-lays-out over-fragmented LIVE partitions; re-running is a
    no-op;
  * history() is driver-side manifest metadata, one row per commit.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import VersionedTable


def _mk(spark, rows, cols=("drop_id", "url", "score")):
    return spark.createDataFrame(rows, list(cols))


def _rows(df):
    return sorted((r.drop_id, r.url, r.score) for r in df.collect())


# ---------------------------------------------------------------- incremental


def test_changed_partitions_and_read_incremental(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1), (2, "b", 2)]), "drop_id")   # id 1
    vt.commit(_mk(spark, [(3, "c", 3)]), "drop_id")                # id 2
    vt.commit(_mk(spark, [(2, "b2", 9)]), "drop_id")               # id 3 (rw)

    assert vt.changed_partitions(0, 2) == {
        "appended": ["1", "2", "3"], "rewritten": [], "dropped": [], "evolved": []}
    assert vt.changed_partitions(1) == {
        "appended": ["3"], "rewritten": ["2"], "dropped": [], "evolved": []}
    assert vt.changed_partitions(2, 3) == {
        "appended": [], "rewritten": ["2"], "dropped": [], "evolved": []}

    # clean append range: exactly the new drop
    assert _rows(vt.read_incremental(1, 2)) == [(3, "c", 3)]
    # rewrite inside the range: raise by default, appends-only on skip
    with pytest.raises(ValueError, match="non-append"):
        vt.read_incremental(1)
    assert _rows(vt.read_incremental(1, on_nonappend="skip")) == [
        (3, "c", 3)]
    # bootstrap from 0: everything counts as appended, rewritten
    # partitions read as of the range END
    assert _rows(vt.read_incremental(0)) == [
        (1, "a", 1), (2, "b2", 9), (3, "c", 3)]
    # empty range: typed empty DataFrame, no warning path
    inc = vt.read_incremental(3, 3)
    assert inc.count() == 0 and set(inc.columns) == {
        "drop_id", "url", "score"}
    # range validation + unpartitioned rejection
    with pytest.raises(ValueError, match="invalid snapshot range"):
        vt.changed_partitions(2, 1)
    flat = VersionedTable(spark, str(tmp_path / "flat"))
    flat.commit(_mk(spark, [(1, "a", 1)]), None)
    with pytest.raises(ValueError, match="unpartitioned"):
        flat.changed_partitions(0)


def test_read_incremental_sees_drops(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1), (2, "b", 2)]), "drop_id")   # id 1
    vt.commit(_mk(spark, [(3, "c", 3)]), "drop_id")                # id 2
    vt.delete_where(F.col("drop_id") == 1)                         # id 3
    with pytest.raises(ValueError, match="dropped=\\['1'\\]"):
        vt.read_incremental(1)
    assert _rows(vt.read_incremental(1, on_nonappend="skip")) == [
        (3, "c", 3)]


# --------------------------------------------------------------------- merge


def test_merge_into_partitioned_cow(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    v1 = vt.commit(_mk(spark, [
        (1, "u1", 10), (1, "u2", 11), (2, "u3", 20), (9, "u9", 90),
    ]), "drop_id", note="initial")
    before = {k: v for s in vt.snapshots() for k, v in s["parts"].items()}

    # recrawl: u1 moves to drop 3, u3 updates in place, u4 is new
    sid, stats = vt.merge_into(_mk(spark, [
        (3, "u1", 100), (2, "u3", 200), (3, "u4", 300),
    ]), ["url"])
    assert sid == v1 + 1
    assert stats == {"rows_replaced": 2, "rows_written": 3,
                     "partitions_rewritten": 3, "partitions_dropped": 0}
    assert _rows(vt.read()) == [
        (1, "u2", 11), (2, "u3", 200), (3, "u1", 100), (3, "u4", 300),
        (9, "u9", 90)]
    # untouched partition 9 carried over BY REFERENCE (same dir)
    snaps = vt.snapshots()
    assert "9" not in snaps[-1]["parts"]
    live = vt._resolve(None, None)[0]
    assert live["9"] == before["9"]
    # time travel: pre-merge snapshot unchanged
    assert _rows(vt.read(snapshot_id=v1)) == [
        (1, "u1", 10), (1, "u2", 11), (2, "u3", 20), (9, "u9", 90)]


def test_merge_into_empties_partition_tombstone(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "u1", 10), (2, "u2", 20)]), "drop_id")
    sid, stats = vt.merge_into(_mk(spark, [(5, "u1", 50)]), ["url"])
    assert stats["partitions_dropped"] == 1
    assert vt.snapshots()[-1]["parts"]["1"] is None
    assert _rows(vt.read()) == [(2, "u2", 20), (5, "u1", 50)]
    assert _rows(vt.read(snapshot_id=sid - 1)) == [
        (1, "u1", 10), (2, "u2", 20)]


def test_merge_into_guards(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "u1", 10)]), "drop_id")
    with pytest.raises(ValueError, match="duplicate keys"):
        vt.merge_into(_mk(spark, [(2, "u1", 1), (3, "u1", 2)]), ["url"])
    with pytest.raises(ValueError, match="partition column"):
        vt.merge_into(
            spark.createDataFrame([("u1", 5)], ["url", "score"]), ["url"])
    # empty source: no snapshot committed
    empty = spark.createDataFrame(
        [], "drop_id BIGINT, url STRING, score BIGINT")
    sid, stats = vt.merge_into(empty, ["url"])
    assert sid is None and stats["rows_written"] == 0
    assert [s["id"] for s in vt.snapshots()] == [1]


def test_merge_into_unpartitioned(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "u1", 10), (1, "u2", 11)]), None)
    sid, stats = vt.merge_into(_mk(spark, [(9, "u1", 99), (9, "u3", 93)]),
                               ["url"])
    assert stats["rows_replaced"] == 1 and stats["rows_written"] == 2
    assert _rows(vt.read()) == [(1, "u2", 11), (9, "u1", 99), (9, "u3", 93)]
    assert _rows(vt.read(snapshot_id=sid - 1)) == [
        (1, "u1", 10), (1, "u2", 11)]


_SCHEMA = "drop_id BIGINT, url STRING, score BIGINT"


def test_merge_into_null_keys_are_duplicates(spark, tmp_path):
    # two NULL keys are one key (a groupBy groups them), so ambiguous
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "u1", 10)]), "drop_id")
    with pytest.raises(ValueError, match="duplicate keys"):
        vt.merge_into(spark.createDataFrame(
            [(2, None, 1), (3, None, 2)], _SCHEMA), ["url"])
    assert [s["id"] for s in vt.snapshots()] == [1]


def test_merge_into_null_partition_value(spark, tmp_path):
    # a NULL partition value is the Hive default partition: it is live,
    # so a source row landing there rewrites it, keeping its other rows
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame(
        [(None, "u0", 5), (1, "u1", 10)], _SCHEMA), "drop_id")
    sid, stats = vt.merge_into(spark.createDataFrame(
        [(None, "u1", 11), (None, "u2", 7)], _SCHEMA), ["url"])
    assert stats == {"rows_replaced": 1, "rows_written": 2,
                     "partitions_rewritten": 1, "partitions_dropped": 1}
    got = sorted((r.url, r.drop_id, r.score) for r in vt.read().collect())
    assert got == [("u0", None, 5), ("u1", None, 11), ("u2", None, 7)]
    assert vt.snapshots()[-1]["parts"]["1"] is None


@pytest.mark.parametrize("probe", ["key_range", "probe_partitions"])
def test_merge_into_stats_hand_computed(spark, tmp_path, probe):
    # partitions 1 and 2 each lose one row and keep one; partition 3
    # loses its only row (tombstone); partition 4 is new. By hand:
    # 3 rows replaced, 4 written, {1, 2, 4} rewritten, {3} dropped.
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "u1", 10), (1, "u2", 11), (2, "u3", 20),
                          (2, "u4", 21), (3, "u5", 30), (9, "u9", 90)]),
              "drop_id", stats_cols=["url"])
    kw = ({"probe_partitions": [1, 2, 3, 4]} if probe == "probe_partitions"
          else {})
    sid, stats = vt.merge_into(_mk(spark, [
        (4, "u1", 100), (4, "u3", 300), (4, "u5", 500), (4, "u6", 600),
    ]), ["url"], **kw)
    assert stats == {"rows_replaced": 3, "rows_written": 4,
                     "partitions_rewritten": 3, "partitions_dropped": 1}
    assert _rows(vt.read()) == [
        (1, "u2", 11), (2, "u4", 21), (4, "u1", 100), (4, "u3", 300),
        (4, "u5", 500), (4, "u6", 600), (9, "u9", 90)]
    assert vt.snapshots()[-1]["parts"]["3"] is None
    assert "9" not in vt.snapshots()[-1]["parts"]


# ------------------------------------------------------------------- rewrite


def _n_files(root: str, rel: str) -> int:
    d = os.path.join(root, "data", rel)
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def test_rewrite_files_logical_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    # 8-way repartition fragments each partition dir into many tiny files
    df = _mk(spark, [(p, f"u{p}-{i}", i) for p in (1, 2)
                     for i in range(16)]).repartition(8)
    vt.commit(df, "drop_id")                                      # id 1
    vt.commit(_mk(spark, [(3, "u3", 1)]).coalesce(1), "drop_id")  # id 2
    live0 = vt._resolve(None, None)[0]
    assert _n_files(root, live0["1"]) > 1
    before = _rows(vt.read())

    sid, stats = vt.rewrite_files()
    assert sid == 3
    assert stats["partitions_rewritten"] == 2
    assert stats["files_after"] == 2        # 1 file per rewritten part
    assert stats["files_before"] > stats["files_after"]
    assert _rows(vt.read()) == before       # logical no-op
    live1 = vt._resolve(None, None)[0]
    assert _n_files(root, live1["1"]) == 1
    assert live1["3"] == live0["3"]         # already-compact: by reference
    # old snapshot still reads the old layout
    assert _rows(vt.read(snapshot_id=2)) == before
    assert _n_files(root, live0["1"]) > 1
    # idempotent: nothing left to compact
    sid2, stats2 = vt.rewrite_files()
    assert sid2 is None and stats2["partitions_rewritten"] == 0
    # compaction is INVISIBLE to incremental consumers: a layout-only
    # commit must not read as a data rewrite (Iceberg append scans
    # skip replace snapshots)
    assert vt.changed_partitions(2) == {
        "appended": [], "rewritten": [], "dropped": [], "evolved": []}
    assert vt.read_incremental(2).count() == 0
    assert vt.changed_partitions(1) == {
        "appended": ["3"], "rewritten": [], "dropped": [], "evolved": []}
    assert _rows(vt.read_incremental(1)) == [(3, "u3", 1)]
    ops = {r.snapshot_id: r.operation for r in vt.history().collect()}
    assert ops == {1: "write", 2: "write", 3: "rewrite"}


def test_rewrite_files_across_schema_evolution(spark, tmp_path):
    """Compaction must survive the table's own schema-evolution
    contract: partitions written by commits with different schemas
    union with NULL fill, exactly as a merged read shows them."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, f"u{i}", i) for i in range(8)])
              .repartition(4), "drop_id")
    wide = spark.createDataFrame(
        [(2, "w0", 1, "en"), (2, "w1", 2, "de")],
        ["drop_id", "url", "score", "lang"])
    vt.commit(wide.repartition(4), "drop_id")
    before = {(r.drop_id, r.url, r.score, r.lang)
              for r in vt.read().collect()}
    sid, stats = vt.rewrite_files()
    assert sid == 3 and stats["partitions_rewritten"] == 2
    after = {(r.drop_id, r.url, r.score, r.lang)
             for r in vt.read().collect()}
    assert after == before


def test_expire_snapshots_older_than(spark, tmp_path):
    """Age-based retention (Iceberg olderThan + retainLast): snapshots
    committed at or after the horizon survive even past keep_last; the
    oldest survivor compacts in place so surviving ids read unchanged."""
    import time

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1)]), "drop_id")       # id 1
    cut = time.time()
    vt.commit(_mk(spark, [(2, "b", 2)]), "drop_id")       # id 2
    vt.commit(_mk(spark, [(3, "c", 3)]), "drop_id")       # id 3

    # keep_last=1 alone would truncate to id 3; older_than keeps id 2
    vt.expire_snapshots(1, older_than=cut)
    assert [s["id"] for s in vt.snapshots()] == [2, 3]
    assert _rows(vt.read(snapshot_id=2)) == [(1, "a", 1), (2, "b", 2)]
    with pytest.raises(ValueError, match="no snapshot"):
        vt.read(snapshot_id=1)
    # nothing older than the horizon left: re-run truncates nothing
    vt.expire_snapshots(1, older_than=cut)
    assert [s["id"] for s in vt.snapshots()] == [2, 3]


# ------------------------------------------------------------------- history


def test_history_metadata_table(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1), (2, "b", 2)]), "drop_id",
              note="day1")                                        # id 1
    vt.commit(_mk(spark, [(3, "c", 3)]), "drop_id", note="day2")  # id 2
    vt.delete_where(F.col("drop_id") == 3)                        # id 3
    vt.merge_into(_mk(spark, [(2, "a", 9)]), ["url"])             # id 4

    h = {r.snapshot_id: r for r in vt.history().collect()}
    assert sorted(h) == [1, 2, 3, 4]
    assert (h[1].partitions_appended, h[1].partitions_live) == (2, 2)
    assert h[1].note == "day1" and not h[1].replaces_all
    assert (h[2].partitions_appended, h[2].partitions_live) == (1, 3)
    assert (h[3].partitions_dropped, h[3].partitions_live) == (1, 2)
    # the merge moved key "a" out of partition 1 (emptied -> dropped)
    # and rewrote partition 2 (which received it)
    assert (h[4].partitions_rewritten, h[4].partitions_dropped,
            h[4].partitions_live) == (1, 1, 1)
    assert h[4].committed_at is not None
    assert [h[i].operation for i in (1, 2, 3, 4)] == [
        "write", "write", "delete", "merge"]


# ------------------------------------------------- metadata tables (.files)


def test_files_partitions_metadata_tables(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1), (1, "b", 2), (2, "c", 3)]),
              "drop_id", stats_cols=["url"])                      # id 1
    vt.commit(_mk(spark, [(3, "d", 4)]), "drop_id")               # id 2
    f = vt.files().collect()
    # one row per live parquet file, sizes real, rows from the manifest
    assert all(r.size_bytes > 0 for r in f)
    assert sum(r.row_count for r in f) == 4
    assert {r.partition for r in f} == {"1", "2", "3"}
    # src_snapshot = the commit that ESTABLISHED each partition
    src = {r.partition: r.src_snapshot for r in f}
    assert src == {"1": 1, "2": 1, "3": 2}
    # recorded url stats ride along as JSON (per FILE — fold over the
    # partition's files for the partition-level bound)
    import json as J
    assert min(J.loads(r.stats)["url"]["min"] for r in f
               if r.partition == "1" and r.stats) == "a"
    # the partitions rollup agrees with the file rows
    p = {r.partition: r for r in vt.partitions().collect()}
    assert p["1"].file_count >= 1 and p["1"].row_count == 2
    assert sum(r.size_bytes for r in f) == \
        sum(r.size_bytes for r in p.values())
    # pinned: the metadata tables time-travel with the view
    vt.delete_where(F.col("drop_id") == 3)                        # id 3
    assert {r.partition for r in vt.files().collect()} == {"1", "2"}
    assert {r.partition
            for r in vt.files(snapshot_id=2).collect()} == \
        {"1", "2", "3"}


def test_files_without_stats_property_and_row_deletes(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [(1, "a", 1), (2, "b", 2)]), "drop_id")  # id 1
    # no stats/bloom property: sizes still real, counts honestly None
    f = vt.files().collect()
    assert all(r.size_bytes > 0 and r.row_count is None
               and r.stats is None for r in f)
    assert vt.partitions().collect()[0].row_count is None
    # merge-on-read ledger: pending until applied, retired by expiry
    assert vt.row_deletes().count() == 0
    vt.delete_where([("url", "==", "a")], mode="merge_on_read")   # id 2
    led = vt.row_deletes().collect()
    assert len(led) == 1 and led[0].pending
    assert led[0].predicate == '[["url", "==", "a"]]'
    sid, _ = vt.apply_deletes()                                   # id 3
    assert sid is not None
    led2 = vt.row_deletes().collect()
    assert len(led2) == 1 and not led2[0].pending
    vt.expire_snapshots(keep_last=1)
    assert vt.row_deletes().count() == 0


def test_maintenance_planner_and_executor(spark, tmp_path):
    """plan_maintenance (VERDICT r4 #9) reads the metadata tables and
    returns the ordered worklist; run_maintenance executes it. Pins:
    the plan names the pending takedown, the fragmented partition, the
    expiry, and the orphan sweep in that order; after execution the
    partition is under the file-count threshold, no takedown record is
    pending, snapshot count is within the keep window, and the aged
    orphan dir is gone. A freshly-maintained table plans (almost)
    nothing."""
    import time as _time

    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    df = spark.range(200).select(
        (F.col("id") % 2).cast("int").alias("p"),
        F.col("id").alias("v"))
    vt.commit(df.repartition(12), "p", note="fragmented write")
    vt.commit(spark.createDataFrame([(2, 999)], "p INT, v LONG"), "p")
    vt.delete_where([("v", "==", 3)], mode="merge_on_read")
    # an aged never-referenced dir (a crashed commit's leftovers)
    orphan = os.path.join(root, "data", "snap-999999-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("x")
    old = _time.time() - 10 * 86400
    os.utime(orphan, (old, old))

    plan = vt.plan_maintenance(max_files_per_partition=8,
                               keep_last=2, orphan_age_s=86400.0)
    acts = [s["action"] for s in plan]
    assert acts == ["apply_deletes", "rewrite_files",
                    "expire_snapshots", "remove_orphan_files"]
    assert plan[0]["pending_records"] == 1
    assert plan[1]["partitions"] == ["0", "1"]  # 6 files each > ... no:
    # 12 tasks over 2 partitions -> up to 12 files per partition dir?
    # assert on the real threshold instead of the layout detail:
    fragged = {r["partition"]: r["file_count"]
               for r in vt.partitions().collect()}
    assert all(fragged[p] > 8 for p in plan[1]["partitions"])

    done = vt.run_maintenance(plan)
    assert [s["action"] for s in done] == acts
    assert done[0]["result"]["snapshot_id"] is not None
    # the aged orphan is swept — by the expiry GC or the orphan step,
    # whichever reaches it first
    assert not os.path.exists(orphan)
    swept = (done[2]["result"] or []) + (done[3]["result"] or [])
    assert any("snap-999999-deadbeef" in d for d in swept)
    after = {r["partition"]: r["file_count"]
             for r in vt.partitions().collect()}
    assert all(c <= 8 for c in after.values()), after
    assert not any(r["pending"] for r in vt.row_deletes().collect())
    assert len(vt.snapshots()) <= 3  # keep window (+the view survives)
    rows = {(r["p"], r["v"]) for r in vt.read().collect()}
    assert (2, 999) in rows and not any(v == 3 for _, v in rows)
    assert len(rows) == 200  # 200 ids - v==3 + the (2,999) row
    # steady state: a fresh plan finds only the orphan sweep
    plan2 = vt.plan_maintenance(max_files_per_partition=8, keep_last=5)
    assert [s["action"] for s in plan2] == ["remove_orphan_files"]
