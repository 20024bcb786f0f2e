"""Partition-spec EVOLUTION on VersionedTable — the Iceberg
"start unpartitioned / identity, re-bucket when the table outgrows the
layout" lifecycle (ALTER TABLE … REPLACE PARTITION FIELD), implemented
STRICTER than Iceberg: one explicit replace_all rewrite under the new
spec, so exactly one spec governs all live data and every single-spec
invariant (dynamic overwrite, merge, takedown bounding, incremental
scans) holds by construction.

Contract under test (io.py evolve_partition_spec / _spec_at):
  * the rewrite preserves the row multiset exactly; the new spec
    governs the live layout (manifest keys match the driver mirror)
    and read(where=…) prunes through it;
  * PER-SNAPSHOT spec resolution: a pin predating the evolution still
    reads — and plan_files still prunes — under the OLD spec;
  * later commits inherit the new spec; re-passing the old one raises;
    evolving to the identical spec raises; schema ops guard the
    CURRENT partition column;
  * read_incremental raises across the boundary (whole key space
    moved) with an evolution hint; changed_partitions surfaces the
    evolve ids; read_changes returns ZERO changes for a pure evolve
    range and raises with ordered split points for a mixed one;
  * pending merge-on-read deletes are BAKED IN by the rewrite (live
    lineage inert, old pins still filter); a staged WAP snapshot
    predating the evolution is hard-blocked from publish;
  * expiry compaction past the evolution re-establishes the evolved
    spec on the compacted base (spec_set), so later commits and
    pruning keep working from a truncated manifest;
  * sync_keyed (derived.py) reconciles ACROSS an evolution by
    splitting at the boundary — the derived table never rebuilds for
    a source layout change; sync_aligned rejects transformed sources.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.plans.derived import sync_aligned, sync_keyed
from ocr_spark.sources.io import VersionedTable, _transform_py


def _urls(spark, n=60, tag="", drop=1):
    return (spark.range(0, n)
            .select(F.format_string(f"u{tag}%05d", F.col("id"))
                    .alias("url"),
                    F.lit(drop).alias("drop_id"),
                    F.col("id").alias("n")))


def _rows(df):
    return sorted((r.url, r.drop_id, r.n) for r in df.collect())


def test_evolve_identity_to_bucket_rows_preserved(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id", stats_cols=["url"])
    vt.commit(_urls(spark, tag="b", drop=2), "drop_id")
    before = _rows(vt.read())
    sid = vt.evolve_partition_spec("url", ("bucket", 8),
                                   layout_partitions=8)
    assert _rows(vt.read()) == before
    assert vt.partition_spec() == {
        "partition_col": "url",
        "transform": {"kind": "bucket", "n": 8}}
    # live manifest keys match the driver mirror under the NEW spec
    snap = next(s for s in vt.snapshots() if s["id"] == sid)
    assert snap["operation"] == "evolve" and snap["replace_all"]
    tf = {"kind": "bucket", "n": 8}
    for key in snap["parts"]:
        got = vt.read(partitions=[key]).select("url").collect()
        assert got and all(_transform_py(tf, r["url"]) == key
                           for r in got)
    # source-column predicates prune whole buckets driver-side
    u = before[0][0]
    plan = vt.plan_files(where=[("url", "==", u)])
    assert plan["partitions_pruned"] > 0
    assert _rows(vt.read(where=[("url", "==", u)])) == \
        _rows(vt.read().where(F.col("url") == u))
    # stats property survived the evolution (re-harvested on the
    # rewrite): file skipping still works on top of the pruning
    assert plan["files_total"] >= len(plan["files"])


def test_pinned_read_plans_under_its_own_spec(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id")      # id 1, identity
    vt.commit(_urls(spark, tag="b", drop=2), "drop_id")
    pre = _rows(vt.read())
    vt.evolve_partition_spec("url", ("bucket", 4))  # id 3
    # the pre-evolution pin reads the old bytes and PRUNES under the
    # identity spec: a drop_id equality keeps exactly one partition
    assert vt.partition_spec(snapshot_id=2) == {
        "partition_col": "drop_id", "transform": None}
    plan = vt.plan_files(snapshot_id=2, where=[("drop_id", "==", 2)])
    assert plan["partitions_pruned"] == 1
    assert _rows(vt.read(snapshot_id=2)) == pre
    # the post-evolution latest prunes on url, not drop_id
    plan2 = vt.plan_files(where=[("url", "==", pre[0][0])])
    assert plan2["partitions_pruned"] == 3


def test_later_commits_inherit_new_spec_old_spec_raises(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark), "url", partition_transform=("bucket", 4))
    vt.evolve_partition_spec("url", ("bucket", 8))
    # inheriting commit lands under bucket(8)
    sid = vt.commit(_urls(spark, tag="c", drop=3), "url")
    snap = next(s for s in vt.snapshots() if s["id"] == sid)
    tf = {"kind": "bucket", "n": 8}
    for key in snap["parts"]:
        got = vt.read(snapshot_id=sid, partitions=[key]) \
                .where(F.col("drop_id") == 3).select("url").collect()
        assert all(_transform_py(tf, r["url"]) == key for r in got)
    # re-passing the superseded spec raises
    with pytest.raises(ValueError, match="partition transform"):
        vt.commit(_urls(spark, tag="d", drop=4), "url",
                  partition_transform=("bucket", 4))
    # a different partition column raises too
    with pytest.raises(ValueError, match="partitioned by"):
        vt.commit(_urls(spark, tag="d", drop=4), "drop_id")
    # evolving to the identical spec is a pointless rewrite: raises
    with pytest.raises(ValueError, match="identical"):
        vt.evolve_partition_spec("url", ("bucket", 8))


def test_unpartitioned_to_partitioned(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark), None)
    with pytest.raises(ValueError, match="unpartitioned"):
        vt.changed_partitions(0)
    before = _rows(vt.read())
    vt.evolve_partition_spec("url", ("bucket", 4))
    assert _rows(vt.read()) == before
    assert vt.partition_spec()["partition_col"] == "url"
    # the append grain now exists
    vt.commit(_urls(spark, tag="b", drop=2), "url")
    ch = vt.changed_partitions(2)
    assert ch["appended"] or ch["rewritten"]


def test_incremental_raises_across_boundary_with_hint(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id")                 # id 1
    vt.commit(_urls(spark, tag="b", drop=2), "drop_id")        # id 2
    e = vt.evolve_partition_spec("url", ("bucket", 4))         # id 3
    ch = vt.changed_partitions(1)
    assert ch["evolved"] == [e]
    # the whole key space moved: every old key reads as dropped OR
    # (on a string collision like identity "1" vs bucket "1") as
    # rewritten — the "evolved" marker is what disambiguates
    assert set(ch["dropped"]) | set(ch["rewritten"]) >= {"1"}
    with pytest.raises(ValueError, match="spec evolution"):
        vt.read_incremental(1)
    # within one spec epoch, CDC picks up exactly the post-evolve
    # append. On a hash layout the append primitive is merge_into (a
    # plain commit is a DYNAMIC overwrite and would clobber buckets);
    # the CDC changelog — not the append scan — is the consumer
    # surface, since appends overlap live buckets
    sid4, _ = vt.merge_into(_urls(spark, tag="c", drop=3), ["url"])
    ch4 = vt.read_changes(e, sid4)
    assert ch4.where(F.col("_change_type") == "delete").count() == 0
    got = {r["url"] for r in ch4.collect()}
    assert got == {r["url"] for r in _urls(spark, tag="c").collect()}


def test_read_changes_pure_evolve_zero_mixed_raises(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id")                 # id 1
    e = vt.evolve_partition_spec("url", ("bucket", 4))         # id 2
    # pure evolve range: ZERO net changes, typed schema intact
    ch = vt.read_changes(1, e)
    assert ch.count() == 0
    assert ch.columns == ["url", "drop_id", "n", "_change_type"]
    vt.merge_into(_urls(spark, tag="b", drop=2), ["url"])      # id 3
    # mixed range raises with the ordered split points
    with pytest.raises(ValueError, match=r"sub-ranges \[\(1, 2\), "
                                         r"\(2, 3\)\]"):
        vt.read_changes(1)
    # the split ranges reconcile: (1, 2] zero, (2, 3] just the append
    sub = vt.read_changes(e, 3)
    assert sub.where(F.col("_change_type") == "delete").count() == 0
    assert sub.count() == 60


def test_evolve_bakes_pending_mor_deletes(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id", stats_cols=["url"])
    victim = vt.read().agg(F.min("url")).collect()[0][0]
    vt.delete_where([("url", "==", victim)], mode="merge_on_read")
    n_live = vt.read().count()
    assert n_live == 59
    vt.evolve_partition_spec("url", ("bucket", 4))
    # the rewrite read through the pending delete: row gone physically
    assert vt.read().count() == 59
    assert vt.read().where(F.col("url") == victim).count() == 0
    # the delete record is inert for the live lineage now
    sid, stats = vt.apply_deletes()
    assert sid is None
    # the pre-delete pin still shows the row (time travel intact)
    assert vt.read(snapshot_id=1).count() == 60


def test_publish_staged_across_evolve_hard_blocked(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id")
    staged = vt.commit(_urls(spark, tag="b", drop=2), "drop_id",
                       staged=True)
    vt.evolve_partition_spec("url", ("bucket", 4))
    with pytest.raises(ValueError, match="re-stage"):
        vt.publish(staged)
    # force is not an escape hatch here (two layouts in one view)
    with pytest.raises(ValueError, match="re-stage"):
        vt.publish(staged, force=True)


def test_expiry_compaction_carries_evolved_spec(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_urls(spark, drop=1), "drop_id")                 # id 1
    vt.evolve_partition_spec("url", ("bucket", 4))             # id 2
    vt.commit(_urls(spark, tag="b", drop=2), "url")            # id 3
    vt.commit(_urls(spark, tag="c", drop=3), "url")            # id 4
    before = _rows(vt.read())
    vt.expire_snapshots(keep_last=2)   # truncates past the evolve
    snaps = vt.snapshots()
    assert snaps[0]["id"] == 3 and snaps[0].get("spec_set")
    assert vt.partition_spec() == {
        "partition_col": "url",
        "transform": {"kind": "bucket", "n": 4}}
    assert _rows(vt.read()) == before
    # later commits still validate and lay out under the evolved spec
    sid = vt.commit(_urls(spark, tag="d", drop=4), "url")
    tf = {"kind": "bucket", "n": 4}
    snap = next(s for s in vt.snapshots() if s["id"] == sid)
    for key in snap["parts"]:
        got = vt.read(partitions=[key]) \
                .where(F.col("drop_id") == 4).select("url").collect()
        assert all(_transform_py(tf, r["url"]) == key for r in got)
    # and source-column pruning still works from the truncated manifest
    u = before[0][0]
    assert vt.plan_files(where=[("url", "==", u)])[
        "partitions_pruned"] > 0


def test_evolve_guards(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no snapshots"):
        vt.evolve_partition_spec("url", ("bucket", 4))
    vt.commit(_urls(spark), "drop_id")
    with pytest.raises(ValueError, match="not in table columns"):
        vt.evolve_partition_spec("nope", ("bucket", 4))
    with pytest.raises(ValueError, match="requires partition_col"):
        vt.evolve_partition_spec(None, ("bucket", 4))
    # operation="evolve" is internal to evolve_partition_spec
    with pytest.raises(ValueError, match="internal"):
        vt.commit(_urls(spark), "drop_id", operation="evolve")


SCHEMA = "drop_id INT, url STRING, text STRING"


def _words(df):
    return df.select("url",
                     F.posexplode(F.split("text", " "))
                     .alias("pos", "w"))


def test_sync_keyed_across_evolve_splits_ranges(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame(
        [(1, "a", "x y z"), (1, "b", "p q"),
         (2, "c", "one two")], SCHEMA), "drop_id")             # id 1
    dst = str(tmp_path / "dv")
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["synced"] and res["keys_inserted"] == 3
    derived_before = sorted(
        tuple(r) for r in
        VersionedTable(spark, dst).read()
        .select("url", "pos", "w").collect())
    # source evolves its layout: rows preserved, whole key space moves
    src.evolve_partition_spec("url", ("bucket", 4))            # id 2
    res2 = sync_keyed(spark, src.root, dst, _words, key_col="url",
                      n_buckets=4)
    # watermark advances across the boundary with NO derived rewrite
    assert res2["synced"] and res2["dst_snapshot"] is None
    assert res2["buckets_rewritten"] == [] and \
        res2["keys_inserted"] == 0
    assert len(VersionedTable(spark, dst).snapshots()) == 1
    # a mixed backlog (append AFTER the evolve) reconciles in one
    # call — merge_into, the hash-layout append primitive (a plain
    # commit would dynamic-overwrite the bucket)
    src.merge_into(spark.createDataFrame(
        [(3, "d", "new words here")], SCHEMA), ["url"])        # id 3
    res3 = sync_keyed(spark, src.root, dst, _words, key_col="url",
                      n_buckets=4)
    assert res3["synced"] and res3["keys_inserted"] == 1
    got = sorted(tuple(r) for r in
                 VersionedTable(spark, dst).read()
                 .select("url", "pos", "w").collect())
    assert got == sorted(derived_before + [
        ("d", 0, "new"), ("d", 1, "words"), ("d", 2, "here")])
    # and a backlog SPANNING the evolve (fresh consumer from 0) works:
    # the sub-range split handles evolve + data in one sync call
    dst2 = str(tmp_path / "dv2")
    res4 = sync_keyed(spark, src.root, dst2, _words, key_col="url",
                      n_buckets=4)
    assert res4["synced"] and res4["keys_inserted"] == 4
    got2 = sorted(tuple(r) for r in
                  VersionedTable(spark, dst2).read()
                  .select("url", "pos", "w").collect())
    assert got2 == got


def test_sync_aligned_rejects_transformed_source(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "z")], SCHEMA),
        "url", partition_transform=("bucket", 4))
    with pytest.raises(ValueError, match="IDENTITY-partitioned"):
        sync_aligned(spark, src.root, str(tmp_path / "dv"),
                     lambda df: df)


def test_sync_aligned_spec_change_is_contract_error(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "z")], SCHEMA), "drop_id")
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst,
                 lambda df: df.select("drop_id", "url"))
    # identity -> identity on a DIFFERENT column: the recorded
    # alignment contract no longer matches — surfaced with the
    # full_resync pointer, never a silent mixed-grain sync
    src.evolve_partition_spec("url")
    with pytest.raises(ValueError, match="full_resync"):
        sync_aligned(spark, src.root, dst,
                     lambda df: df.select("drop_id", "url"))


def test_sync_keyed_evolve_after_staged_snapshot(spark, tmp_path):
    """Review finding: the evolve split point must land on a PUBLISHED
    snapshot — when the entry just before the evolve is a staged
    (quarantined) commit, the sub-range cut moves down to the nearest
    published id instead of wedging every sync on the staged-endpoint
    error."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame(
        [(1, "a", "x y"), (1, "b", "z")], SCHEMA), "drop_id")     # id 1
    dst = str(tmp_path / "dv")
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["synced"] and res["keys_inserted"] == 2
    # a failed-audit drop left pending, then the layout evolves
    src.commit(spark.createDataFrame(
        [(2, "q", "bad")], SCHEMA), "drop_id", staged=True)       # id 2
    src.evolve_partition_spec("url", ("bucket", 4))               # id 3
    res2 = sync_keyed(spark, src.root, dst, _words, key_col="url",
                      n_buckets=4)
    assert res2["synced"] and res2["keys_inserted"] == 0
    assert res2["dst_snapshot"] is None
    # the quarantined rows never reached the derived table
    got = {r.url for r in
           VersionedTable(spark, dst).read().select("url").collect()}
    assert got == {"a", "b"}
