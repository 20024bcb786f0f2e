"""Write-audit-publish on VersionedTable (Iceberg WAP —
``commit(staged=True)`` / ``publish``) and the ingest audit gate.

The contract under test:
  * a staged commit writes data but the LIVE view never includes it —
    read(), changed_partitions, read_incremental all behave as if the
    commit hadn't happened;
  * the staged snapshot is readable ONLY at its own explicit pin
    (parent view + staged changes — the AUDIT view);
  * publish is a metadata-only cherry-pick: the published partitions
    reference the STAGED commit's data directories (no rewrite), and
    the publish id is where incremental consumers see the append;
  * publish is idempotent (crash between publish and a caller's
    marker replays safely) and CONFLICT-CHECKED: a partition changed
    between stage and publish — by a commit, or by a merge-on-read
    delete touching it — raises unless force=True;
  * a layout-only compaction between stage and publish is not a
    conflict;
  * an explicit table property on a staged commit never becomes the
    published table's configuration;
  * expiry GCs an abandoned (unpublished, untagged) staged snapshot;
    a TAGGED one survives compaction still reading its audit view,
    while the live lineage folds from the parent view underneath;
  * expiry never changes the live view under staged survivors: a
    compacted staged entry does not heal a truncation gap, and the
    newest published entry survives a staged tail;
  * the ingest jobs' ``audit=`` gate stages each drop, shows the audit
    exactly the rows the published table would gain, publishes on
    pass, and quarantines on fail — live readers never see a rejected
    drop, and the drop stays pending for a later re-stage.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import VersionedTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "url STRING, d STRING, v INT")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_staged_commit_invisible_until_publish(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1)]), "d")
    dirs_before = sorted(os.listdir(os.path.join(vt.root, "data")))
    sid = vt.commit(_mk(spark, [("u2", "b", 2)]), "d", staged=True)

    # live surfaces: nothing happened
    assert _rows(vt.read()) == [("u1", "a", 1)]
    assert vt.changed_partitions(1) == {
        "appended": [], "rewritten": [], "dropped": [], "evolved": []}
    assert _rows(vt.read_incremental(1)) == []
    # audit view at the explicit pin: parent + staged changes
    assert _rows(vt.read(snapshot_id=sid)) == [
        ("u1", "a", 1), ("u2", "b", 2)]

    pid = vt.publish(sid)
    assert _rows(vt.read()) == [("u1", "a", 1), ("u2", "b", 2)]
    # publish referenced the staged data dirs — no new data written
    assert sorted(os.listdir(os.path.join(vt.root, "data"))) \
        != dirs_before  # the STAGED commit wrote its dir...
    assert vt.snapshots()[-1]["parts"] \
        == next(s for s in vt.snapshots() if s["id"] == sid)["parts"]
    # incremental consumers see the append AT the publish id
    assert vt.changed_partitions(sid) == {
        "appended": ["b"], "rewritten": [], "dropped": [], "evolved": []}
    assert _rows(vt.read_incremental(sid)) == [("u2", "b", 2)]
    # idempotent re-publish (crash-replay window)
    assert vt.publish(sid) == pid


def test_publish_conflict_detection_and_force(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "b", 1)]), "d")
    sid = vt.commit(_mk(spark, [("u3", "b", 3)]), "d", staged=True)
    # partition b changes between stage and publish
    vt.commit(_mk(spark, [("u4", "b", 4)]), "d")
    with pytest.raises(ValueError, match="changed since it was staged"):
        vt.publish(sid)
    # force: the audited data wins
    vt.publish(sid, force=True)
    assert _rows(vt.read()) == [("u3", "b", 3)]

    # a DISJOINT intervening commit is not a conflict
    sid2 = vt.commit(_mk(spark, [("u5", "c", 5)]), "d", staged=True)
    vt.commit(_mk(spark, [("u6", "e", 6)]), "d")
    vt.publish(sid2)
    assert ("u5", "c", 5) in _rows(vt.read())

    # a merge-on-read delete recorded since, touching a staged
    # partition, is a conflict too (the audit never saw the delete)
    sid3 = vt.commit(_mk(spark, [("u7", "c", 7)]), "d", staged=True)
    vt.delete_where([("url", "==", "u5")], mode="merge_on_read")
    with pytest.raises(ValueError, match="row_delete"):
        vt.publish(sid3)


def test_publish_validation_errors(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    sid = vt.commit(_mk(spark, [("u1", "a", 1)]), "d")
    with pytest.raises(ValueError, match="not a staged commit"):
        vt.publish(sid)
    with pytest.raises(ValueError, match="unknown snapshot"):
        vt.publish(99)


def test_publish_ignores_layout_only_compaction(spark, tmp_path):
    """Stage, compact the live table, publish — the compaction moved
    partition dirs without touching rows, so it is no conflict."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    p1 = _mk(spark, [("u1", "a", 1), ("u2", "a", 2)]).repartition(2)
    p2 = _mk(spark, [("u3", "b", 3), ("u4", "b", 4)]).repartition(2)
    vt.commit(p1.unionByName(p2), "d")
    aid = vt.commit(_mk(spark, [("u3", "b", 30)]), "d", staged=True)
    _, stats = vt.rewrite_files(target_bytes=1 << 30)
    assert stats["partitions_rewritten"] == 2
    vt.publish(aid)
    assert _rows(vt.read()) == [("u1", "a", 1), ("u2", "a", 2),
                                ("u3", "b", 30)]


def test_staged_property_does_not_leak(spark, tmp_path):
    """An explicit table property on a quarantined (staged) commit
    must not rewrite the published configuration: inheritance prefers
    published recordings."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1)]), "d", stats_cols=["url"],
              sort_order=["url"])
    vt.commit(_mk(spark, [("u2", "b", 2)]), "d", staged=True,
              stats_cols=["v"], sort_order=["v"])
    assert vt.sort_order() == ["url"]
    sid = vt.commit(_mk(spark, [("u3", "c", 3)]), "d")
    e = next(s for s in vt.snapshots() if s["id"] == sid)
    assert e["stats_cols"] == ["url"] and e["sort_order"] == ["url"]


def test_expiry_gap_not_healed_by_staged_survivor(spark, tmp_path):
    """Expiry must never change the live view. A compacted STAGED
    survivor sits between a DROPPED rollback and the next published
    survivor; it is invisible to live folds, so it must not 'heal' the
    truncation gap: the next published survivor still has to compact
    (re-stating the rollback's delete state), or the tagged
    pre-rollback survivor's takedown silently re-applies after a pure
    maintenance op."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("a", "p1", 1), ("c", "p2", 2)]), "d",
              stats_cols=["url"])                               # 1
    vt.delete_where([("url", "==", "a")], mode="merge_on_read")  # 2
    vt.commit(_mk(spark, [("g", "p7", 7)]), "d")                # 3
    vt.create_tag("pre", 3)
    vt.rollback_to(1)            # 4: url a back, partition p7 gone
    aid = vt.commit(_mk(spark, [("i", "p9", 9)]), "d",
                    staged=True)                                # 5
    vt.create_tag("quarantine", aid)
    vt.commit(_mk(spark, [("h", "p8", 8)]), "d")                # 6
    vt.commit(_mk(spark, [("f", "p6", 6)]), "d")                # 7
    before = _rows(vt.read())
    assert before == [("a", "p1", 1), ("c", "p2", 2), ("f", "p6", 6),
                      ("h", "p8", 8)]
    vt.expire_snapshots(keep_last=2)   # drops ids 1, 2, 4
    assert [s["id"] for s in vt.snapshots()] == [3, 5, 6, 7]
    assert _rows(vt.read()) == before
    # each tag keeps ITS state: before the rollback url a is filtered
    # and p7 live; the quarantined audit (after it) sees url a again
    assert _rows(vt.read(ref="pre")) == [("c", "p2", 2),
                                         ("g", "p7", 7)]
    assert _rows(vt.read(ref="quarantine")) == [
        ("a", "p1", 1), ("c", "p2", 2), ("i", "p9", 9)]


def test_expiry_keeps_last_published_under_staged_tail(spark,
                                                       tmp_path):
    """A staged tail must not push the newest PUBLISHED entry out of
    the keep window: dropping it would lose the last takedown from
    the live fold (no published survivor left to compact it onto)."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("a", "p1", 1), ("c", "p2", 2)]), "d",
              stats_cols=["url"])                               # 1
    vt.delete_where([("url", "==", "a")], mode="merge_on_read")  # 2
    vt.commit(_mk(spark, [("g", "p7", 7)]), "d")                # 3
    vt.commit(_mk(spark, [("i", "p9", 9)]), "d", staged=True)   # 4
    aid = vt.commit(_mk(spark, [("i", "p9", 10)]), "d",
                    staged=True)                                # 5
    before = _rows(vt.read())
    assert before == [("c", "p2", 2), ("g", "p7", 7)]
    vt.expire_snapshots(keep_last=2)   # the window = the staged tail
    assert [s["id"] for s in vt.snapshots()] == [3, 4, 5]
    assert _rows(vt.read()) == before  # the takedown still applies
    # the staged pin still reads its audit view under the takedown
    assert _rows(vt.read(snapshot_id=aid)) == [
        ("c", "p2", 2), ("g", "p7", 7), ("i", "p9", 10)]


def test_abandoned_staged_snapshot_gcd_at_expiry(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1)]), "d")
    sid = vt.commit(_mk(spark, [("u2", "b", 2)]), "d", staged=True)
    staged_rel = next(s for s in vt.snapshots()
                      if s["id"] == sid)["parts"]["b"]
    vt.commit(_mk(spark, [("u3", "c", 3)]), "d")
    vt.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert _rows(vt.read()) == [("u1", "a", 1), ("u3", "c", 3)]
    # the quarantined data is physically gone and the id unpublishable
    top = staged_rel.split(os.sep)[0]
    assert not os.path.exists(os.path.join(vt.root, "data", top))
    with pytest.raises(ValueError, match="unknown snapshot"):
        vt.publish(sid)


def test_tagged_staged_snapshot_survives_compaction(spark, tmp_path):
    """A quarantined audit kept by tag: expiry compacts it, the tag
    still reads the AUDIT view (parent + staged), and the live lineage
    folds from the PARENT view underneath — later survivors must not
    lose the truncated prefix's state."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_mk(spark, [("u1", "a", 1)]), "d")                # 1
    sid = vt.commit(_mk(spark, [("u2", "b", 2)]), "d",
                    staged=True)                                # 2
    vt.create_tag("quarantine", sid)
    vt.commit(_mk(spark, [("u3", "c", 3)]), "d")                # 3
    vt.commit(_mk(spark, [("u4", "e", 4)]), "d")                # 4
    vt.expire_snapshots(keep_last=1)
    # live lineage intact: u1 (pre-staged base) carried through the
    # compacted staged entry's base_parts into every later fold
    assert _rows(vt.read()) == [("u1", "a", 1), ("u3", "c", 3),
                                ("u4", "e", 4)]
    # the tag still reads the audit view
    assert _rows(vt.read(ref="quarantine")) == [
        ("u1", "a", 1), ("u2", "b", 2)]
    # a compacted staged entry can no longer be published
    with pytest.raises(ValueError, match="changed since it was staged"):
        vt.publish(sid)
    # releasing the tag lets the next expiry purge the audit data
    vt.drop_tag("quarantine")
    vt.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert _rows(vt.read()) == [("u1", "a", 1), ("u3", "c", 3),
                                ("u4", "e", 4)]


def test_ingest_audit_gate_quarantines_and_resumes(spark, tmp_path):
    """The production WAP composition: drop 1 passes its audit and
    publishes; drop 2 fails (too few rows) and is quarantined — live
    readers never see it, the job reports the staged snapshot, and a
    re-run with a passing audit publishes the SAME drop content."""
    from ocr_spark.plans.ingest_job import run_ingest_job
    from tests.test_ingest import _latest, _page, _write_drop

    drops = str(tmp_path / "drops")
    _write_drop(drops, "day1", [
        ("https://w.example.com/u1", "2026-01-01T00:00:00Z", _page("one")),
        ("https://w.example.com/u2", "2026-01-01T00:00:00Z", _page("two")),
    ])
    _write_drop(drops, "day2", [
        ("https://w.example.com/u3", "2026-01-02T00:00:00Z",
         _page("three")),
    ])
    out = str(tmp_path / "out")

    # audit: require at least 2 docs per drop — day2 fails
    st = run_ingest_job(spark, drops, out, n_buckets=8,
                        audit=lambda df: df.count() >= 2)
    assert not st["completed"]
    assert st["drops_done"] == ["day1"]
    q = st["quarantined"]
    assert q["drop"] == "day2"
    vt = VersionedTable(spark, out + "/results")
    live = _latest(spark, out)
    assert {u for u, _, _ in live} == {"https://w.example.com/u1",
                                       "https://w.example.com/u2"}
    # the quarantined rows are inspectable at the staged pin only
    aud = vt.read(snapshot_id=q["staged_snapshot"])
    assert aud.where(F.col("drop_id") == "day2").count() == 1

    # reference: an unaudited run over the same drops
    out_ref = str(tmp_path / "ref")
    run_ingest_job(spark, drops, out_ref, n_buckets=8)

    # operator relaxes the audit; the pending drop re-stages and
    # publishes — final view byte-identical to the unaudited run
    st2 = run_ingest_job(spark, drops, out, n_buckets=8,
                         audit=lambda df: df.count() >= 1)
    assert st2["completed"] and st2["drops_done"] == ["day1", "day2"]
    assert _latest(spark, out) == _latest(spark, out_ref)

    # audit gate + merge_latest is rejected loudly
    with pytest.raises(ValueError, match="recrawl='append'"):
        run_ingest_job(spark, drops, str(tmp_path / "m"), n_buckets=8,
                       recrawl="merge_latest", audit=lambda df: True)
