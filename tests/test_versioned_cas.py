"""Cross-process optimistic-concurrency commits.

All table metadata — snapshots and refs (tags) — is ONE
document, claimed as ``_v/<n>.json`` by a
compare-and-swap (atomic ``os.link``); the lock file is only
contention avoidance. Contract under test:
  * N real PROCESSES x M appends each, lock DISABLED (pure CAS): every
    append lands, snapshot ids are exactly 1..N*M, no entry lost;
  * N real processes racing ``create_tag`` and merge-on-read deletes
    with the lock disabled lose no tag or snapshot;
  * ``commit()`` rebases and retries after losing the CAS to a rival
    committer (fresh read, re-numbered id, both commits' rows live);
  * a crash right after a ``publish`` claim is replay-safe: the
    re-run returns the same publish id and the staged rows are live
    exactly once;
  * lock takeover no longer needs pid-liveness: an expired lease is
    taken over even when the recorded pid is alive (safe — CAS guards
    correctness), and no ``_LOCK`` file survives;
  * legacy tables read fine — mirror file only (no ``_v/``), or a
    list-shaped ``_v/<n>.json`` with ``_refs.json`` beside it — and
    their first new write claims one document carrying the full
    history and refs;
  * a manifest write that fails mid-dump claims nothing and leaves no
    temp file in ``_v/``;
  * deep version history is pruned, recent versions kept.
"""

from __future__ import annotations

import errno
import json
import multiprocessing as mp
import os
import time

import pytest

from ocr_spark.sources.io import VersionedTable, _ManifestLock


def _entry(sid, note="", partition_col="p", replace_all=False):
    return {"id": sid, "ts": 0.0, "note": note, "operation": "write",
            "partition_col": partition_col, "replace_all": replace_all,
            "parts": {}}


def _append_worker(args):
    root, wid, n = args
    os.environ["OCR_SPARK_NO_LOCK"] = "1"
    vt = VersionedTable(None, root)  # manifest ops never touch spark
    got = []
    for i in range(n):
        def append(doc, note=f"w{wid}c{i}"):
            snaps = doc["snapshots"]
            sid = (snaps[-1]["id"] + 1) if snaps else 1
            snaps.append(_entry(sid, note))
            return sid
        # a lost claim rebases inside _cas: re-read, re-number, retry
        got.append(vt._cas(append))
    return got


def test_multiprocess_appends_lose_nothing(tmp_path):
    root = str(tmp_path / "t")
    N, M = 4, 25
    ctx = mp.get_context("fork")
    with ctx.Pool(N) as pool:
        ids = pool.map(_append_worker,
                       [(root, w, M) for w in range(N)])
    flat = sorted(i for part in ids for i in part)
    assert flat == list(range(1, N * M + 1))
    vt = VersionedTable(None, root)
    snaps = vt.snapshots()
    assert [s["id"] for s in snaps] == flat
    notes = {s["note"] for s in snaps}
    assert notes == {f"w{w}c{i}" for w in range(N) for i in range(M)}
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_commit_rebases_after_cas_loss(spark, tmp_path, monkeypatch):
    # disable the contention lock so the rival can interleave — this
    # IS the cross-host scenario the CAS exists for
    monkeypatch.setenv("OCR_SPARK_NO_LOCK", "1")
    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    df = lambda p, v: spark.createDataFrame([(p, v)], "p INT, v STRING")
    vt.commit(df(1, "base"), "p")
    rival = VersionedTable(spark, root)
    state = {"fired": False, "rival_sid": None}
    real = vt._write_manifest

    def raced(version, doc):
        if not state["fired"]:
            state["fired"] = True
            # rival claims the next version between our read and write
            state["rival_sid"] = rival.commit(df(2, "rival"), "p")
        return real(version, doc)

    vt._write_manifest = raced
    sid = vt.commit(df(3, "mine"), "p")
    vt._write_manifest = real
    assert state["rival_sid"] == 2 and sid == 3  # rebased, re-numbered
    rows = {(r["p"], r["v"]) for r in vt.read().collect()}
    assert rows == {(1, "base"), (2, "rival"), (3, "mine")}
    ids = [s["id"] for s in vt.snapshots()]
    assert ids == [1, 2, 3]


def test_lock_lease_takeover_without_pid_liveness(tmp_path):
    root = str(tmp_path)
    lockfile = os.path.join(root, "_LOCK")
    # a LIVE pid (our own) holds the lock, but the lease has expired:
    # pre-r5 pid-liveness would block to timeout; now age wins
    with open(lockfile, "w") as f:
        f.write(str(os.getpid()))
    old = time.time() - _ManifestLock.lease_s - 5
    os.utime(lockfile, (old, old))
    t0 = time.time()
    with _ManifestLock(root, timeout=10.0):
        assert time.time() - t0 < 5.0  # took over, didn't wait out
    assert not os.path.exists(lockfile)
    # a FRESH lock held by a live pid still blocks to timeout
    with open(lockfile, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(TimeoutError):
        with _ManifestLock(root, timeout=0.3):
            pass
    os.unlink(lockfile)


def test_legacy_mirror_table_bootstraps_into_cas(spark, tmp_path):
    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    df = lambda p, v: spark.createDataFrame([(p, v)], "p INT, v STRING")
    vt.commit(df(1, "a"), "p")
    vt.commit(df(2, "b"), "p")
    # hand-write a table from before versioned manifests existed: the
    # snapshot list lives only in the unversioned _snapshots.json
    import shutil
    snaps = vt.snapshots()
    shutil.rmtree(os.path.join(root, "_v"))
    with open(os.path.join(root, "_snapshots.json"), "w") as f:
        json.dump(snaps, f, indent=1)
    fresh = VersionedTable(spark, root)
    assert [s["id"] for s in fresh.snapshots()] == [1, 2]  # mirror read
    fresh.commit(df(3, "c"), "p")
    with open(os.path.join(root, "_v", "1.json")) as f:
        v1 = json.load(f)
    # full history carried
    assert [s["id"] for s in v1["snapshots"]] == [1, 2, 3]
    assert {r["v"] for r in fresh.read().collect()} == {"a", "b", "c"}


def test_legacy_split_layout_reads_and_folds(spark, tmp_path):
    """A table from before refs moved into the versioned document:
    list-shaped ``_v/1.json`` and a tag in ``_refs.json``. Reads and
    tags work unchanged; the first commit claims ONE document carrying
    both, and the old files are never written again."""
    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    vt.commit(spark.createDataFrame([(1, "a")], "p INT, v STRING"), "p")
    vt.create_tag("t1")
    with open(os.path.join(root, "_v",
                           f"{vt._latest_version()}.json")) as f:
        doc = json.load(f)
    import shutil
    shutil.rmtree(os.path.join(root, "_v"))
    os.makedirs(os.path.join(root, "_v"))
    legacy = {"_v/1.json": doc["snapshots"], "_refs.json": doc["refs"]}
    for name, obj in legacy.items():
        with open(os.path.join(root, name), "w") as f:
            json.dump(obj, f, indent=1)

    old = VersionedTable(spark, root)
    assert [s["id"] for s in old.snapshots()] == [1]
    assert set(old.refs()) == {"t1"}
    assert {(r.p, r.v) for r in old.read().collect()} == {(1, "a")}
    assert {(r.p, r.v) for r in old.read(ref="t1").collect()} == {
        (1, "a")}
    assert old.create_tag("t1") == 1   # idempotent re-tag: no write
    assert old._latest_version() == 1

    sid = old.commit(spark.createDataFrame([(2, "b")],
                                           "p INT, v STRING"), "p")
    assert sid == 2 and old._latest_version() == 2
    with open(os.path.join(root, "_v", "2.json")) as f:
        v2 = json.load(f)
    assert sorted(v2) == ["refs", "snapshots"]
    assert [s["id"] for s in v2["snapshots"]] == [1, 2]
    assert v2["refs"]["t1"]["snapshot_id"] == 1
    old.create_tag("t2")
    assert set(VersionedTable(spark, root).refs()) == {"t1", "t2"}
    assert {(r.p, r.v) for r in old.read(ref="t2").collect()} == {
        (1, "a"), (2, "b")}
    for name, obj in legacy.items():   # never rewritten
        with open(os.path.join(root, name)) as f:
            assert json.load(f) == obj


class _LiveColumns:
    """Stands in for the live read in a worker without a Spark
    session: the merge-on-read delete only asks it for the column
    names its predicate is validated against."""
    columns = ["p", "k"]


def _race_worker(args):
    root, wid, m = args
    os.environ["OCR_SPARK_NO_LOCK"] = "1"
    vt = VersionedTable(None, root)
    vt._read = lambda doc, *a, **kw: _LiveColumns()
    for i in range(m):
        vt.create_tag(f"t{wid}_{i}")
        # a metadata-only snapshot append (merge-on-read delete)
        vt.delete_where([("k", "==", f"w{wid}i{i}")],
                        mode="merge_on_read", note=f"w{wid}i{i}")


def test_multiprocess_tags_and_deletes_lose_nothing(spark, tmp_path):
    """Tags and snapshot appends raced by real processes (more than
    cores) with the lock DISABLED (the cross-host case): every update
    lands because both live in the one CAS-claimed document — neither
    is a read-modify-write of a side file."""
    root = str(tmp_path / "t")
    N, M = 6, 8
    vt = VersionedTable(spark, root)
    vt.commit(spark.createDataFrame([(1, "x")], "p INT, k STRING"), "p")
    # spawn: this process runs a JVM gateway, forking it is unsafe
    ctx = mp.get_context("spawn")
    with ctx.Pool(N) as pool:
        pool.map_async(_race_worker,
                       [(root, w, M) for w in range(N)]).get(timeout=300)
    vt = VersionedTable(spark, root)
    assert set(vt.refs()) == {f"t{w}_{i}"
                              for w in range(N) for i in range(M)}
    snaps = vt.snapshots()
    assert [s["id"] for s in snaps] == list(range(1, N * M + 2))
    assert {s["note"] for s in snaps[1:]} == {
        f"w{w}i{i}" for w in range(N) for i in range(M)}
    assert sorted(os.listdir(root)) == ["_v", "data"]
    assert {(r.p, r.k) for r in vt.read().collect()} == {(1, "x")}


def test_failed_manifest_dump_leaves_no_temp_file(spark, tmp_path,
                                                  monkeypatch):
    """A disk that fills while the next ``_v/<n>.json`` is being dumped:
    the commit raises, claims nothing, the table still reads its
    previous snapshot and ``_v/`` holds no ``.tmp-`` file."""
    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    df = lambda p, v: spark.createDataFrame([(p, v)], "p INT, v STRING")
    vt.commit(df(1, "a"), "p")
    nxt = df(2, "b")

    def full_disk(*a, **kw):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(json, "dump", full_disk)
    with pytest.raises(OSError, match="No space"):
        vt.commit(nxt, "p")
    monkeypatch.undo()
    assert [s["id"] for s in vt.snapshots()] == [1]
    assert [(r.p, r.v) for r in vt.read().collect()] == [(1, "a")]
    assert not [n for n in os.listdir(os.path.join(root, "_v"))
                if n.startswith(".tmp-")]


def _link_then_crash(real):
    def link(src, dst, *a, **kw):
        real(src, dst, *a, **kw)   # the claim lands ...
        raise OSError("simulated crash after the manifest claim")
    return link


def test_publish_crash_after_claim_replays_same_id(spark, tmp_path,
                                                  monkeypatch):
    """The ingest audit's crash window: the publish claim lands, then
    the process dies before its done marker. The replay must find the
    existing publish entry — same id, no second entry — and the staged
    rows are live exactly once."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    df = lambda p, v: spark.createDataFrame([(p, v)], "p INT, v STRING")
    vt.commit(df(1, "base"), "p")
    aid = vt.commit(df(2, "staged"), "p", staged=True)
    monkeypatch.setattr(os, "link", _link_then_crash(os.link))
    with pytest.raises(OSError, match="simulated crash"):
        vt.publish(aid)
    monkeypatch.undo()
    pub = [s["id"] for s in vt.snapshots()
           if s.get("operation") == "publish"]
    assert pub == [aid + 1]
    assert vt.publish(aid) == pub[0]   # replay is a no-op
    assert [s["id"] for s in vt.snapshots()
            if s.get("operation") == "publish"] == pub
    assert sorted((r.p, r.v) for r in vt.read().collect()) == [
        (1, "base"), (2, "staged")]


def test_version_history_pruned(tmp_path):
    root = str(tmp_path / "t")
    vt = VersionedTable(None, root)
    n = 2 * VersionedTable._KEEP_VERSIONS + 20
    for i in range(1, n + 1):
        vt._cas(lambda doc, i=i: doc["snapshots"].append(
            _entry(i, partition_col=None, replace_all=True)))
    versions = sorted(int(f[:-5]) for f in
                      os.listdir(os.path.join(root, "_v"))
                      if f.endswith(".json"))
    assert versions[-1] == n
    assert len(versions) <= VersionedTable._KEEP_VERSIONS + 2
    assert versions[0] >= n - VersionedTable._KEEP_VERSIONS
    # the recent tail a lagging reader may resolve is intact
    assert versions[-VersionedTable._KEEP_VERSIONS:] == list(
        range(n - VersionedTable._KEEP_VERSIONS + 1, n + 1))
