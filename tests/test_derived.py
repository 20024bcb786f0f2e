"""Incremental derived-table maintenance (plans/derived.py) — the
consumer side of the VersionedTable CDC story, composed end-to-end.

Contract under test:
  * sync_aligned re-derives EXACTLY the source's changed partitions
    (pruned scan + dynamic overwrite; untouched derived partitions are
    carried by manifest reference — same bytes, same dirs), tombstones
    dropped ones, and advances the watermark with NO derived commit on
    a layout-only source range;
  * sync_keyed reconciles a hash-bucketed derived layout from the CDC
    changelog by KEY: a recrawl whose new capture yields fewer derived
    rows leaves no stale rows; a takedown retracts the key's rows and
    tombstones emptied buckets; only touched buckets rewrite;
  * exactly-once: a crash between the derived commit and the watermark
    save replays the same range and converges (deterministic
    transform), never losing or duplicating rows;
  * the contract (mode/key/layout/chunk params) is fixed at first sync;
    a watermark GC'd by source retention raises with a full_resync
    pointer, and full_resync rebuilds from the live view;
  * run_shards_job keeps a training-window chunk table in step with the
    versioned ingest results through appends and takedowns, equal to a
    from-scratch rebuild.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import ocr_spark.plans.derived as D
from ocr_spark.plans.derived import (run_shards_job, sync_aligned,
                                     sync_keyed)
from ocr_spark.sources.io import VersionedTable

SCHEMA = "drop_id INT, url STRING, text STRING"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _tcounts(df):
    # partition-local per-doc transform keeping the partition column
    return df.select("drop_id", "url",
                     F.size(F.split("text", " ")).alias("n"))


def _words(df):
    # keyed transform: one source row -> N derived rows (chunk-like)
    return df.select("url",
                     F.posexplode(F.split("text", " "))
                     .alias("pos", "w"))


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture()
def src(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(_df(spark, [(1, "a", "x y z"), (1, "b", "p q"),
                         (2, "c", "one two three four")]),
             "drop_id", note="day1", stats_cols=["url"])
    return t


def test_aligned_first_sync_then_noop(spark, src, tmp_path):
    dst = str(tmp_path / "dv")
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["synced"] and res["dst_snapshot"] == 1
    assert sorted(res["changed"]) == ["1", "2"]
    got = _rows(VersionedTable(spark, dst).read(), "drop_id", "url", "n")
    assert got == _rows(_tcounts(src.read()), "drop_id", "url", "n")
    # watermark caught up: second sync is a no-op, no commit
    res2 = sync_aligned(spark, src.root, dst, _tcounts)
    assert not res2["synced"] and res2["dst_snapshot"] is None
    assert len(VersionedTable(spark, dst).snapshots()) == 1


def test_aligned_append_rederives_only_new_partition(spark, src,
                                                     tmp_path):
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    dvt = VersionedTable(spark, dst)
    rel_before = dvt._resolve(None, None)[0]["1"]
    src.commit(_df(spark, [(3, "d", "five six")]), "drop_id")
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["changed"] == ["3"] and res["dropped"] == []
    # untouched derived partition carried by manifest reference —
    # literally the same files, the zero-rewrite property
    assert dvt._resolve(None, None)[0]["1"] == rel_before
    got = _rows(dvt.read(), "drop_id", "url", "n")
    assert got == _rows(_tcounts(src.read()), "drop_id", "url", "n")


def test_aligned_recrawl_and_mor_takedown_propagate(spark, src,
                                                    tmp_path):
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    # recrawl: url b recaptured into drop 3 (partition 1 rewritten,
    # partition 3 appended)
    src.merge_into(_df(spark, [(3, "b", "p q r s t")]), ["url"])
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert set(res["changed"]) == {"1", "3"}
    dvt = VersionedTable(spark, dst)
    assert _rows(dvt.read(), "drop_id", "url", "n") == _rows(
        _tcounts(src.read()), "drop_id", "url", "n")
    # metadata-only takedown: the source never rewrites data, yet the
    # pruned re-derive applies the pending delete filter
    src.delete_where([("url", "==", "c")], mode="merge_on_read")
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["changed"] == ["2"]
    assert _rows(dvt.read(), "url") == [("a",), ("b",)]
    assert _rows(dvt.read(), "drop_id", "url", "n") == _rows(
        _tcounts(src.read()), "drop_id", "url", "n")


def test_aligned_sync_across_rollback_of_takedown(spark, src,
                                                  tmp_path):
    """The restore path end-to-end: takedown synced to the derived
    table, then the takedown rolled back on the source — the next sync
    must bring the rows BACK (a rollback undoing a metadata-only MOR
    delete moves no partition dir; changed_partitions' delete-state
    diff is what makes the restore visible to consumers)."""
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    pre = src.snapshots()[-1]["id"]
    src.delete_where([("url", "==", "a")], mode="merge_on_read")
    res = sync_aligned(spark, src.root, dst, _tcounts)
    dvt = VersionedTable(spark, dst)
    assert res["changed"] == ["1"]
    assert _rows(dvt.read(), "url") == [("b",), ("c",)]
    src.rollback_to(pre)
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["synced"] and "1" in res["changed"]
    assert _rows(dvt.read(), "drop_id", "url", "n") == _rows(
        _tcounts(src.read()), "drop_id", "url", "n")
    assert ("a",) in _rows(dvt.read(), "url")


def test_keyed_sync_across_rollback_restores_chunks(spark, src,
                                                    tmp_path):
    """sync_keyed across a rollback-of-takedown: the CDC changelog
    emits the restored rows as inserts, the key re-derives, and only
    the key's buckets rewrite — never a shard rebuild."""
    dst = str(tmp_path / "dv")
    sync_keyed(spark, src.root, dst, _words, key_col="url",
               n_buckets=4)
    pre = src.snapshots()[-1]["id"]
    src.delete_where([("url", "==", "c")], mode="merge_on_read")
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["keys_deleted"] == 1
    dvt = VersionedTable(spark, dst)
    assert ("c",) not in _rows(dvt.read(), "url")
    src.rollback_to(pre)
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["synced"] and res["keys_inserted"] == 1
    # bounded: only c's bucket was touched in the restore sync
    c_bucket = spark.createDataFrame([("c",)], "url STRING").select(
        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("b")
    ).collect()[0].b
    assert (set(res["buckets_rewritten"]) | set(res["buckets_dropped"])
            ) == {c_bucket}
    assert _rows(dvt.read(), "url", "pos", "w") == _rows(
        _words(src.read()), "url", "pos", "w")


def test_sync_across_staged_publish(spark, src, tmp_path):
    """Staged (write-audit-publish) commits are invisible to derived
    consumers until publish: a staged commit on the source causes NO
    sync work (the watermark doesn't even advance — staged entries
    aren't published), and after publish exactly the staged
    partition reconciles."""
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    aid = src.commit(_df(spark, [(3, "d", "one two three")]), "drop_id",
                     staged=True)
    assert not sync_aligned(spark, src.root, dst, _tcounts)["synced"]
    src.publish(aid)
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["synced"] and res["changed"] == ["3"]
    assert res["dropped"] == []
    dvt = VersionedTable(spark, dst)
    assert _rows(dvt.read(), "drop_id", "url", "n") == _rows(
        _tcounts(src.read()), "drop_id", "url", "n")
    assert (3, "d", 3) in _rows(dvt.read(), "drop_id", "url", "n")
    assert not sync_aligned(spark, src.root, dst, _tcounts)["synced"]


def test_aligned_drop_only_and_layout_only_ranges(spark, src,
                                                  tmp_path):
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    dvt = VersionedTable(spark, dst)
    # drop-only range: partition 2 fully deleted -> derived tombstone,
    # nothing read or transformed
    src.delete_where(F.col("drop_id") == 2)
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["changed"] == [] and res["dropped"] == ["2"]
    assert _rows(dvt.read(), "url") == [("a",), ("b",)]
    # layout-only range: source compaction advances the watermark with
    # NO derived commit at all
    n_snaps = len(dvt.snapshots())
    src.rewrite_files()
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["synced"] and res["dst_snapshot"] is None
    assert res["changed"] == [] and res["dropped"] == []
    assert len(dvt.snapshots()) == n_snaps
    # and the watermark really advanced: next sync is a no-op
    assert not sync_aligned(spark, src.root, dst, _tcounts)["synced"]


def test_aligned_contract_fixed_at_first_sync(spark, src, tmp_path):
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)
    with pytest.raises(ValueError, match="contract is fixed"):
        sync_keyed(spark, src.root, dst, _words, key_col="url")
    # and a transform that loses the partition column fails loudly
    src.commit(_df(spark, [(4, "e", "a b")]), "drop_id")
    with pytest.raises(ValueError, match="partition column"):
        sync_aligned(spark, src.root, dst,
                     lambda df: df.select("url"))


def test_aligned_expired_watermark_raises_then_full_resync(
        spark, src, tmp_path):
    dst = str(tmp_path / "dv")
    sync_aligned(spark, src.root, dst, _tcounts)          # watermark=1
    src.commit(_df(spark, [(3, "d", "x")]), "drop_id")
    src.commit(_df(spark, [(4, "e", "y")]), "drop_id")
    src.expire_snapshots(keep_last=1)                     # GC snap 1
    with pytest.raises(ValueError, match="full_resync"):
        sync_aligned(spark, src.root, dst, _tcounts)
    res = sync_aligned(spark, src.root, dst, _tcounts,
                       full_resync=True)
    assert res["synced"] and res["changed"] is None
    got = _rows(VersionedTable(spark, dst).read(),
                "drop_id", "url", "n")
    assert got == _rows(_tcounts(src.read()), "drop_id", "url", "n")
    # re-pinned: incremental resumes from the rebuilt watermark
    src.commit(_df(spark, [(5, "f", "z w")]), "drop_id")
    res = sync_aligned(spark, src.root, dst, _tcounts)
    assert res["changed"] == ["5"]


def _keyed_model(src_df, n_buckets=4):
    out = _words(src_df)
    return out.withColumn(
        "shard_bucket",
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"))


def test_keyed_recrawl_fewer_rows_leaves_no_stale(spark, src,
                                                  tmp_path):
    dst = str(tmp_path / "dk")
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["synced"] and res["keys_inserted"] == 3
    dvt = VersionedTable(spark, dst)
    cols = ("url", "pos", "w", "shard_bucket")
    assert _rows(dvt.read(), *cols) == _rows(_keyed_model(src.read()),
                                             *cols)
    # recrawl: url c goes 4 words -> 1 word. Key-grain reconcile must
    # retract ALL old rows (a derived-row MERGE would leave 3 stale)
    src.merge_into(_df(spark, [(3, "c", "solo")]), ["url"])
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["keys_deleted"] == 1 and res["keys_inserted"] == 1
    # only url c's bucket rewrote
    c_bucket = _keyed_model(src.read().where(F.col("url") == "c")) \
        .select("shard_bucket").first()[0]
    assert res["buckets_rewritten"] == [c_bucket]
    assert _rows(dvt.read(), *cols) == _rows(_keyed_model(src.read()),
                                             *cols)


def test_keyed_takedown_tombstones_emptied_bucket(spark, tmp_path):
    svt = VersionedTable(spark, str(tmp_path / "s"))
    svt.commit(_df(spark, [(1, "a", "x y"), (1, "b", "p")]),
               "drop_id")
    dst = str(tmp_path / "dk")
    sync_keyed(spark, svt.root, dst, _words, key_col="url",
               n_buckets=64)  # wide: each url alone in its bucket
    dvt = VersionedTable(spark, dst)
    assert dvt.read().count() == 3
    svt.delete_where([("url", "==", "a")])
    res = sync_keyed(spark, svt.root, dst, _words, key_col="url",
                     n_buckets=64)
    assert res["keys_deleted"] == 1 and res["keys_inserted"] == 0
    assert len(res["buckets_dropped"]) == 1
    assert res["buckets_rewritten"] == []
    assert _rows(dvt.read(), "url", "w") == [("b", "p")]


def test_keyed_crash_before_watermark_replays_identically(
        spark, src, tmp_path, monkeypatch):
    dst = str(tmp_path / "dk")
    sync_keyed(spark, src.root, dst, _words, key_col="url",
               n_buckets=4)
    src.commit(_df(spark, [(3, "d", "new words here")]), "drop_id")
    real = D._save_state

    def boom(root, st):
        raise RuntimeError("crash before watermark")

    monkeypatch.setattr(D, "_save_state", boom)
    with pytest.raises(RuntimeError, match="crash before watermark"):
        sync_keyed(spark, src.root, dst, _words, key_col="url",
                   n_buckets=4)
    monkeypatch.setattr(D, "_save_state", real)
    # the derived COMMIT landed but the watermark did not: the replay
    # re-syncs the same range and converges (deterministic transform)
    res = sync_keyed(spark, src.root, dst, _words, key_col="url",
                     n_buckets=4)
    assert res["synced"] and res["keys_inserted"] == 1
    dvt = VersionedTable(spark, dst)
    cols = ("url", "pos", "w", "shard_bucket")
    assert _rows(dvt.read(), *cols) == _rows(_keyed_model(src.read()),
                                             *cols)
    # superseded crashed commit is retained history, not corruption
    assert len(dvt.snapshots()) == 3
    assert not sync_keyed(spark, src.root, dst, _words, key_col="url",
                          n_buckets=4)["synced"]


def test_keyed_rejects_staged_only_and_bucket_col_clash(spark,
                                                        tmp_path):
    svt = VersionedTable(spark, str(tmp_path / "s"))
    svt.commit(_df(spark, [(1, "a", "x")]), "drop_id", staged=True)
    with pytest.raises(ValueError, match="STAGED"):
        sync_keyed(spark, svt.root, str(tmp_path / "d"), _words,
                   key_col="url")
    svt2 = VersionedTable(spark, str(tmp_path / "s2"))
    svt2.commit(_df(spark, [(1, "a", "x")]), "drop_id")
    with pytest.raises(ValueError, match="shard_bucket"):
        sync_keyed(
            spark, svt2.root, str(tmp_path / "d2"),
            lambda df: df.select("url",
                                 F.lit(0).alias("shard_bucket")),
            key_col="url")


# -- the flagship composition: ingest results -> training shards -----

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lamda mu nu xi omicron pi rho sigma tau upsilon ")


def _page(tag: str) -> bytes:
    body = f"essay {tag} " + _WORDS * 3
    return (f"<html><body><nav><a href='/'>home</a></nav>"
            f"<p>{body}</p><footer>copyright footer</footer>"
            f"</body></html>").encode()


def _write_drop(root: str, name: str, records) -> None:
    from ocr_spark.sources.warc import build_warc_bytes
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "seg-0.warc.gz"), "wb") as f:
        f.write(build_warc_bytes(records))


def test_run_shards_job_tracks_ingest_and_takedown(spark, tmp_path):
    from ocr_spark.plans.ingest_job import run_ingest_job
    drops = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    shards = str(tmp_path / "shards")
    _write_drop(drops, "day1", [
        ("https://a.example/1", "2024-01-01T00:00:00Z", _page("a1")),
        ("https://a.example/2", "2024-01-01T00:01:00Z", _page("a2")),
        ("https://b.example/1", "2024-01-01T00:02:00Z", _page("b1")),
    ])
    run_ingest_job(spark, drops, out, n_buckets=4)
    res = run_shards_job(spark, os.path.join(out, "results"), shards,
                         chunk_tokens=16, n_buckets=8)
    assert res["synced"] and res["keys_inserted"] == 3
    svt = VersionedTable(spark, shards)
    # multiple chunks per doc at this chunk size
    assert svt.read().count() > 3
    # day2: one new page; then a takedown on the results table
    _write_drop(drops, "day2", [
        ("https://c.example/1", "2024-01-02T00:00:00Z", _page("c1")),
    ])
    run_ingest_job(spark, drops, out, n_buckets=4)
    rvt = VersionedTable(spark, os.path.join(out, "results"))
    rvt.delete_where([("url", "==", "https://a.example/1")])
    res = run_shards_job(spark, os.path.join(out, "results"), shards,
                         chunk_tokens=16, n_buckets=8)
    assert res["synced"] and res["keys_deleted"] == 1
    assert res["keys_inserted"] >= 1  # day2's new doc
    # the incremental shard table equals a from-scratch rebuild
    fresh = str(tmp_path / "shards_fresh")
    run_shards_job(spark, os.path.join(out, "results"), fresh,
                   chunk_tokens=16, n_buckets=8, full_resync=True)
    cols = ("url", "chunk_id", "chunk_text", "n_tokens",
            "shard_bucket")
    got = _rows(svt.read(), *cols)
    want = _rows(VersionedTable(spark, fresh).read(), *cols)
    assert got == want
    assert not any(u == "https://a.example/1" for u, *_ in got)
    # chunk params are part of the derived contract
    with pytest.raises(ValueError, match="contract is fixed"):
        run_shards_job(spark, os.path.join(out, "results"), shards,
                       chunk_tokens=16, n_buckets=4)
