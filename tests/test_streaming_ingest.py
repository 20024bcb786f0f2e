"""Streaming twin of the daily-ingest job (streaming/ingest.py):
file-source readStream -> foreachBatch per-drop unit -> one
VersionedTable snapshot per micro-batch, exactly-once under
foreachBatch's at-least-once replay."""

from __future__ import annotations

import datetime
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import VersionedTable
from ocr_spark.streaming.ingest import run_streaming_ingest

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lamda mu nu xi omicron pi rho sigma tau upsilon ")

_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _page(tag: str) -> bytes:
    body = f"essay {tag} " + _WORDS
    return (f"<html><body><nav><a href='/'>home</a></nav>"
            f"<p>{body}</p><footer>copyright footer</footer>"
            f"</body></html>").encode()


def _row(url: str, tag: str) -> dict:
    return {"url": url,
            "warc_ts": datetime.datetime(2026, 1, 1),
            "html": _page(tag), "text": None, "lang": "en"}


def _write_file(stream_dir: str, name: str, rows: list[dict],
                mtime: int) -> None:
    os.makedirs(stream_dir, exist_ok=True)
    path = os.path.join(stream_dir, name)
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA), path)
    # the file source drains oldest-modTime first: pin the order
    os.utime(path, (mtime, mtime))


def _latest(spark, out: str, snapshot_id=None):
    vt = VersionedTable(spark, os.path.join(out, "results"))
    rows = (vt.read(snapshot_id=snapshot_id)
            .select("url", "drop_id",
                    F.encode("extracted_text", "utf-8").alias("b"))
            .collect())
    return sorted((r["url"], r["drop_id"], bytes(r["b"])) for r in rows)


DUP = _row("https://s.example.com/u2", "two")


def _seed_stream(tmp_path) -> str:
    stream = str(tmp_path / "stream")
    _write_file(stream, "f1.parquet", [
        _row("https://s.example.com/u1", "one"),
        DUP,
        _row("https://s.example.com/u3", "three"),
    ], mtime=1_700_000_000)
    _write_file(stream, "f2.parquet", [
        DUP,  # byte-identical recrawl: must NOT be re-extracted
        _row("https://s.example.com/u4", "four"),
        _row("https://s.example.com/u5", "five"),
    ], mtime=1_700_000_100)
    return stream


def test_streaming_ingest_crash_resume_byte_identical(spark, tmp_path):
    """Two page files drained as two micro-batches (maxFilesPerTrigger=1
    under AvailableNow); a crash injected in the worst-case window of
    batch 1 (after its snapshot commit and fingerprint write, before the
    done marker), then a restart from the same streaming checkpoint.
    Pins: (a) the latest view is byte-identical to an uninterrupted
    run's; (b) the crashed batch's prior snapshot stays byte-stable;
    (c) the recrawled page is extracted exactly once; (d) a further
    restart drains nothing."""
    stream = _seed_stream(tmp_path)

    # --- uninterrupted reference run ---
    out_a = str(tmp_path / "a")
    st = run_streaming_ingest(spark, stream, out_a,
                              str(tmp_path / "ck_a"), n_buckets=4)
    assert st["batches_run"] == ["batch-000000", "batch-000001"]
    ref = _latest(spark, out_a)
    assert len(ref) == 5
    vt_a = VersionedTable(spark, out_a + "/results")
    b1 = {r["url"] for r in
          vt_a.read(partitions=["batch-000001"]).collect()}
    assert b1 == {"https://s.example.com/u4",
                  "https://s.example.com/u5"}  # (c) seen-once

    # --- crashed run + restart ---
    out_b = str(tmp_path / "b")
    ck_b = str(tmp_path / "ck_b")
    with pytest.raises(Exception, match="pre-mark crash in batch 1"):
        run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4,
                             fail_once_pre_mark_at=1)
    snap1_before = _latest(spark, out_b, snapshot_id=1)
    st2 = run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4)
    assert st2["batches_run"] == ["batch-000001"]  # replayed, same id
    assert _latest(spark, out_b) == ref                      # (a)
    assert _latest(spark, out_b, snapshot_id=1) == snap1_before  # (b)
    vt_b = VersionedTable(spark, out_b + "/results")
    # the replayed batch landed as a NEW snapshot shadowing the crashed
    # one at the same partition
    assert [s["id"] for s in vt_b.snapshots()] == [1, 2, 3]
    # (d) nothing pending
    st3 = run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4)
    assert st3["batches_run"] == []


def test_streaming_ingest_audit_rejects_then_publishes_once(spark,
                                                            tmp_path):
    """audit= on the streaming twin: a rejecting audit raises out of the
    query, leaves the batch unmarked and the live view unchanged, keeps
    the staged rows readable at their own pin and releases the batch's
    cached frames. A restart under a passing audit then publishes the
    batch exactly once."""
    from ocr_spark.plans.ingest_job import DropManifest

    stream = _seed_stream(tmp_path)
    out_ref = str(tmp_path / "ref")
    run_streaming_ingest(spark, stream, out_ref, str(tmp_path / "ck_ref"),
                         n_buckets=4)
    ref = _latest(spark, out_ref)
    batch0 = [r for r in ref if r[1] == "batch-000000"]

    out = str(tmp_path / "o")
    ck = str(tmp_path / "ck")
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    # batch 0 carries three new docs and passes; batch 1 carries two
    with pytest.raises(Exception, match="audit rejected") as err:
        run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                             audit=lambda df: df.count() >= 3)
    assert jsc.getPersistentRDDs().size() <= persisted
    man = DropManifest(os.path.join(out, "_checkpoints"))
    assert man.done_drops() == {"batch-000000"}
    assert _latest(spark, out) == batch0
    staged = int(re.search(r"snapshot (\d+) left quarantined",
                           str(err.value)).group(1))
    assert ({u for u, d, _ in _latest(spark, out, snapshot_id=staged)
             if d == "batch-000001"}
            == {"https://s.example.com/u4", "https://s.example.com/u5"})

    st = run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                              audit=lambda df: True)
    assert st["batches_run"] == ["batch-000001"]
    assert _latest(spark, out) == ref
    st2 = run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                               audit=lambda df: True)
    assert st2["batches_run"] == []


def test_streaming_retract_batch_then_redrop(spark, tmp_path):
    """retract_drop on the STREAMING twin's tables (same layout, drops
    named batch-N): the retracted batch leaves the live view and the
    dedup history. The stream's WAL will not replay the original file
    (offsets committed) — re-ingestion is a RE-DROP under a new name,
    and the reduced history is what lets the content extract again."""
    from ocr_spark.plans.ingest_job import retract_drop

    stream = _seed_stream(tmp_path)
    out = str(tmp_path / "o")
    ck = str(tmp_path / "ck")
    run_streaming_ingest(spark, stream, out, ck, n_buckets=4)
    ref = _latest(spark, out)
    assert len(ref) == 5

    st = retract_drop(spark, out, "batch-000001")
    assert st["rows_deleted"] == 2
    assert {u for u, _, _ in _latest(spark, out)} == {
        "https://s.example.com/u1", "https://s.example.com/u2",
        "https://s.example.com/u3"}
    # a restarted stream drains nothing (WAL has the file)
    st2 = run_streaming_ingest(spark, stream, out, ck, n_buckets=4)
    assert st2["batches_run"] == []
    # re-drop the same content under a new name: the reduced history
    # lets it extract again, byte-identical rows (new batch id)
    _write_file(stream, "f2-redrop.parquet", [
        DUP,
        _row("https://s.example.com/u4", "four"),
        _row("https://s.example.com/u5", "five"),
    ], mtime=1_700_000_200)
    st3 = run_streaming_ingest(spark, stream, out, ck, n_buckets=4)
    assert len(st3["batches_run"]) == 1
    got = _latest(spark, out)
    assert ([(u, b) for u, _, b in got]
            == [(u, b) for u, _, b in ref])


def test_streaming_ingest_late_arrival_one_new_row(spark, tmp_path):
    """The continuous upload-endpoint shape: after the stream has
    drained, one more file arrives carrying an already-seen page plus
    one genuinely new one -> the next drain commits exactly one new row
    in its own snapshot, history untouched."""
    stream = _seed_stream(tmp_path)
    out = str(tmp_path / "o")
    ck = str(tmp_path / "ck")
    run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                         compact_history_every=2)
    before = _latest(spark, out)
    # the two batches' fingerprint dirs folded into one compact table
    assert os.path.exists(os.path.join(out, "_history", "_compact.json"))
    assert not os.path.isdir(
        os.path.join(out, "_history", "drop=batch-000000"))

    _write_file(stream, "f3.parquet", [
        DUP,  # dedups via the COMPACT dir now
        _row("https://s.example.com/new", "upload"),
    ], mtime=1_700_000_200)
    st = run_streaming_ingest(spark, stream, out, ck, n_buckets=4)
    assert st["batches_run"] == ["batch-000002"]
    vt = VersionedTable(spark, os.path.join(out, "results"))
    new_rows = vt.read(partitions=["batch-000002"]).collect()
    assert [r["url"] for r in new_rows] == ["https://s.example.com/new"]
    assert "upload" in new_rows[0]["extracted_text"]
    after = _latest(spark, out)
    assert len(after) == 6 and set(before) < set(after)


def test_streaming_ingest_merge_latest_replay_converges(spark, tmp_path):
    """recrawl="merge_latest" on the streaming twin: one row per url,
    a changed recapture in a later micro-batch REPLACES the old row —
    and the at-least-once replay of the merge batch (crash in the
    worst-case window, restart from the same checkpoint) converges to
    the same one-row-per-url view, with the pre-recrawl snapshot pin
    still reading the original capture."""
    stream = str(tmp_path / "stream")
    u1 = "https://s.example.com/u1"
    _write_file(stream, "f1.parquet", [_row(u1, "one"), DUP],
                mtime=1_700_000_000)
    recap = _row(u1, "one-v2")
    recap["warc_ts"] = datetime.datetime(2026, 1, 2)
    _write_file(stream, "f2.parquet", [
        DUP,                      # byte-identical: stays upstream
        recap,                    # changed recapture: must replace
        _row("https://s.example.com/u6", "six"),
    ], mtime=1_700_000_100)

    out = str(tmp_path / "o")
    ck = str(tmp_path / "ck")
    with pytest.raises(Exception, match="pre-mark crash in batch 1"):
        run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                             recrawl="merge_latest",
                             fail_once_pre_mark_at=1)
    st = run_streaming_ingest(spark, stream, out, ck, n_buckets=4,
                              recrawl="merge_latest")
    assert st["batches_run"] == ["batch-000001"]
    vt = VersionedTable(spark, os.path.join(out, "results"))
    rows = {(r["url"], r["drop_id"]): r["extracted_text"]
            for r in vt.read().collect()}
    assert set(rows) == {(u1, "batch-000001"),
                         ("https://s.example.com/u2", "batch-000000"),
                         ("https://s.example.com/u6", "batch-000001")}
    assert "essay one-v2 " in rows[(u1, "batch-000001")]
    # pre-recrawl pin unchanged (the crashed merge shadowed, not mutated)
    old = {r["url"]: r["extracted_text"]
           for r in vt.read(snapshot_id=1).collect()}
    assert "essay one " in old[u1]


_ND_BODY = ("the quick brown fox jumps over the lazy dog while a "
            "crawler fetches pages from the open web and an extraction "
            "engine segments boilerplate away from the main content "
            "blocks before tokenization packing and deduplication feed "
            "training shards downstream through the pipeline stages")


def _nd_row(url: str, body: str) -> dict:
    html = (f"<html><body><p>{body}</p>"
            f"<footer>copyright footer</footer></body></html>").encode()
    return {"url": url, "warc_ts": datetime.datetime(2026, 1, 1),
            "html": html, "text": None, "lang": "en"}


def test_streaming_ingest_neardup_gate_replay_converges(spark, tmp_path):
    """The neardup= gate on the streaming twin (the shared
    apply_neardup_gate unit): batch 1 carries a near-dup of a batch-0
    doc plus a fresh doc; the near-dup never reaches the results
    table. Crash in the worst-case window of batch 1 — AFTER its
    neardup-index partition committed, BEFORE the done marker — then
    restart: the replayed batch must NOT match its own crashed
    attempt's index rows (done-marker-gated matching view), and the
    final view is byte-identical to an uninterrupted run's."""
    stream = str(tmp_path / "stream")
    u = "https://s.example.com/"
    _write_file(stream, "f1.parquet",
                [_nd_row(u + "a", _ND_BODY)], mtime=1_700_000_000)
    _write_file(stream, "f2.parquet", [
        _nd_row(u + "a2", _ND_BODY.replace("lazy", "sleepy")),  # near-dup
        _nd_row(u + "c", ("fresh unrelated document describing "
                          "watermarks and stateful aggregation with "
                          "session windows and late data handling in "
                          "structured streaming pipelines at scale")),
    ], mtime=1_700_000_100)
    nd_cfg = {"threshold": 0.7}

    out_a = str(tmp_path / "a")
    run_streaming_ingest(spark, stream, out_a, str(tmp_path / "ck_a"),
                         n_buckets=4, neardup=nd_cfg)
    ref = _latest(spark, out_a)
    assert [r[0].rsplit("/", 1)[-1] for r in ref] == ["a", "c"]

    out_b = str(tmp_path / "b")
    ck_b = str(tmp_path / "ck_b")
    with pytest.raises(Exception, match="pre-mark crash in batch 1"):
        run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4,
                             neardup=nd_cfg, fail_once_pre_mark_at=1)
    # the hazard is real: the crashed attempt committed batch 1's
    # index partition
    nd = VersionedTable(spark, os.path.join(out_b, "neardup_index"))
    assert "batch-000001" in {r.drop_id for r in
                              nd.read().select("drop_id").collect()}
    st = run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4,
                              neardup=nd_cfg)
    assert st["batches_run"] == ["batch-000001"]
    assert _latest(spark, out_b) == ref


def _ts_row(url: str, tag: str, ts: datetime.datetime) -> dict:
    return {**_row(url, tag), "warc_ts": ts}


def test_watermark_late_arrival_policy(spark, tmp_path):
    """Event-time watermark on the streaming ingest (VERDICT r4 #5):
    the high watermark derives from DONE batches' markers minus the
    allowed lateness, a straggler page lands in the policy path
    (quarantine side table, never the results), the marker records
    (max_warc_ts, late_pages), and the crash-replay run stays
    byte-identical — the split is a pure function of done-marker
    state, so the replayed batch recomputes it exactly."""
    T = datetime.datetime(2026, 1, 10, 12, 0, 0)
    H = datetime.timedelta(hours=1)
    stream = str(tmp_path / "stream")
    _write_file(stream, "f1.parquet", [
        _ts_row("https://s.example.com/w1", "one", T),
        _ts_row("https://s.example.com/w2", "two", T + H),
    ], mtime=1_700_000_000)
    _write_file(stream, "f2.parquet", [
        _ts_row("https://s.example.com/old", "ancient",
                T - datetime.timedelta(days=3)),
        _ts_row("https://s.example.com/w6", "fresh", T + 2 * H),
    ], mtime=1_700_000_100)

    out_a = str(tmp_path / "a")
    run_streaming_ingest(spark, stream, out_a, str(tmp_path / "ck_a"),
                         n_buckets=4, allowed_lateness_s=3600.0)
    ref = _latest(spark, out_a)
    # batch 0 had no watermark yet (nothing done) -> nothing late;
    # batch 1's watermark = (T+1h) - 1h = T -> the 3-day-old page is
    # late and quarantined, the fresh one extracts
    assert {u for u, _, _ in ref} == {"https://s.example.com/w1",
                                      "https://s.example.com/w2",
                                      "https://s.example.com/w6"}
    late = spark.read.parquet(
        os.path.join(out_a, "late_pages", "drop=batch-000001"))
    assert [r["url"] for r in late.collect()] == \
        ["https://s.example.com/old"]
    from ocr_spark.plans.ingest_job import DropManifest
    man = DropManifest(os.path.join(out_a, "_checkpoints"))
    i0 = man.info_of("batch-000000")
    i1 = man.info_of("batch-000001")
    assert i0["late_pages"] == 0
    assert i0["max_warc_ts"] == (T + H).timestamp()
    assert i1["late_pages"] == 1
    assert i1["max_warc_ts"] == (T + 2 * H).timestamp()

    # crash in the worst-case window of the late-carrying batch, then
    # restart: byte-identical to the uninterrupted run, quarantine
    # overwrite idempotent
    out_b = str(tmp_path / "b")
    ck_b = str(tmp_path / "ck_b")
    with pytest.raises(Exception, match="pre-mark crash in batch 1"):
        run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4,
                             allowed_lateness_s=3600.0,
                             fail_once_pre_mark_at=1)
    run_streaming_ingest(spark, stream, out_b, ck_b, n_buckets=4,
                         allowed_lateness_s=3600.0)
    assert _latest(spark, out_b) == ref
    late_b = spark.read.parquet(
        os.path.join(out_b, "late_pages", "drop=batch-000001"))
    assert late_b.count() == 1

    # "drop" discards without a side table; "accept" keeps + counts
    out_c = str(tmp_path / "c")
    run_streaming_ingest(spark, stream, out_c, str(tmp_path / "ck_c"),
                         n_buckets=4, allowed_lateness_s=3600.0,
                         late_policy="drop")
    assert {u for u, _, _ in _latest(spark, out_c)} == \
        {u for u, _, _ in ref}
    assert not os.path.exists(os.path.join(out_c, "late_pages"))
    out_d = str(tmp_path / "d")
    run_streaming_ingest(spark, stream, out_d, str(tmp_path / "ck_d"),
                         n_buckets=4, allowed_lateness_s=3600.0,
                         late_policy="accept")
    assert "https://s.example.com/old" in \
        {u for u, _, _ in _latest(spark, out_d)}
    man_d = DropManifest(os.path.join(out_d, "_checkpoints"))
    assert man_d.info_of("batch-000001")["late_pages"] == 1
    import pytest as _pt
    with _pt.raises(ValueError, match="late_policy"):
        run_streaming_ingest(spark, stream, out_d,
                             str(tmp_path / "ck_e"),
                             late_policy="explode")
