"""Idempotent checkpoint/resume (SURVEY.md §5 item 4): kill after k bucket
groups, rerun, byte-identical results vs an uninterrupted run, and lineage
shows each bucket processed effectively once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.plans.extract_job import run_extract_job
from ocr_spark.synth import write_corpus

N_PAGES = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("resume_corpus")
    pages_path, _ = write_corpus(str(d), N_PAGES, seed=11)
    return pages_path


def _read_results(spark, out):
    return (spark.read.parquet(f"{out}/results")
            .select("url", "extracted_text").orderBy("url").collect())


def test_kill_and_resume_byte_identical(spark, corpus, tmp_path):
    out_a = str(tmp_path / "uninterrupted")
    out_b = str(tmp_path / "interrupted")

    st = run_extract_job(spark, corpus, out_a, n_buckets=N_BUCKETS,
                         group_size=2)
    assert st["completed"] and len(st["buckets_done"]) == N_BUCKETS

    # crash after 2 of 4 groups
    st1 = run_extract_job(spark, corpus, out_b, n_buckets=N_BUCKETS,
                          group_size=2, fail_after_groups=2)
    assert not st1["completed"]
    assert 0 < len(st1["buckets_done"]) < N_BUCKETS

    # resume: only pending buckets run
    st2 = run_extract_job(spark, corpus, out_b, n_buckets=N_BUCKETS,
                          group_size=2)
    assert st2["completed"]
    assert len(st2["buckets_done"]) == N_BUCKETS

    a = _read_results(spark, out_a)
    b = _read_results(spark, out_b)
    assert [r["url"] for r in a] == [r["url"] for r in b]
    assert all(x["extracted_text"] == y["extracted_text"]
               for x, y in zip(a, b))


def test_lineage_and_metrics_written(spark, corpus, tmp_path):
    out = str(tmp_path / "lm")
    run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS, group_size=4)
    lineage = spark.read.parquet(f"{out}/lineage")
    metrics = spark.read.parquet(f"{out}/metrics")
    assert lineage.agg(F.sum("input_rows")).collect()[0][0] == N_PAGES
    assert metrics.agg(F.sum("docs")).collect()[0][0] == N_PAGES
    assert {"bucket", "salt", "input_rows", "output_rows", "input_bytes",
            "wall_ms", "attempt", "snapshot_id"} <= set(lineage.columns)
    assert {"bucket", "docs", "empty_docs", "pdf_docs", "avg_text_len",
            "avg_link_density", "tokenizer_recoveries"} <= set(metrics.columns)


def test_bucketed_input_prunes_scan(spark, corpus, tmp_path):
    """Physically bucket-partitioned pages (the Iceberg bucket(url_host)
    analog): per-group scans prune to the group's files instead of
    rescanning the corpus, and results stay byte-identical."""
    from ocr_spark.sources.io import write_pages_bucketed

    bucketed = str(tmp_path / "pages_bucketed")
    write_pages_bucketed(spark.read.parquet(corpus), bucketed, N_BUCKETS)

    b = spark.read.parquet(bucketed)
    total_files = len(b.inputFiles())
    pruned = b.where(F.col("bucket").isin([0, 1]))
    # files actually TOUCHED at execution (inputFiles() is pre-pushdown)
    touched = (pruned.select(F.input_file_name().alias("f"))
               .distinct().count())
    assert touched < total_files, (touched, total_files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    out_flat = str(tmp_path / "out_flat")
    out_bkt = str(tmp_path / "out_bkt")
    run_extract_job(spark, corpus, out_flat, n_buckets=N_BUCKETS,
                    group_size=2)
    st = run_extract_job(spark, bucketed, out_bkt, n_buckets=N_BUCKETS,
                         group_size=2)
    assert st["completed"]
    a = _read_results(spark, out_flat)
    c = _read_results(spark, out_bkt)
    assert [r["url"] for r in a] == [r["url"] for r in c]
    assert all(x["extracted_text"] == y["extracted_text"]
               for x, y in zip(a, c))

    # mismatched bucket count must fail loudly, not mis-prune
    import pytest as _pytest
    with _pytest.raises(ValueError):
        run_extract_job(spark, bucketed, str(tmp_path / "bad"),
                        n_buckets=N_BUCKETS // 2, group_size=2)


def test_default_runs_one_group(spark, corpus, tmp_path, monkeypatch):
    """By default all pending buckets run as one group (one extract_pages
    plan) over a listable pages table, flat or bucket-partitioned; a path
    that cannot be listed (a file:// URI here, standing in for an object
    store) keeps UNLISTED_GROUPS groups; an explicit group_size splits as
    asked. All four write the same text per url and the same per-bucket
    metrics."""
    import ocr_spark.plans.extract_job as job
    from ocr_spark.sources.io import write_pages_bucketed

    n_buckets = 32
    bucketed = str(tmp_path / "pages_bucketed32")
    write_pages_bucketed(spark.read.parquet(corpus), bucketed, n_buckets)

    calls = []
    real = job.extract_pages

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(job, "extract_pages", counting)
    runs = {"flat": (corpus, {}, 1),
            "bucketed": (bucketed, {}, 1),
            "unlisted": ("file://" + corpus, {}, job.UNLISTED_GROUPS),
            "explicit": (corpus, {"group_size": 2}, 16)}
    texts, counts = {}, {}
    for name, (pages, kw, want_calls) in runs.items():
        calls.clear()
        out = str(tmp_path / name)
        st = run_extract_job(spark, pages, out, n_buckets=n_buckets, **kw)
        assert st["completed"]
        assert len(calls) == want_calls, (name, len(calls))
        texts[name] = {r["url"]: r["extracted_text"].encode("utf-8")
                       for r in _read_results(spark, out)}
        counts[name] = {r["bucket"]: (r["docs"], r["empty_docs"],
                                      r["pdf_docs"])
                        for r in spark.read.parquet(f"{out}/metrics")
                        .collect()}
    assert len(texts["flat"]) == N_PAGES
    assert sum(d for d, _, _ in counts["flat"].values()) == N_PAGES
    for name in ("bucketed", "unlisted", "explicit"):
        assert texts[name] == texts["flat"], name
        assert counts[name] == counts["flat"], name


def test_metrics_resume_idempotent(spark, corpus, tmp_path):
    """Crash BETWEEN the metrics append and mark_done (the worst-case
    window): resume re-appends the group under a higher attempt, and
    latest_metrics supersedes the orphaned rows — the exactly-once view
    matches an uninterrupted run."""
    from ocr_spark.plans.extract_job import latest_metrics

    out_a = str(tmp_path / "clean")
    out_b = str(tmp_path / "crashy")
    run_extract_job(spark, corpus, out_a, n_buckets=N_BUCKETS, group_size=2)

    st1 = run_extract_job(spark, corpus, out_b, n_buckets=N_BUCKETS,
                          group_size=2, fail_after_groups=1,
                          fail_point="pre_mark")
    assert not st1["completed"]
    st2 = run_extract_job(spark, corpus, out_b, n_buckets=N_BUCKETS,
                          group_size=2)
    assert st2["completed"]

    raw = spark.read.parquet(f"{out_b}/metrics")
    # the orphaned append IS there (double rows for the crashed group) ...
    assert raw.count() > spark.read.parquet(f"{out_a}/metrics").count()
    # ... and the latest-attempt view supersedes it exactly
    deduped = latest_metrics(raw)
    assert deduped.count() == N_BUCKETS
    assert (deduped.agg(F.sum("docs")).collect()[0][0] == N_PAGES)
    clean = latest_metrics(spark.read.parquet(f"{out_a}/metrics"))
    a = {r["bucket"]: (r["docs"], r["empty_docs"], r["pdf_docs"])
         for r in clean.collect()}
    b = {r["bucket"]: (r["docs"], r["empty_docs"], r["pdf_docs"])
         for r in deduped.collect()}
    assert a == b


def test_missing_marker_mismatched_modulus_falls_back(spark, corpus,
                                                      tmp_path):
    """A bucketed table whose _N_BUCKETS marker was lost (underscore files
    are 'hidden' to much copy tooling) and whose modulus (3) doesn't match
    the job's (8) passes the max(vals) < n_buckets check — the sampled
    recompute-vs-physical validation must refuse pruning and fall back to
    the flat scan, keeping results byte-identical instead of silently
    clobbering partitions."""
    import os

    from ocr_spark.sources.io import write_pages_bucketed

    bucketed = str(tmp_path / "pages_mod3")
    write_pages_bucketed(spark.read.parquet(corpus), bucketed, 3)
    os.remove(os.path.join(bucketed, "_N_BUCKETS"))

    out_ref = str(tmp_path / "out_ref")
    out_bad = str(tmp_path / "out_bad")
    run_extract_job(spark, corpus, out_ref, n_buckets=N_BUCKETS,
                    group_size=4)
    with pytest.warns(UserWarning, match="refusing physical pruning"):
        st = run_extract_job(spark, bucketed, out_bad,
                             n_buckets=N_BUCKETS, group_size=4)
    assert st["completed"]
    a = _read_results(spark, out_ref)
    b = _read_results(spark, out_bad)
    assert [r["url"] for r in a] == [r["url"] for r in b]
    assert all(x["extracted_text"] == y["extracted_text"]
               for x, y in zip(a, b))


def test_max_records_per_file_bounds_output_files(spark, tmp_path):
    """The sink's maxRecordsPerFile knob rolls oversize files: a skewed
    partition is split into multiple <= N-record files (the Iceberg
    target-file-size analog), totals unchanged; without the knob the hot
    partition emits one monolithic file per task."""
    import glob

    from ocr_spark.sources.io import TableIO

    df = (spark.range(500)
          .withColumn("bucket", (F.col("id") % 2).cast("int"))
          .repartition(1))
    io = TableIO(spark, str(tmp_path / "w"), max_records_per_file=50)
    io.overwrite_partitions(df, "t", ["bucket"])
    files = glob.glob(str(tmp_path / "w" / "t") + "/bucket=*/*.parquet")
    counts = [spark.read.parquet(f).count() for f in files]
    assert sum(counts) == 500
    assert max(counts) <= 50
    assert len(files) >= 10  # 2 partitions x >= 5 rolls each
    # default (no knob): one file per task per partition dir
    io2 = TableIO(spark, str(tmp_path / "w2"))
    io2.overwrite_partitions(df, "t", ["bucket"])
    files2 = glob.glob(str(tmp_path / "w2" / "t") + "/bucket=*/*.parquet")
    assert len(files2) == 2


def test_versioned_table_time_travel(spark, tmp_path):
    """Snapshot log semantics: dynamic-partition commits replace only
    the partitions they carry (absent ones carry over), read() is the
    latest live view, read(snapshot_id=k) is byte-stable forever,
    partition pruning resolves driver-side, and a crashed half-commit
    (files on disk, no manifest line) is invisible."""
    from ocr_spark.sources.io import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "t"))
    v1 = vt.commit(spark.createDataFrame(
        [(0, "a0"), (1, "b0")], ["bucket", "val"]), "bucket", note="full")
    v2 = vt.commit(spark.createDataFrame(
        [(1, "b1")], ["bucket", "val"]), "bucket", note="recrawl b1")
    assert (v1, v2) == (1, 2)

    def rows(**kw):
        return {(r["bucket"], r["val"]) for r in vt.read(**kw).collect()}

    assert rows() == {(0, "a0"), (1, "b1")}                  # latest
    assert rows(snapshot_id=1) == {(0, "a0"), (1, "b0")}     # time travel
    assert rows(partitions=["1"]) == {(1, "b1")}             # pruned
    assert rows(snapshot_id=1, partitions=["1"]) == {(1, "b0")}
    # partition column keeps its type (lives in the data files)
    assert dict(vt.read().dtypes)["bucket"] == "bigint"

    # crash simulation: data dir written, manifest line never appended
    import os
    orphan = tmp_path / "t" / "data" / "snap-000099-deadbeef"
    os.makedirs(orphan)
    (orphan / "junk.parquet").write_bytes(b"not a commit")
    assert rows() == {(0, "a0"), (1, "b1")}   # reader never lists data/

    # the partition scheme is fixed by the first commit — an
    # unpartitioned commit on a partitioned table would double-read
    # carried-over partitions, so it must raise
    import pytest as _pytest
    with _pytest.raises(ValueError, match="partitioned by"):
        vt.commit(spark.createDataFrame([(9, "z")], ["bucket", "val"]))
    # static overwrite (replace_all) resets the live view instead
    v3 = vt.commit(spark.createDataFrame([(9, "z")], ["bucket", "val"]),
                   "bucket", replace_all=True)
    assert rows() == {(9, "z")}
    assert rows(snapshot_id=2) == {(0, "a0"), (1, "b1")}
    assert [s["id"] for s in vt.snapshots()] == [1, 2, 3] and v3 == 3

    # unpartitioned tables: every commit replaces the whole table
    ut = VersionedTable(spark, str(tmp_path / "ut"))
    ut.commit(spark.createDataFrame([(1, "x")], ["k", "v"]))
    ut.commit(spark.createDataFrame([(2, "y")], ["k", "v"]))
    assert {(r["k"], r["v"]) for r in ut.read().collect()} == {(2, "y")}
    assert {(r["k"], r["v"])
            for r in ut.read(snapshot_id=1).collect()} == {(1, "x")}

    # reading before any snapshot (or past one) fails loudly
    empty = VersionedTable(spark, str(tmp_path / "empty"))
    with _pytest.raises(ValueError):
        empty.read()


def test_versioned_table_expire_snapshots(spark, tmp_path):
    """Snapshot expiry: surviving ids read EXACTLY what they read
    before (the oldest survivor is compacted to its resolved view),
    expired ids fail loudly, and unreferenced data dirs are deleted
    while still-referenced old dirs survive (partition carryover)."""
    import os

    from ocr_spark.sources.io import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame(
        [(0, "a0"), (1, "b0"), (2, "c0")], ["bucket", "val"]), "bucket")
    vt.commit(spark.createDataFrame([(1, "b1")], ["bucket", "val"]),
              "bucket")
    vt.commit(spark.createDataFrame([(2, "c2")], ["bucket", "val"]),
              "bucket")
    vt.commit(spark.createDataFrame([(1, "b3")], ["bucket", "val"]),
              "bucket")

    def rows(**kw):
        return {(r["bucket"], r["val"]) for r in vt.read(**kw).collect()}

    before3, before4 = rows(snapshot_id=3), rows()
    # keep_last=2: snap 2's dir is STILL referenced (surviving snapshot
    # 3 reads bucket 1 = 'b1' from it via carryover). GC is
    # PARTITION-grain: snap 1's superseded buckets 1/2 are physically
    # removed, its still-referenced bucket 0 stays.
    deleted2 = vt.expire_snapshots(keep_last=2)
    assert sorted(d.split("/_pv=")[1] for d in deleted2) == ["1", "2"]
    assert all(d.startswith("snap-000001") for d in deleted2)
    assert rows(snapshot_id=3) == before3 == {(0, "a0"), (1, "b1"),
                                              (2, "c2")}
    assert rows() == before4 == {(0, "a0"), (1, "b3"), (2, "c2")}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        vt.read(snapshot_id=1)   # expired by the manifest truncation

    # keep_last=1: only the latest view survives (buckets 0/2 still
    # carry from snaps 1/3, so those dirs stay); snap 2's dir is now
    # unreferenced and really removed from disk
    deleted = vt.expire_snapshots(keep_last=1)
    assert len(deleted) == 1 and deleted[0].startswith("snap-000002")
    assert rows() == before4
    with _pytest.raises(ValueError):
        vt.read(snapshot_id=3)
    data = tmp_path / "t" / "data"
    assert len([d for d in os.listdir(data) if d.startswith("snap-")]) == 3
    # expiry is idempotent / no-op when nothing to drop
    assert vt.expire_snapshots(keep_last=1) == []


def test_versioned_table_pins_training_corpus(spark, corpus, tmp_path):
    """Integration with the extract job's output shape: commit per-group
    results as snapshots; a later recrawl overwrite of one bucket does
    NOT change what a pinned snapshot reads (the model-release
    reproducibility contract)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract_job import extract_pages
    from ocr_spark.sources.io import VersionedTable

    pages = spark.read.parquet(corpus)
    res = extract_pages(pages, n_buckets=4, salt_n=2).select(
        "url", "bucket", F.md5("extracted_text").alias("h")).cache()
    vt = VersionedTable(spark, str(tmp_path / "results"))
    pin = vt.commit(res, "bucket", note="training corpus v1")
    baseline = {r["url"]: r["h"] for r in vt.read().collect()}

    # recrawl rewrites bucket 0 with different content
    recrawl = res.where("bucket = 0").withColumn(
        "h", F.md5(F.concat(F.col("h"), F.lit("changed"))))
    vt.commit(recrawl, "bucket", note="recrawl")
    pinned = {r["url"]: r["h"] for r in vt.read(snapshot_id=pin).collect()}
    assert pinned == baseline
    latest = {r["url"]: r["h"] for r in vt.read().collect()}
    changed = {u for u in baseline if latest[u] != baseline[u]}
    assert changed == {r["url"]
                       for r in res.where("bucket = 0").collect()}


def test_versioned_results_sink_resume_byte_identical(spark, corpus,
                                                      tmp_path):
    """versioned=True end to end: crash after one group, resume — the
    VersionedTable latest view is byte-identical to golden (re-commits
    shadow the crashed group), one snapshot per completed group, and
    the pre-crash snapshot stays a stable partial view."""
    from pyspark.sql import functions as F

    from ocr_spark.sources.io import VersionedTable

    out = str(tmp_path / "out")
    st = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                         group_size=2, fail_after_groups=1,
                         versioned=True)
    assert st["completed"] is False
    vt = VersionedTable(spark, f"{out}/results")
    pre = vt.snapshots()[-1]["id"]
    partial = vt.read(snapshot_id=pre).count()

    st2 = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                          group_size=2, versioned=True)
    assert st2["completed"] is True
    golden = spark.read.parquet(
        corpus.replace("pages.parquet", "golden.parquet"))
    latest = vt.read().select(
        "url", F.encode("extracted_text", "utf-8").alias("got"))
    div = (latest.join(golden, "url")
           .where(F.col("got") != F.col("expected_text")).count())
    assert div == 0
    assert latest.count() == golden.count()
    # the pinned pre-crash snapshot did not move
    assert vt.read(snapshot_id=pre).count() == partial
    assert len(vt.snapshots()) > 1


def test_versioned_table_review_hardening(spark, tmp_path):
    """Round of review fixes pinned: (a) manifest keys come from the
    dirs Spark wrote (bool 'true', not str(True) — and commit evaluates
    df once); (b) read(snapshot_id > latest) raises; (c) int partition
    values prune naturally, and an absent partition yields an EMPTY
    frame with the table schema; (d) schema evolution across commits
    merges (carried-over partitions read NULL for new columns); (e) a
    crashed expiry's orphan dirs are reclaimed by the next call."""
    import os
    import time

    import pytest as _pytest

    from ocr_spark.sources.io import VersionedTable

    # (a) boolean partition values
    bt = VersionedTable(spark, str(tmp_path / "b"))
    bt.commit(spark.createDataFrame([(True, 1), (False, 2)],
                                    ["flag", "v"]), "flag")
    assert {(r["flag"], r["v"]) for r in bt.read().collect()} \
        == {(True, 1), (False, 2)}
    assert set(bt.snapshots()[0]["parts"]) == {"true", "false"}

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame([(0, "a"), (1, "b")],
                                    ["bucket", "val"]), "bucket")
    # (b) unknown (future) snapshot id
    with _pytest.raises(ValueError, match="unknown snapshot"):
        vt.read(snapshot_id=99)
    # (c) natural-int prune + empty-but-typed absent partition
    assert {r["val"] for r in vt.read(partitions=[1]).collect()} == {"b"}
    empty = vt.read(partitions=[7])
    assert empty.count() == 0
    assert set(empty.columns) == {"bucket", "val"}
    # (d) schema evolution: second commit adds a column
    vt.commit(spark.createDataFrame([(1, "b2", 0.5)],
                                    ["bucket", "val", "score"]), "bucket")
    got = {r["bucket"]: (r["val"], r["score"])
           for r in vt.read().collect()}
    assert got == {0: ("a", None), 1: ("b2", 0.5)}
    # (e) orphan sweep is self-healing BUT age-gated: a never-
    # referenced snap dir may be a concurrent commit that wrote its
    # data outside the manifest lock and hasn't appended its line yet,
    # so a FRESH one must survive the sweep; once past the grace age
    # (a genuinely crashed commit/expiry leftover) it is reclaimed
    orphan = tmp_path / "t" / "data" / "snap-000077-feedface"
    os.makedirs(orphan)
    (orphan / "x").write_text("junk")
    assert vt.expire_snapshots(keep_last=10) == []   # in-flight-safe
    assert orphan.exists()
    old = time.time() - 8 * 86400
    os.utime(orphan, (old, old))
    deleted = vt.expire_snapshots(keep_last=10)
    assert deleted == ["snap-000077-feedface"]
    assert not orphan.exists()


def test_versioned_sink_mode_flip_rejected(spark, corpus, tmp_path):
    """Resuming with the other sink mode must fail loudly — completed
    buckets would silently vanish from the readable view."""
    out = str(tmp_path / "out")
    st = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                         group_size=2, fail_after_groups=1)
    assert st["completed"] is False
    with pytest.raises(ValueError, match="sink"):
        run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                        group_size=2, versioned=True)


def test_versioned_table_empty_commit_and_pv_normalization(spark, tmp_path):
    """ADVICE r4 fixes pinned: (a) an EMPTY partitioned first commit
    records a schema file, so read() returns a typed empty DataFrame
    instead of a zero-path parquet error; (b) requested partition values
    normalize through Spark's string cast (read(partitions=[True])
    matches the '_pv=true' dir); (c) expiry keeps recorded schema dirs
    alive."""
    from pyspark.sql import functions as F

    from ocr_spark.sources.io import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "e"))
    df = spark.createDataFrame([(True, 1)], ["flag", "v"])
    vt.commit(df.where(F.lit(False)), "flag")
    empty = vt.read()
    assert empty.count() == 0
    assert set(empty.columns) == {"flag", "v"}
    # (b) bool partition value in its NATURAL Python spelling
    vt.commit(df, "flag")
    assert [r["v"] for r in vt.read(partitions=[True]).collect()] == [1]
    assert vt.read(partitions=[False]).count() == 0  # absent, typed-empty
    # (c) expiry compacts away the empty snapshot but never deletes a
    # schema dir a surviving snapshot still records
    vt.expire_snapshots(keep_last=2)
    assert [r["v"] for r in vt.read().collect()] == [1]
    # a table that truly has no schema anywhere fails with a typed error
    vt2 = VersionedTable(spark, str(tmp_path / "none"))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no snapshot"):
        vt2.read()


def test_versioned_table_concurrent_commits_lose_nothing(spark, tmp_path):
    """VERDICT r3 #6: two writers committing to one table serialize on
    the manifest lock — every commit lands, snapshot ids stay unique
    and monotone, and the final view carries both writers' partitions.
    Also: a dead holder's stale lock is taken over, never a deadlock."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from ocr_spark.sources.io import VersionedTable, _ManifestLock

    root = str(tmp_path / "cc")
    vt = VersionedTable(spark, root)
    PER = 4

    def writer(base):
        out = []
        for i in range(PER):
            p = base * 100 + i
            df = spark.createDataFrame([(p, f"w{base}-{i}")], ["pt", "v"])
            out.append(vt.commit(df, "pt", note=f"w{base}:{i}"))
        return out

    with ThreadPoolExecutor(2) as ex:
        ids = sorted(sum(ex.map(writer, [1, 2]), []))
    assert ids == list(range(1, 2 * PER + 1))  # unique, monotone, none lost
    snaps = vt.snapshots()
    assert [s["id"] for s in snaps] == ids
    got = {(r["pt"], r["v"]) for r in vt.read().collect()}
    assert got == {(b * 100 + i, f"w{b}-{i}")
                   for b in (1, 2) for i in range(PER)}
    # stale-lock takeover: plant a lock owned by a dead pid
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write("999999999")
    with _ManifestLock(root, timeout=5.0):
        pass  # acquired despite the corpse
    vt.commit(spark.createDataFrame([(7, "post")], ["pt", "v"]), "pt")
    assert vt.snapshots()[-1]["id"] == 2 * PER + 1


def test_reextract_stale_backfills_after_core_upgrade(spark, corpus,
                                                      tmp_path, monkeypatch):
    """Extractor-upgrade backfill: done markers carry the core content
    fingerprint; reextract_stale=True treats older-fingerprint buckets
    as pending (a resumable in-place backfill), while the default resume
    still skips everything. With the versioned sink, snapshots pinned
    BEFORE the backfill keep reading the old bytes."""
    import ocr_spark.plans.extract_job as ej
    from ocr_spark.sources.io import VersionedTable

    out = str(tmp_path / "bf")
    st = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                         group_size=4, versioned=True)
    assert st["completed"]
    vt = VersionedTable(spark, f"{out}/results")
    pinned_id = vt.snapshots()[-1]["id"]
    before = {r["url"]: r["extracted_text"] for r in
              vt.read().select("url", "extracted_text").collect()}

    # same core: both plain resume AND reextract_stale are no-ops
    assert run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                           group_size=4, versioned=True)["groups_run"] == 0
    assert run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                           group_size=4, versioned=True,
                           reextract_stale=True)["groups_run"] == 0

    # "upgrade" the core: new fingerprint, same behavior
    monkeypatch.setattr(ej, "core_fingerprint", lambda: "upgraded-fp-1")

    # default resume still skips (code change alone must not redo work)
    assert run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                           group_size=4, versioned=True)["groups_run"] == 0

    # backfill, crashed mid-way, then resumed: completes the rest only
    st1 = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                          group_size=2, versioned=True,
                          reextract_stale=True, fail_after_groups=2)
    assert not st1["completed"]
    st2 = run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                          group_size=2, versioned=True,
                          reextract_stale=True)
    assert st2["completed"] and st2["groups_run"] == 2 * 2

    # all markers now carry the new fingerprint; a further backfill no-ops
    mani = ej.CheckpointManifest(f"{out}/_checkpoints")
    assert mani.done_buckets(core_version="upgraded-fp-1") == set(range(
        N_BUCKETS))
    assert run_extract_job(spark, corpus, out, n_buckets=N_BUCKETS,
                           group_size=2, versioned=True,
                           reextract_stale=True)["groups_run"] == 0

    # latest view byte-identical (same core behavior), pinned snapshot
    # from before the backfill byte-stable
    after = {r["url"]: r["extracted_text"] for r in
             vt.read().select("url", "extracted_text").collect()}
    assert after == before
    old = {r["url"]: r["extracted_text"] for r in
           vt.read(snapshot_id=pinned_id)
           .select("url", "extracted_text").collect()}
    assert old == before
    # and the backfill really did commit new snapshots
    assert vt.snapshots()[-1]["id"] > pinned_id
