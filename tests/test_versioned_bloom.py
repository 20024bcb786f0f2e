"""Per-file BLOOM filters on VersionedTable (`bloom_cols` table
property) — the point-lookup complement to min/max bounds.

The case that motivates them: a HASH-bucKETED layout (the default
ingest layout — url-hash bucketing) spreads every file across the full
lexical range, so the footer bounds prune NOTHING for a point lookup.
A small per-file bloom answers "can this file hold url == X?" on any
layout.

Contract under test (io.py):
  * read(where=[("url","==",u)]) is EXACTLY read().where(...) — the
    bloom only ever proves ABSENCE (false positives keep the file; a
    probe on an untypeable value keeps the file);
  * on a hash layout where bounds keep everything, the bloom skips
    most files for == and in predicates; range ops ignore blooms;
  * bloom_cols is an inherited table property (maintenance commits and
    the expiry compacted base keep it);
  * nulls never enter the bloom and comparison predicates never match
    them (consistent with the bounds' all-null rule);
  * explicitly naming a non-string/integer column raises.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import (_STATS_FILE, _bloom_build,
                                  _bloom_may_contain, VersionedTable)


def _hash_layout(spark, n=2000, files=16, base=0, dropbase=0):
    # url-hash bucketing: every output file spans the full url range;
    # dropbase keeps a second commit's partitions DISJOINT from the
    # first (same values would dynamic-overwrite the older epoch away)
    return (spark.range(base, base + n)
            .select(F.format_string("u%07d", F.col("id")).alias("url"),
                    (F.col("id") % 4 + dropbase).cast("int")
                    .alias("drop_id"),
                    F.col("id").alias("seq"))
            .repartition(files, "url"))


def test_bloom_unit_definite_absence_and_maybe():
    vals = [f"u{i:05d}" for i in range(500)] + [7, 8, 9]
    b = _bloom_build(vals, len(vals))
    for v in ("u00000", "u00499", 7, 9):
        assert _bloom_may_contain(b, v)
    misses = sum(_bloom_may_contain(b, f"x{i:06d}") for i in range(500))
    assert misses <= 25          # ~1% FPR design point, generous bound
    assert not _bloom_may_contain(b, "u00000x")
    # the string "7" and the integer 7 are distinct values
    assert _bloom_may_contain(b, 7)
    # untypeable values can never prune
    assert _bloom_may_contain(b, 3.14)
    assert _bloom_may_contain(b, None)


def test_bloom_skips_hash_layout_where_bounds_cannot(spark, tmp_path):
    stats_only = VersionedTable(spark, str(tmp_path / "s"))
    stats_only.commit(_hash_layout(spark), "drop_id",
                      stats_cols=["url"])
    bloomed = VersionedTable(spark, str(tmp_path / "b"))
    bloomed.commit(_hash_layout(spark), "drop_id",
                   stats_cols=["url"], bloom_cols=["url"])

    lookup = [("url", "==", "u0001007")]
    p0 = stats_only.plan_files(where=lookup)
    p1 = bloomed.plan_files(where=lookup)
    assert p0["files_skipped"] == 0          # bounds useless on hash layout
    assert p1["files_total"] == p0["files_total"]
    assert p1["files_skipped"] >= p1["files_total"] - 2

    got = bloomed.read(where=lookup)
    assert [r.seq for r in got.collect()] == [1007]
    # exactness on a value that is NOT in the table
    assert bloomed.read(where=[("url", "==", "zzz")]).count() == 0

    # `in` keeps only the files that may hold any of the probes
    probe = [("url", "in", ("u0000003", "u0001999"))]
    pin = bloomed.plan_files(where=probe)
    assert 0 < len(pin["files"]) <= 4
    assert sorted(r.seq for r in
                  bloomed.read(where=probe).collect()) == [3, 1999]

    # range ops ignore blooms (and bounds keep everything here) — the
    # result must still be exact
    w = [("url", ">=", "u0001990")]
    assert (bloomed.read(where=w).count()
            == bloomed.read().where(F.col("url") >= "u0001990").count())


def test_bloom_property_is_inherited_by_maintenance(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_hash_layout(spark), "drop_id", bloom_cols=["url"])
    vt.commit(_hash_layout(spark, base=2000, dropbase=4),
              "drop_id")   # inherited
    lookup = [("url", "==", "u0002042")]
    p = vt.plan_files(where=lookup)
    assert p["files_skipped"] >= p["files_total"] - 2
    assert [r.seq for r in vt.read(where=lookup).collect()] == [2042]

    # delete rewrites partitions; its commit re-blooms them
    sid, st = vt.delete_where([("url", "==", "u0002042")])
    assert st["rows_deleted"] == 1
    assert vt.read(where=lookup).count() == 0
    p2 = vt.plan_files(where=[("url", "==", "u0002043")])
    assert p2["files_skipped"] >= p2["files_total"] - 2

    # expiry compaction carries the property onto the compacted base
    vt.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    vt.commit(_hash_layout(spark, base=4000, dropbase=8), "drop_id")
    p3 = vt.plan_files(where=[("url", "==", "u0004007")])
    assert p3["files_skipped"] >= p3["files_total"] - 2
    assert [r.seq for r in
            vt.read(where=[("url", "==", "u0004007")]).collect()] == [4007]


def test_bloom_nulls_and_type_guard(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, None, 10), (1, "a", 11), (2, "b", 12), (2, None, 13)],
        "drop_id int, url string, seq int")
    vt.commit(df, "drop_id", bloom_cols=["url"])
    assert [r.seq for r in
            vt.read(where=[("url", "==", "a")]).collect()] == [11]
    assert vt.read(where=[("url", "==", "c")]).count() == 0

    with pytest.raises(ValueError, match="string/integer"):
        vt.commit(df.withColumn("score", F.lit(1.5)), "drop_id",
                  bloom_cols=["score"])

    # the bitmap actually landed in the per-snapshot file manifest
    snap = vt.snapshots()[0]["parts"]
    top = next(iter(snap.values())).split(os.sep)[0]
    with open(os.path.join(str(tmp_path / "t"), "data", top,
                           _STATS_FILE)) as f:
        man = json.load(f)
    entries = [e for files in man["files"].values() for e in files]
    assert any("url" in e.get("bloom", {}) for e in entries)
