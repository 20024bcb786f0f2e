"""The flagship extraction job: pages -> results + lineage + metrics.

Plan shape (SURVEY.md §3.1 "Spark mapping"): the whole extraction chain is
ONE fused pandas UDF running narrow over byte-balanced parquet scan
splits — scan -> ArrowEvalPython -> project -> exchange(bucket, salt) ->
write. The html blobs NEVER cross a shuffle: the single exchange sits
after extraction and carries only url + extracted text + small stats
(typically 5-10x smaller), clustering output for the partitioned write.
Lineage/metrics aggregate the tiny per-row stats columns.

Vectorization discipline (BASELINE.json:6): the UDF is an Arrow-batched
scalar pandas UDF — one Python call per ~64-row record batch (the
reference's batch-predict pattern, /root/reference/ocr_project/ocr_app/
services/func.py:34-60 — NOT its per-row loop, func.py:207-211).

Resume (north rule "resumes idempotently from snapshot checkpoints"):
buckets are processed in groups; each group's results land via dynamic
partition overwrite (idempotent), then the bucket is marked done in the
manifest. A restarted job anti-joins pending = all buckets \\ done and
reproduces byte-identical output (tests/test_resume.py).

By default all pending buckets run as ONE group (one scan, one results
write, one lineage and one metrics append): on a flat table every group
would re-read the whole table, since the computed bucket cannot prune.
A pages path that cannot be listed (an object-store URI) keeps
``UNLISTED_GROUPS`` groups, because its layout is unknown; an explicit
``group_size`` splits as asked.
"""

from __future__ import annotations

import os
import time
import uuid
import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ocr_spark.core import core_fingerprint
from ocr_spark.core.extract import extract
from ocr_spark.functions.bucketing import (
    DEFAULT_SALT_N, SKEW_FACTOR, host_of, hot_hosts, salted_partition_key,
)
from ocr_spark.operators.util import spread_small_scan
from ocr_spark.sources.io import CheckpointManifest, TableIO

# Per-block span record (north rule: "extracted text/SPANS per document";
# reference analog: the per-char confidence_data/missing_letters JSON the
# ORM persists, /root/reference/ocr_project/ocr_app/models.py:18-20 and
# ocr_service.py:54-58). Kept as a typed ARRAY<STRUCT>, never stringly
# JSON, and never exploded to per-block rows on the extract path.
BLOCK_SPAN_TYPE = StructType([
    StructField("block_id", IntegerType()),
    StructField("tag", StringType()),
    StructField("depth", IntegerType()),
    StructField("n_words", IntegerType()),
    StructField("link_density", DoubleType()),
    StructField("is_content", BooleanType()),
])

EXTRACT_RESULT_TYPE = StructType([
    StructField("extracted_text", StringType()),
    StructField("content_kind", StringType()),
    StructField("encoding", StringType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_content_blocks", IntegerType()),
    StructField("recoveries", IntegerType()),
    StructField("link_density", DoubleType()),
    StructField("extract_us", LongType()),
    StructField("blocks", ArrayType(BLOCK_SPAN_TYPE)),
])


@F.pandas_udf(EXTRACT_RESULT_TYPE)
def extract_udf(html: pd.Series, lang: pd.Series) -> pd.DataFrame:
    """Arrow-batched extraction: one call per record batch; the loop over
    rows inside is plain Python over already-materialized Arrow buffers
    (the per-document state machines are inherently sequential, exactly
    like the reference's per-image pipeline — batching is at transport
    and scheduling level)."""
    rows = []
    for data, lg in zip(html, lang):
        t0 = time.perf_counter_ns()
        r = extract(bytes(data) if data is not None else None, lg,
                    keep_blocks=True)
        dt = (time.perf_counter_ns() - t0) // 1000
        spans = [{"block_id": b.block_id, "tag": b.tag, "depth": b.depth,
                  "n_words": b.n_words, "link_density": b.link_density,
                  "is_content": b.is_content} for b in r.blocks]
        rows.append((r.text, r.kind, r.encoding, r.n_blocks,
                     r.n_content_blocks, r.recoveries, r.link_density, dt,
                     spans))
    return pd.DataFrame(rows, columns=[f.name for f in EXTRACT_RESULT_TYPE])


def extract_pages(
    pages: DataFrame,
    n_buckets: int = 32,
    salt_n: int = DEFAULT_SALT_N,
    hot: DataFrame | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> results DataFrame.

    ``hot`` is the (host, cnt) skew table; computed from the input when not
    supplied (at production scale: from crawl stats, refreshed per run).

    Building the plan runs no Spark job, so an input with stages of its
    own (the ingest path's dedup anti-join and keep-latest window) runs
    them once, inside the caller's action.
    """
    if hot is None:
        hot = hot_hosts(pages, SKEW_FACTOR)
    # UDF FIRST, over the byte-balanced parquet scan splits (a narrow
    # stage: the html blobs go straight from the columnar read into the
    # Arrow batches, never through a shuffle). Only AFTER extraction does
    # the plan exchange — carrying url + extracted text + small stats,
    # typically 5-10x smaller than the raw html — to cluster the output
    # by (bucket, salt) for the partitioned write. Salting still guards
    # the write/shuffle balance for hot hosts; UDF-stage balance comes
    # from byte-sized input splits, which beats any hash key for
    # heterogeneous document sizes.
    #
    # Small-input escape hatch: an input whose largest scan has fewer
    # splits than the cluster has slots (tiny corpus, one WARC drop)
    # would under-parallelize the narrow UDF, so spread_small_scan
    # pre-spreads it with one round-robin exchange (sized without
    # running it); at corpus scale it is a no-op and the plan stays
    # narrow.
    flagged = (
        spread_small_scan(pages)
        .withColumn("_host", host_of(F.col("url")))
        .join(F.broadcast(hot.withColumn("_is_hot", F.lit(True))
                          .withColumnRenamed("host", "_host")
                          .drop("cnt")),
              on="_host", how="left")
        .withColumn("_is_hot", F.coalesce(F.col("_is_hot"), F.lit(False)))
    )
    bucket, salt = salted_partition_key(
        F.col("url"), F.col("_is_hot"), n_buckets, salt_n)
    res = (flagged
           .withColumn("bucket", bucket)
           .withColumn("salt", salt)
           .withColumn("_r", extract_udf(F.col("html"), F.col("lang"))))
    return res.select(
        "url", "warc_ts", "lang",
        F.col("_r.extracted_text").alias("extracted_text"),
        F.col("_r.content_kind").alias("content_kind"),
        F.col("_r.encoding").alias("encoding"),
        F.col("_r.n_blocks").alias("n_blocks"),
        F.col("_r.n_content_blocks").alias("n_content_blocks"),
        F.col("_r.recoveries").alias("recoveries"),
        F.col("_r.link_density").alias("link_density"),
        F.col("_r.blocks").alias("blocks"),
        F.col("_r.extract_us").alias("extract_us"),
        F.octet_length("html").alias("input_bytes"),
        "bucket", "salt",
    ).repartition("bucket", "salt")


def lineage_of(results: DataFrame, attempt: int, snapshot_id: str) -> DataFrame:
    """Per-(bucket, salt) lineage rows (FIXTURES.md §3)."""
    return results.groupBy("bucket", "salt").agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(F.when(F.length("extracted_text") > 0, 1).otherwise(0))
        .alias("output_rows"),
        F.sum("input_bytes").alias("input_bytes"),
        (F.sum("extract_us") / F.lit(1000.0)).alias("wall_ms"),
    ).withColumn("attempt", F.lit(attempt)) \
     .withColumn("snapshot_id", F.lit(snapshot_id))


def metrics_of(results: DataFrame, attempt: int,
               snapshot_id: str) -> DataFrame:
    """Per-bucket extraction metrics (analog of the reference's per-doc
    verify counts, /root/reference/overflow/
    segment_according_to_sentence.py:216-224).

    attempt/snapshot_id mirror lineage_of: the metrics table is
    append-only, and a crash BETWEEN the metrics append and the manifest
    mark_done double-appends that group's rows on resume — the attempt
    column makes the duplicates distinguishable so latest_metrics can
    dedupe to exactly-once semantics at read time."""
    return results.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0))
        .alias("empty_docs"),
        F.sum(F.when(F.col("content_kind") == "pdf", 1).otherwise(0))
        .alias("pdf_docs"),
        F.avg(F.length("extracted_text")).alias("avg_text_len"),
        F.avg("link_density").alias("avg_link_density"),
        F.sum("recoveries").alias("tokenizer_recoveries"),
    ).withColumn("attempt", F.lit(attempt)) \
     .withColumn("snapshot_id", F.lit(snapshot_id))


def latest_metrics(metrics: DataFrame) -> DataFrame:
    """Exactly-once view of the append-only metrics table: per bucket,
    keep only the row(s) of the LATEST attempt (resume after a crash
    between metrics-append and mark_done re-appends the group under a
    higher attempt; earlier partial rows are superseded, not summed)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket")
    return (metrics
            .withColumn("_max_a", F.max("attempt").over(w))
            .where(F.col("attempt") == F.col("_max_a"))
            .drop("_max_a"))


# Default group count for a pages path that cannot be listed (an
# object-store URI): its size and layout are unknown, so the run keeps
# bounded groups. A listable table runs as one group.
UNLISTED_GROUPS = 4


def _physical_buckets(pages_path: str) -> tuple[set[int], int | None] | None:
    """(bucket values, declared modulus) of a physically bucket-
    partitioned pages table (sources/io.py write_pages_bucketed), or None
    for a flat layout. Local-filesystem paths only: for object-store
    paths listdir fails and we fall back to the flat (non-pruning) scan,
    in ``UNLISTED_GROUPS`` default groups (run_extract_job) — on a real
    cluster the Iceberg catalog carries this metadata instead."""
    try:
        names = os.listdir(pages_path)
    except (NotADirectoryError, FileNotFoundError, OSError):
        return None
    vals = {int(n.split("=", 1)[1]) for n in names
            if n.startswith("bucket=")}
    if not vals:
        return None
    declared = None
    marker = os.path.join(pages_path, "_N_BUCKETS")
    if os.path.exists(marker):
        with open(marker) as f:
            declared = int(f.read().strip())
    return vals, declared


# The versioned results tables' url layout (table properties, so
# maintenance rewrites keep it): per-file min/max bounds and Bloom
# filters on url, and url-sorted data files.
URL_LAYOUT = {"stats_cols": ["url"], "bloom_cols": ["url"],
              "sort_order": ["url"]}


def run_extract_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    n_buckets: int = 32,
    salt_n: int = DEFAULT_SALT_N,
    group_size: int | None = None,
    fail_after_groups: int | None = None,
    fail_point: str = "group_start",
    versioned: bool = False,
    reextract_stale: bool = False,
    io=None,
) -> dict:
    """Resumable driver loop: process pending buckets in groups.

    ``reextract_stale=True`` turns the run into an in-place BACKFILL
    after an extractor upgrade: every done marker stores the core's
    content fingerprint (``ocr_spark.core.core_fingerprint``), and with
    the flag set, buckets whose marker carries an older fingerprint (or
    none) are treated as pending and re-extracted — the backfill is
    resumable mid-way exactly like a first run, because each redone
    bucket re-marks with the new fingerprint as it lands (progress is per
    group: the default runs one group, so pass an explicit ``group_size``
    for a backfill that lands and resumes group by group). With the
    versioned sink this is the corpus-upgrade story: the latest view
    flips to the new extraction group by group while every snapshot
    pinned before the backfill still reads the OLD bytes. Default False:
    a plain resume never re-does work just because the code changed.

    ``versioned=True`` writes results through VersionedTable instead of
    dynamic partition overwrite: each group becomes one snapshot commit
    (partition-grain copy-on-write), so the results table carries its
    full history — ``VersionedTable(spark, out_dir + "/results").read()``
    is the exactly-once latest view (a resumed group's re-commit shadows
    its crashed predecessor), and any earlier snapshot id stays
    byte-stable for corpus pinning. Versioned results MUST be read
    through VersionedTable — a plain recursive parquet read of the root
    would see every historical snapshot at once. The versioned sink
    commits with ``URL_LAYOUT``: per-file url min/max bounds and BLOOM
    filters make ``read(where=[("url", "==", u)])`` takedowns/point
    lookups skip non-matching result files driver-side (the bloom is
    the variant that bites on this url-HASH-bucketed layout, where
    every file spans the full url range), and url-sorted files let the
    pushed predicate skip row groups inside the survivors.

    Each group is one extraction plan over its buckets' rows; results are
    written with dynamic partition overwrite (idempotent), lineage/metrics
    appended, then the manifest marks the group's buckets done.
    ``fail_after_groups`` simulates a crash for the resume test;
    ``fail_point="pre_mark"`` moves the injected crash to AFTER the
    lineage/metrics appends but BEFORE mark_done — the worst-case window
    where an append-only table would double-count without the
    attempt-column dedupe (latest_metrics).

    Scan cost per group: when the input is physically bucket-partitioned
    (sources/io.py write_pages_bucketed — the Iceberg bucket(url_host)
    analog), the per-group filter hits the PARTITION column and prunes at
    the file level, so any number of groups reads the corpus once. A
    flat layout can only filter on the computed xxhash64 expression,
    which parquet cannot prune, so every group re-reads the whole table.

    ``group_size=None`` (the default) runs all pending buckets as ONE
    group whenever ``pages_path`` can be listed, on either layout: the
    fixed cost of a group (plan, results write or commit, lineage and
    metrics appends) does not depend on the layout. Its trade-offs:

    * a crash redoes the whole run's extraction instead of one group's
      (on a flat table the scan lost is one full-table read either way);
    * the results cache (MEMORY_AND_DISK, so it spills) holds the whole
      run instead of one group;
    * no bucket is marked done before the run ends, so a
      ``reextract_stale`` backfill lands as one snapshot.

    For inputs too large for that, pass an explicit ``group_size``, which
    splits pending buckets into groups of that size on either layout;
    over a bucketed table those groups still read the corpus once. A
    ``pages_path`` that cannot be listed (an object-store URI: neither
    the layout nor pruning is detected there) defaults to the buckets
    split into ``UNLISTED_GROUPS`` equal groups, each a full scan.
    """
    # the IO seam (SURVEY §7): default parquet TableIO; pass an
    # IcebergTableIO (sources/io.py make_table_io) to land results/
    # lineage/metrics in an Iceberg catalog instead — the sinks only
    # speak the four seam verbs
    io = io if io is not None else TableIO(spark, out_dir)
    vt = None
    if versioned:
        from ocr_spark.sources.io import VersionedTable
        vt = VersionedTable(spark, os.path.join(out_dir, "results"))
    manifest = CheckpointManifest(os.path.join(out_dir, "_checkpoints"))
    # A resume must not flip sink modes: buckets written plain and marked
    # done would silently be MISSING from the VersionedTable view (and
    # vice versa) — record the mode with the checkpoints and reject a
    # mismatch loudly.
    mode_file = os.path.join(out_dir, "_checkpoints", "_SINK_MODE")
    want_mode = "versioned" if versioned else "plain"
    if os.path.exists(mode_file):
        with open(mode_file) as f:
            have_mode = f.read().strip()
        if have_mode != want_mode:
            raise ValueError(
                f"results at {out_dir} were written with the "
                f"{have_mode!r} sink; resuming with {want_mode!r} would "
                f"silently drop the already-completed buckets from the "
                f"readable view")
    else:
        with open(mode_file, "w") as f:
            f.write(want_mode)
    snapshot_id = uuid.uuid4().hex[:12]

    pages = spark.read.parquet(pages_path)
    physical = _physical_buckets(pages_path)
    if physical is not None:
        vals, declared = physical
        # The modulus must MATCH, not merely bound: a table written mod 4
        # passes a max-value check against n_buckets=8 while every row's
        # physical bucket disagrees with the job's recomputed bucket.
        if declared is not None and declared != n_buckets:
            raise ValueError(
                f"pages table was bucketed with n_buckets={declared} but "
                f"the job was asked for n_buckets={n_buckets}; bucket ids "
                f"would not line up")
        if declared is None and max(vals) >= n_buckets:
            raise ValueError(
                f"pages table is partitioned into buckets up to "
                f"{max(vals)} but the job was asked for "
                f"n_buckets={n_buckets}; bucket ids would not line up")
        if declared is None:
            # No modulus marker (e.g. the underscore-prefixed _N_BUCKETS
            # file was dropped by copy tooling that treats it as hidden).
            # max(vals) < n_buckets does NOT prove alignment: a table
            # written mod 3 passes that check against n_buckets=8 while
            # almost every row's physical bucket disagrees with the
            # recomputed one — and per-group dynamic-partition overwrite
            # would then silently clobber other groups' output. Verify
            # recomputed == physical on a sample before trusting pruning;
            # on any mismatch fall back to the (correct, slower) flat scan.
            rb, _ = salted_partition_key(
                F.col("url"), F.lit(False), n_buckets, salt_n)
            mismatches = (pages.select(rb.alias("_rb"), "bucket")
                          .limit(1000)
                          .where(F.col("_rb") != F.col("bucket")).count())
            if mismatches:
                warnings.warn(
                    f"pages table at {pages_path} has bucket dirs but no "
                    f"_N_BUCKETS marker, and {mismatches}/1000 sampled rows "
                    f"disagree with the job's recomputed bucket "
                    f"(n_buckets={n_buckets}) — refusing physical pruning, "
                    f"falling back to the flat scan.", stacklevel=2)
                pages = pages.drop("bucket")
                physical = None
    # Skew stats once per run, over the url column only.
    hot = hot_hosts(pages, SKEW_FACTOR).cache()
    hot.count()

    fp = core_fingerprint()
    done = manifest.done_buckets(core_version=fp if reextract_stale
                                 else None)
    pending = [b for b in range(n_buckets) if b not in done]
    if group_size is None:
        group_size = (max(len(pending), 1) if os.path.exists(pages_path)
                      else -(-n_buckets // UNLISTED_GROUPS))
    groups = [pending[i:i + group_size]
              for i in range(0, len(pending), group_size)]

    n_done = 0
    for gi, group in enumerate(groups):
        if (fail_after_groups is not None and gi >= fail_after_groups
                and fail_point == "group_start"):
            return {"completed": False, "buckets_done": sorted(
                manifest.done_buckets()), "snapshot_id": snapshot_id}
        if physical is not None:
            # partition prune: only the group's bucket=<k> dirs are read
            subset = pages.where(F.col("bucket").isin(group)).drop("bucket")
        else:
            bucket, _ = salted_partition_key(
                F.col("url"), F.lit(False), n_buckets, salt_n)
            subset = pages.where(bucket.isin(group))
        results = extract_pages(subset, n_buckets, salt_n, hot=hot).cache()
        out_cols = results.drop("extract_us", "input_bytes", "salt")
        if vt is not None:
            vt.commit(out_cols, "bucket",
                      note=f"run {snapshot_id} buckets {group}",
                      **URL_LAYOUT)
        else:
            io.overwrite_partitions(out_cols, "results", ["bucket"])
        attempt = max(manifest.attempt_of(b) for b in group)
        io.append(lineage_of(results, attempt, snapshot_id), "lineage")
        io.append(metrics_of(results, attempt, snapshot_id), "metrics")
        results.unpersist()
        if (fail_after_groups is not None and gi >= fail_after_groups
                and fail_point == "pre_mark"):
            # crash AFTER the appends, BEFORE the manifest mark: resume
            # re-runs this group under a higher attempt; latest_metrics
            # supersedes (not sums) this orphaned append.
            return {"completed": False, "buckets_done": sorted(
                manifest.done_buckets()), "snapshot_id": snapshot_id}
        for b in group:
            manifest.mark_done(b, {"snapshot_id": snapshot_id,
                                   "core_version": fp})
        n_done += len(group)

    hot.unpersist()
    return {"completed": True, "buckets_done": sorted(manifest.done_buckets()),
            "snapshot_id": snapshot_id, "groups_run": n_done}
