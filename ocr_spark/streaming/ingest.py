"""Structured Streaming twin of the daily-ingest job: a file-source
``readStream`` over the pages directory, ``foreachBatch`` running the
SAME per-drop unit as ``plans/ingest_job.run_ingest_job``
(``ingest_drop``: incremental dedup vs committed history -> narrow
extraction -> one VersionedTable snapshot per micro-batch), with
``Trigger.AvailableNow`` for bounded runs and unchanged continuous
triggers on a real cluster.

This is the upload endpoint at its most literal: files land in a
directory, each micro-batch of new files becomes one pinnable snapshot,
and pages whose bytes were already extracted in an earlier COMMITTED
batch are never extracted or stored twice.

Exactly-once under foreachBatch's at-least-once contract (the
load-bearing detail): Spark's streaming checkpoint commits a batch only
AFTER the foreachBatch callback returns, so a crash anywhere inside the
callback replays the whole micro-batch — same batch_id, same files (the
file source logs its offsets before processing). ``ingest_drop`` is a
pure function of (batch files, DONE-batch history) whose writes are
idempotent per batch, and the done marker is written LAST, so the one
remaining window — crash after our marker but before Spark's checkpoint
commit — replays into an early-return no-op.

Scale shape: identical to the batch job (per-batch cost bounded by the
batch, history side is an 8-byte hash column, blobs never shuffle);
``maxFilesPerTrigger`` is the backpressure lever — AvailableNow
honors source rate limits, so a backlog drains as a sequence of
bounded snapshots rather than one unbounded batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.plans.ingest_job import (
    DropManifest, _check_policy, _compact_if_due, ingest_drop)


class InjectedCrash(RuntimeError):
    """Test-only crash injected into the worst-case window (after the
    snapshot commit and fingerprint write, before the done marker)."""


def run_streaming_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int = 16,
    max_files_per_trigger: int = 1,
    fail_once_pre_mark_at: int | None = None,
    compact_history_every: int | None = None,
    recrawl: str = "append",
    audit=None,
    neardup: dict | None = None,
    allowed_lateness_s: float | None = None,
    late_policy: str = "quarantine",
) -> dict:
    """Drain every unprocessed page file under ``pages_dir`` into the
    versioned results table at ``out_dir`` (see module docstring for the
    protocol), one snapshot per micro-batch. Read results ONLY through
    ``VersionedTable(spark, out_dir + "/results")``.

    ``fail_once_pre_mark_at=k`` raises on the FIRST attempt of batch k
    inside the worst-case crash window; the restarted query replays the
    batch (same id, same files) and must converge byte-identically.

    ``recrawl``, ``neardup`` and ``audit`` mean what they mean for
    ``run_ingest_job``, per micro-batch. A falsy ``audit`` return raises
    out of foreachBatch: the query stops with the quarantined snapshot
    id in the error, the batch is NOT marked done, and a restart replays
    it (re-stage, re-audit); until the audit passes, live readers never
    see the batch.

    ``allowed_lateness_s`` turns on the event-time watermark: pages
    older than the newest done batch's ``max_warc_ts`` minus the
    lateness are quarantined to ``late_pages/``, dropped, or accepted
    with a count (``late_policy``).
    """
    if late_policy not in ("quarantine", "drop", "accept"):
        raise ValueError(
            f"late_policy must be quarantine/drop/accept, "
            f"got {late_policy!r}")
    _check_policy(recrawl, audit)
    manifest = DropManifest(os.path.join(out_dir, "_checkpoints"))
    ran: list[str] = []

    def _event_watermark() -> float | None:
        """High event-time watermark minus allowed lateness, derived
        from DONE batches' markers ONLY (never in-flight state) — the
        same discipline as the fingerprint history, so a replayed
        batch recomputes the identical on-time/late split."""
        mxs = [i.get("max_warc_ts")
               for i in (manifest.info_of(d)
                         for d in manifest.done_drops()) if i]
        mxs = [m for m in mxs if m is not None]
        if not mxs:
            return None
        return max(mxs) - allowed_lateness_s

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        drop = f"batch-{batch_id:06d}"
        if drop in manifest.done_drops():
            return  # replay of a batch that crashed post-mark: no-op
        base = batch_df.persist()  # unpersist target (pages may narrow)
        pages = base
        late_n = 0
        batch_max_ts = None
        try:
            if allowed_lateness_s is not None:
                # pages whose warc_ts predates the watermark go to the
                # late policy instead of folding months-old captures
                # into today's snapshot. Epochs compared as seconds
                # (timestamp cast to double, wall clock in the session
                # tz — fixed per deployment, so replays compute
                # identical epochs and the marker value is stable)
                ts = F.col("warc_ts").cast("timestamp").cast("double")
                row = pages.agg(F.max(ts).alias("m")).collect()[0]
                batch_max_ts = (float(row["m"])
                                if row["m"] is not None else None)
                wm = _event_watermark()
                if wm is not None:
                    is_late = ts < F.lit(wm)
                    late_df = pages.where(is_late)
                    # side count: reported as late_pages; 0 skips both
                    # the quarantine write and the filter below
                    late_n = late_df.count()
                    if late_n and late_policy == "quarantine":
                        # idempotent overwrite per batch: a replayed
                        # crash re-quarantines the same rows
                        (late_df.write.mode("overwrite").parquet(
                            os.path.join(out_dir, "late_pages",
                                         f"drop={drop}")))
                    if late_n and late_policy != "accept":
                        # null warc_ts is never "late": ~is_late alone
                        # would silently drop it with the stragglers
                        pages = pages.where(~is_late
                                            | F.col("warc_ts").isNull())
            sid, attempt, nd_dropped = ingest_drop(
                spark, out_dir, drop, pages, "stream", n_buckets,
                recrawl, audit, neardup)
        finally:
            base.unpersist()
        if fail_once_pre_mark_at == batch_id and attempt == 1:
            raise InjectedCrash(f"pre-mark crash in batch {batch_id}")
        info = {"snapshot_id": sid}
        if neardup is not None:
            info["neardup_dropped"] = nd_dropped
        if allowed_lateness_s is not None:
            info["max_warc_ts"] = batch_max_ts
            info["late_pages"] = late_n
        manifest.mark_done(drop, info)
        ran.append(drop)
        _compact_if_due(spark, out_dir, compact_history_every)

    try:
        schema = spark.read.parquet(pages_dir).schema
    except Exception:
        # empty landing directory at stream start: fall back to the
        # canonical pages schema (sources/warc.py) so the query can be
        # started BEFORE the first file arrives
        from ocr_spark.sources.warc import PAGES_SCHEMA
        schema = PAGES_SCHEMA
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(pages_dir))
    if allowed_lateness_s is not None:
        # event-time annotation for Spark's own stateful operators —
        # only legal on TIMESTAMP (not NTZ) columns, and purely
        # advisory here: under foreachBatch the POLICY is enforced by
        # the done-marker watermark above (deterministic across
        # replays, which Spark's in-memory watermark is not after a
        # restart)
        from pyspark.sql.types import TimestampType
        if isinstance(stream.schema["warc_ts"].dataType, TimestampType):
            stream = stream.withWatermark(
                "warc_ts", f"{int(allowed_lateness_s)} seconds")
    q = (stream.writeStream.foreachBatch(_process)
         .trigger(availableNow=True)
         .option("checkpointLocation", checkpoint).start())
    q.awaitTermination()
    return {"completed": True, "batches_run": sorted(ran),
            "drops_done": sorted(manifest.done_drops())}
