"""Incremental derived-table maintenance over VersionedTable lineage.

A 100 TB corpus is never consumed just once: tokenized training
windows, ANN/LSH index rows, per-host statistics — each is a DERIVED
table that must track the source through appends (new drops), recrawls
(``merge_into`` rewrites), and takedowns (row deletes) without being
rebuilt. Rebuilding is O(corpus) per day; these syncs consume the
source's lineage surfaces (``changed_partitions`` / pruned ``read`` /
``read_changes``) and pay only for what changed — the consumer side of
the CDC story (`sources/io.py read_changes`), composed end-to-end.

Two sync shapes, by how the derived layout relates to the source's:

* :func:`sync_aligned` — derived table partitioned by the SOURCE's
  partition column, transform PARTITION-LOCAL (each derived row
  depends only on source rows of its own partition: per-doc
  tokenization, feature extraction, quality scoring). Reconcile needs
  no row-level diff at all: re-transform exactly the changed
  partitions (one pruned source scan) and dynamic-overwrite them in
  the derived table, tombstoning dropped ones — ONE commit.
* :func:`sync_keyed` — derived table has its OWN layout (hash-bucketed
  by a key column: the production shard/index layout, where a
  training-shard bucket holds chunks of docs from MANY drops).
  Reconcile consumes ``read_changes(w)``: derived rows of
  deleted/updated keys leave, inserted keys re-derive, and only the
  AFFECTED BUCKETS rewrite — bounded by the change set, never the
  corpus.

Exactly-once (the ingest jobs' marker discipline): the watermark (the
source snapshot the derived table reflects, ``_derived.json``) is
written AFTER the derived commit. A crash in between replays the same
partition replaces on restart — with a DETERMINISTIC transform (the
stated contract) the replay converges byte-identically; the derived
table gains a superseded snapshot, never wrong rows. Single logical
writer per derived table, like VersionedTable itself.

Watermark expiry: if the source's retention GC'd the watermark
snapshot, the lineage diff raises — pass ``full_resync=True`` to
rebuild from the source's live view (one static-overwrite commit) and
re-pin. Sync at least as often as source retention.

Reference parity: the reference recomputes everything per run
(hebrew-letter-segmentation.py:230-272 re-reads its whole image dir);
incremental derived maintenance is the operation that shape implies
once the corpus no longer fits a nightly rebuild.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark.sources.io import VersionedTable, atomic_write_json

_STATE_FILE = "_derived.json"
CHANGE_COL = "_change_type"


def _state_path(dst_root: str) -> str:
    return os.path.join(dst_root, _STATE_FILE)


def _load_state(dst_root: str) -> dict | None:
    p = _state_path(dst_root)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _save_state(dst_root: str, state: dict) -> None:
    os.makedirs(dst_root, exist_ok=True)
    atomic_write_json(_state_path(dst_root), state, indent=0)


def _published_latest(src: VersionedTable) -> int:
    snaps = src.snapshots()
    if not snaps:
        raise ValueError(
            f"source table at {src.root} has no snapshots")
    pub = [s["id"] for s in snaps if not s.get("staged")]
    if not pub:
        raise ValueError(
            f"source table at {src.root} has only STAGED snapshots — "
            "publish (or abandon) them before deriving")
    return max(pub)


def _check_state(st: dict | None, dst_root: str, mode: str,
                 src_root: str, extra: dict) -> int:
    """Validate a prior sync's recorded contract and return the
    watermark (0 on first sync)."""
    if st is None:
        return 0
    claims = {"mode": mode, "src_root": src_root, **extra}
    for k, v in claims.items():
        if st.get(k) != v:
            raise ValueError(
                f"derived table at {dst_root} was built with "
                f"{k}={st.get(k)!r}; this sync asked for {v!r} — a "
                "derived table's contract is fixed at first sync "
                "(pass full_resync=True to rebuild under the new one)")
    return int(st["src_snapshot"])


def _lineage_hint(err: Exception, dst_root: str) -> ValueError:
    return ValueError(
        f"sync of {dst_root}: the source lineage diff from the "
        "recorded watermark failed — most often the source's "
        "expire_snapshots GC'd the watermark snapshot (sync at least "
        "as often as source retention). Pass full_resync=True to "
        f"rebuild from the live view. Original error: {err}")


def sync_aligned(spark: SparkSession, src_root: str, dst_root: str,
                 transform: Callable[[DataFrame], DataFrame],
                 note: str = "", full_resync: bool = False) -> dict:
    """Sync a derived table PARTITION-ALIGNED with its source: the
    derived table is partitioned by the source's partition column, and
    ``transform`` (source rows -> derived rows, KEEPING the partition
    column; deterministic; partition-local — a derived row must depend
    only on source rows of its own partition) re-derives exactly the
    partitions the source changed since the last sync.

    Cost model (the 100 TB property): the change set comes from the
    source's partition-grain lineage diff (driver-side manifest only);
    appended + rewritten partitions pay ONE pruned source scan +
    transform + dynamic-overwrite commit; dropped partitions tombstone
    in the same commit without reading anything; a layout-only range
    (source compaction) advances the watermark with NO derived commit.
    Pending merge-on-read deletes on the source count as rewrites of
    their affected partitions and are applied by the pruned read
    itself, so a metadata-only takedown propagates here without the
    source ever rewriting data.

    Returns ``{"synced", "src_snapshot", "changed", "dropped",
    "dst_snapshot"}``; ``synced=False`` means the watermark already
    matched the source's latest published snapshot."""
    src = VersionedTable(spark, src_root)
    latest = _published_latest(src)
    spec = src.partition_spec()
    pcol = spec["partition_col"]
    if pcol is None:
        raise ValueError(
            "sync_aligned requires a partitioned source (an "
            "unpartitioned table replaces wholesale every commit — "
            "there is no partition grain to align to)")
    if spec["transform"] is not None:
        raise ValueError(
            "sync_aligned requires an IDENTITY-partitioned source: the "
            "derived table aligns on partition VALUES, and a hidden "
            f"transform ({spec['transform']!r}) has no value-grain "
            "alignment — use sync_keyed (its own layout) instead")
    dst = VersionedTable(spark, dst_root)
    st = _load_state(dst_root)
    # the source spec is part of the contract: an evolve_partition_spec
    # on the source that changes the column (or adds a transform) makes
    # the recorded alignment meaningless — surface it as the standard
    # contract error with the full_resync pointer
    w = _check_state(st, dst_root, "aligned", src_root,
                     {"partition_col": pcol})
    if full_resync:
        out = transform(src.read(snapshot_id=latest))
        if pcol not in out.columns:
            raise ValueError(
                f"transform must keep the partition column {pcol!r}")
        sid = dst.commit(out, pcol, replace_all=True,
                         note=note or f"full resync @{latest}")
        _save_state(dst_root, {"mode": "aligned", "src_root": src_root,
                               "partition_col": pcol,
                               "src_snapshot": latest,
                               "dst_snapshot": sid})
        return {"synced": True, "src_snapshot": latest,
                "changed": None, "dropped": None, "dst_snapshot": sid}
    if latest <= w:
        return {"synced": False, "src_snapshot": w, "changed": [],
                "dropped": [], "dst_snapshot": None}
    try:
        ch = src.changed_partitions(w, latest)
    except ValueError as e:
        raise _lineage_hint(e, dst_root) from e
    changed = sorted(set(ch["appended"]) | set(ch["rewritten"]))
    dropped = sorted(ch["dropped"])
    sid = None
    if changed or dropped:
        drops = list(dropped)
        if changed:
            out = transform(src.read(snapshot_id=latest,
                                     partitions=changed))
            if pcol not in out.columns:
                raise ValueError(
                    f"transform must keep the partition column "
                    f"{pcol!r} (got {out.columns})")
            # a changed partition that re-derives EMPTY (its last doc
            # taken down, or the transform filters everything) must
            # tombstone — a dynamic overwrite only replaces partitions
            # PRESENT in the frame, and would silently carry the stale
            # derived rows over. Bounded collect: <= len(changed).
            present = {str(r["p"]) for r in
                       out.select(F.col(pcol).alias("p"))
                       .distinct().collect()}
            live = (set(dst._resolve(None, None)[0])
                    if dst.snapshots() else set())
            drops += [v for v in changed
                      if v not in present and v in live]
        else:
            # drop-only range: a typed empty derived frame — the
            # commit records only the tombstones
            out = dst.read().where(F.lit(False))
        sid = dst.commit(out, pcol, drop_partitions=drops or None,
                         note=note or f"sync ({w}, {latest}]")
    _save_state(dst_root, {"mode": "aligned", "src_root": src_root,
                           "partition_col": pcol,
                           "src_snapshot": latest,
                           "dst_snapshot": sid})
    return {"synced": True, "src_snapshot": latest, "changed": changed,
            "dropped": dropped, "dst_snapshot": sid}


def sync_keyed(spark: SparkSession, src_root: str, dst_root: str,
               transform: Callable[[DataFrame], DataFrame],
               key_col: str, n_buckets: int = 16,
               bucket_col: str = "shard_bucket",
               note: str = "", full_resync: bool = False,
               contract_extra: dict | None = None,
               sink_props: dict | None = None) -> dict:
    """Sync a derived table with its OWN hash-bucketed layout: derived
    rows carry ``key_col`` (one source row -> any number of derived
    rows — chunks, index entries) and live in
    ``bucket = pmod(xxhash64(key), n_buckets)`` partitions, the
    production layout where one shard mixes docs from many drops.

    Reconcile consumes the source CDC changelog (``read_changes`` —
    net insert/delete rows since the watermark, bounded to the
    source's changed partitions): every derived row whose key was
    deleted OR re-inserted leaves, inserted keys re-derive through
    ``transform``, and ONLY the affected buckets rewrite — a recrawled
    doc whose new capture yields FEWER derived rows (3 chunks -> 1)
    cannot leave stale rows behind, because reconciliation is by key,
    not by derived-row identity (the reason a keyed MERGE on a
    derived-row id would be wrong here). A bucket left with no
    surviving rows is tombstoned in the same commit.

    Scale shape: only keys + the inserted rows cross the changelog;
    the affected-bucket set is collected driver-side BOUNDED BY
    ``n_buckets`` (never by rows); the rewrite reads only those
    buckets' derived rows plus the source's changed partitions.
    ``transform`` must be deterministic and per-source-row
    (replay/exactly-once rides on it, see module docstring).
    ``contract_extra`` folds caller parameters that shape the derived
    rows (e.g. chunk size) into the recorded first-sync contract.
    ``sink_props`` forwards table-property kwargs (``stats_cols`` /
    ``bloom_cols`` / ``sort_order``) to every derived commit — layout
    only, never semantics: the first commit establishes the inherited
    property (e.g. a cell-sorted, cell-stats ANN index whose searches
    file-skip to the probed cells) and re-passing the same values on
    later syncs is a no-op re-validation.

    Returns ``{"synced", "src_snapshot", "buckets_rewritten",
    "buckets_dropped", "keys_deleted", "keys_inserted",
    "dst_snapshot"}``."""
    src = VersionedTable(spark, src_root)
    latest = _published_latest(src)
    dst = VersionedTable(spark, dst_root)
    st = _load_state(dst_root)
    contract = {"key_col": key_col, "n_buckets": n_buckets,
                "bucket_col": bucket_col, **(contract_extra or {})}
    w = _check_state(st, dst_root, "keyed", src_root, contract)

    def bucket_of(col: str):
        return F.pmod(F.xxhash64(F.col(col)),
                      F.lit(n_buckets)).cast("int")

    def derive(rows: DataFrame) -> DataFrame:
        out = transform(rows)
        if key_col not in out.columns:
            raise ValueError(
                f"transform must keep the key column {key_col!r} "
                f"(got {out.columns})")
        if bucket_col in out.columns:
            raise ValueError(
                f"transform output must not carry {bucket_col!r} — "
                "the sync owns the bucket layout (pass a different "
                "bucket_col if the name is taken)")
        return out.withColumn(bucket_col, bucket_of(key_col))

    state = {"mode": "keyed", "src_root": src_root, **contract,
             "src_snapshot": latest}
    props = {k: list(v) for k, v in (sink_props or {}).items()
             if k in ("stats_cols", "bloom_cols", "sort_order")}
    if full_resync:
        out = derive(src.read(snapshot_id=latest))
        sid = dst.commit(out, bucket_col, replace_all=True,
                         note=note or f"full resync @{latest}",
                         **props)
        _save_state(dst_root, {**state, "dst_snapshot": sid})
        return {"synced": True, "src_snapshot": latest,
                "buckets_rewritten": None, "buckets_dropped": None,
                "keys_deleted": None, "keys_inserted": None,
                "dst_snapshot": sid}
    if latest <= w:
        return {"synced": False, "src_snapshot": w,
                "buckets_rewritten": [], "buckets_dropped": [],
                "keys_deleted": 0, "keys_inserted": 0,
                "dst_snapshot": None}
    # a partition-spec evolution on the source replaced its whole key
    # space with rows preserved — read_changes refuses a range mixing
    # it with data changes, so split at the evolve boundaries and
    # reconcile each sub-range in order (the pure-evolve sub-ranges
    # diff to zero and only advance the watermark). Key-grain
    # reconciliation is layout-independent: the derived table never
    # rebuilds for a source layout change. Each sub-range commits and
    # saves its watermark before the next — a crash mid-sequence
    # resumes exactly where it stopped, same replay contract as ever.
    evolves = [s["id"] for s in src.snapshots()
               if s.get("operation") == "evolve"
               and w < s["id"] <= latest]
    # split points must be PUBLISHED ids (read_changes rejects staged
    # endpoints): the pre-boundary target is the nearest published
    # snapshot at or below e-1 — any staged entries skipped over are
    # invisible to the changelog anyway
    pub = sorted(s["id"] for s in src.snapshots()
                 if not s.get("staged"))
    pre_cuts = {max((i for i in pub if i < e), default=w)
                for e in evolves}
    targets = sorted({t for t in (pre_cuts | set(evolves))
                      if t > w} | {latest})
    last_sid = (st or {}).get("dst_snapshot")
    committed = False
    tot_rw: set = set()
    tot_dp: set = set()
    tot_del = tot_ins = 0
    lo = w
    for hi in targets:
        try:
            changes = src.read_changes(lo, hi,
                                       change_col=CHANGE_COL).persist()
        except ValueError as e:
            raise _lineage_hint(e, dst_root) from e
        touched = None
        try:
            ins = changes.where(F.col(CHANGE_COL) == "insert") \
                         .drop(CHANGE_COL)
            touched = (changes.select(F.col(key_col))
                       .distinct().persist())
            # side counts: the returned keys_deleted/keys_inserted stats
            n_del = (changes.where(F.col(CHANGE_COL) == "delete")
                     .select(key_col).distinct().count())
            n_ins = ins.select(key_col).distinct().count()
            # affected buckets: driver-bounded by n_buckets, never rows
            buckets = sorted(
                r["b"] for r in
                touched.select(bucket_of(key_col).alias("b"))
                .distinct().collect())
            if not buckets:
                # layout-only sub-range: watermark advances, no commit
                _save_state(dst_root, {**state, "src_snapshot": hi,
                                       "dst_snapshot": last_sid})
                lo = hi
                continue
            new_rows = derive(ins)
            if dst.snapshots():
                keep = (dst.read(partitions=buckets)
                        .join(touched, key_col, "left_anti"))
                out = keep.unionByName(new_rows).persist()
            else:
                out = new_rows.persist()
            # buckets whose every derived row left: absent from out ->
            # tombstone (a dynamic overwrite would otherwise carry the
            # stale partition over). Bounded collect (<= n_buckets rows).
            present = {r["b"] for r in
                       out.select(F.col(bucket_col).alias("b"))
                       .distinct().collect()}
            live = (set(dst._resolve(None, None)[0])
                    if dst.snapshots() else set())
            drops = [b for b in buckets
                     if b not in present and str(b) in live]
            sid = dst.commit(out, bucket_col,
                             drop_partitions=drops or None,
                             note=note or f"sync ({lo}, {hi}]",
                             **props)
            out.unpersist()
        finally:
            changes.unpersist()
            if touched is not None:
                touched.unpersist()
        last_sid = sid
        committed = True
        tot_del += n_del
        tot_ins += n_ins
        rewritten = {b for b in buckets if b not in drops}
        tot_rw |= rewritten
        tot_dp = (tot_dp - rewritten) | set(drops)
        tot_rw -= set(drops)
        _save_state(dst_root, {**state, "src_snapshot": hi,
                               "dst_snapshot": sid})
        lo = hi
    return {"synced": True, "src_snapshot": latest,
            "buckets_rewritten": sorted(tot_rw),
            "buckets_dropped": sorted(tot_dp),
            "keys_deleted": tot_del, "keys_inserted": tot_ins,
            "dst_snapshot": last_sid if committed else None}


def run_shards_job(spark: SparkSession, results_root: str,
                   shards_root: str, chunk_tokens: int = 256,
                   stride: int | None = None, n_buckets: int = 16,
                   full_resync: bool = False) -> dict:
    """The flagship derived pipeline: maintain a TRAINING-WINDOW shard
    table — one row per fixed-size chunk, ``(url, chunk_id,
    chunk_text, n_tokens, shard_bucket)`` — incrementally over the
    versioned ingest results table. Each run derives chunks for
    exactly the docs the ingest added/recrawled since the last run and
    retracts chunks of taken-down or superseded captures, rewriting
    only the affected hash buckets: the right-to-be-forgotten path
    END-TO-END (a ``delete_where`` takedown on the results table
    propagates to the training shards at the next sync, bounded by the
    url's buckets — never a shard rebuild).

    Chunking is :func:`ocr_spark.operators.textstats.chunk_documents`
    (pure higher-order array expressions, narrow on the pruned scan).
    The chunk params are part of the derived contract (recorded at
    first sync; changing them needs ``full_resync=True``)."""
    from ocr_spark.operators.textstats import chunk_documents

    def to_chunks(rows: DataFrame) -> DataFrame:
        return chunk_documents(
            rows.select("url", "extracted_text"), "url",
            "extracted_text", chunk_tokens, stride)

    return sync_keyed(spark, results_root, shards_root, to_chunks,
                      key_col="url", n_buckets=n_buckets,
                      note=f"shards chunk={chunk_tokens}",
                      full_resync=full_resync,
                      contract_extra={"chunk_tokens": chunk_tokens,
                                      "stride": stride})
