"""Iceberg-shaped table IO with a parquet fallback.

Production target is an Iceberg catalog (``spark.read.format("iceberg")``,
snapshot isolation, MERGE). The sandbox ships no Iceberg jars (verified —
SURVEY.md "Environment facts"), so the same interface is implemented over
parquet directories + a manifest file that stands in for snapshot
metadata. All call sites go through :class:`TableIO`, so flipping
``format="iceberg"`` is a one-line change on a real cluster.
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    """Read/write tables by name under a warehouse root.

    ``max_records_per_file`` bounds the LARGE end of the output file-size
    distribution (Spark's per-write ``maxRecordsPerFile``; Iceberg
    analog: ``write.target-file-size-bytes``): without it a hot
    bucket/salt cell emits one multi-GB file that downstream readers
    cannot split. The SMALL end is the layout's job — bucket x salt
    counts are sized so cells land near the target, and this knob only
    rolls files that overshoot it.
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 fmt: str = "parquet",
                 max_records_per_file: int | None = None) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.fmt = fmt
        self.max_records_per_file = max_records_per_file

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self.path(table))

    def _writer(self, df: DataFrame, mode: str):
        w = df.write.format(self.fmt).mode(mode)
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", self.max_records_per_file)
        return w

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_cols: list[str]) -> None:
        """Idempotent per-partition overwrite (Iceberg: dynamic overwrite /
        MERGE by partition). Requires partitionOverwriteMode=dynamic, set
        by ocr_spark.session.get_spark."""
        (self._writer(df, "overwrite")
         .partitionBy(*partition_cols).save(self.path(table)))

    def append(self, df: DataFrame, table: str,
               partition_cols: list[str] | None = None) -> None:
        w = self._writer(df, "append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.save(self.path(table))


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the JVM
    classpath. The sandbox ships no Iceberg jars (stated contract), so
    this gates the ``format("iceberg")`` branch of the IO seam — the
    production path exists and is exercised wherever the jar does."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergTableIO:
    """The ``format("iceberg")`` branch of the IO seam (SURVEY §7
    strategy: "code against a thin IO module so the parquet emulation
    is demonstrably swappable"). Same four verbs as :class:`TableIO`,
    addressed through an Iceberg CATALOG instead of paths — dynamic
    partition overwrite maps to ``overwritePartitions()`` (the real
    Iceberg commit protocol replaces this module's manifest CAS), and
    snapshot/time-travel/maintenance then come from Iceberg itself
    rather than :class:`VersionedTable`.

    Requires the runtime jar (``iceberg_runtime_available``) and a
    configured catalog (``spark.sql.catalog.<name>`` conf). Construct
    via :func:`make_table_io` to fall back to parquet automatically.
    """

    def __init__(self, spark: SparkSession, namespace: str,
                 catalog: str = "local") -> None:
        if not iceberg_runtime_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the JVM classpath — use "
                "TableIO (parquet) or add "
                "iceberg-spark-runtime to spark.jars")
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                  f"{catalog}.{namespace}")

    def qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # TableIO verb parity: extract/ingest jobs call path() only for
    # messages; the catalog identifier is the address here
    def path(self, table: str) -> str:
        return self.qualified(table)

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self.qualified(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self.qualified(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_cols: list[str]) -> None:
        """Iceberg dynamic overwrite: ``overwritePartitions()`` — the
        idempotent-replay verb the resumable jobs are built on."""
        q = self.qualified(table)
        if not self.exists(table):
            df.writeTo(q).partitionedBy(*partition_cols).create()
        else:
            df.writeTo(q).overwritePartitions()

    def append(self, df: DataFrame, table: str,
               partition_cols: list[str] | None = None) -> None:
        q = self.qualified(table)
        if not self.exists(table):
            w = df.writeTo(q)
            if partition_cols:
                w = w.partitionedBy(*partition_cols)
            w.create()
        else:
            df.writeTo(q).append()


def make_table_io(spark: SparkSession, warehouse: str,
                  iceberg_catalog: str | None = None,
                  iceberg_namespace: str | None = None,
                  **table_io_kw):
    """IO-seam factory: an Iceberg-backed IO when a catalog is named
    AND the runtime jar is present, else the parquet :class:`TableIO`.
    Naming a catalog without the jar raises (a silent parquet fallback
    would scatter tables outside the catalog the caller asked for)."""
    if iceberg_catalog is not None:
        return IcebergTableIO(
            spark, iceberg_namespace or os.path.basename(
                os.path.normpath(warehouse)) or "default",
            iceberg_catalog)
    return TableIO(spark, warehouse, **table_io_kw)


def write_pages_bucketed(pages: DataFrame, path: str,
                         n_buckets: int) -> None:
    """Physically partition a pages table by the extraction job's
    host-hash bucket (the local stand-in for Iceberg's hidden
    ``bucket(N, url_host)`` partitioning).

    run_extract_job's per-group resume loop filters on this bucket; with
    the physical layout the filter becomes a partition PRUNE (only the
    group's files are listed/read) instead of a full-corpus rescan per
    group — at 100 TB that turns G groups x full-scan into exactly one
    full-scan total (VERDICT r1 #5).
    """
    from pyspark.sql import functions as F

    from ocr_spark.functions.bucketing import salted_partition_key

    bucket, _ = salted_partition_key(F.col("url"), F.lit(False),
                                     n_buckets, 1)
    (pages.withColumn("bucket", bucket)
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    # Record the modulus: bucket VALUES alone cannot reveal it (a table
    # written mod 4 looks valid to a mod-8 job yet every id misaligns),
    # so the job validates against this marker.
    with open(os.path.join(path, "_N_BUCKETS"), "w") as f:
        f.write(str(n_buckets))


def atomic_write_json(path: str, obj, **dump_kw) -> None:
    """Write ``obj`` as JSON to ``path`` atomically (uuid-named temp
    file in the same directory, then ``os.replace``): readers never see
    a torn file. ``dump_kw`` goes to ``json.dump``. A failed write
    (ENOSPC, an unserializable ``obj``) removes its temp file and
    re-raises, leaving ``path`` as it was."""
    tmp = os.path.join(os.path.dirname(path),
                       f".tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
        os.replace(tmp, path)
    except BaseException:
        _unlink_quiet(tmp)
        raise


def _unlink_quiet(path: str) -> None:
    """Remove ``path`` if it exists."""
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def next_attempt(path: str) -> int:
    """Bump the attempt counter file at ``path`` and return the new
    count (1 when the file is absent). The write goes through
    :func:`atomic_write_json`, so a write that fails leaves the previous
    count readable instead of an empty file that reads as 0 (which
    would hand a retry an earlier attempt's number)."""
    n = 0
    if os.path.exists(path):
        with open(path) as f:
            n = int(f.read().strip() or 0)
    atomic_write_json(path, n + 1)
    return n + 1


def _read_json(path: str, default=None):
    """The JSON at ``path``, or ``default`` when the file is absent."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


class CheckpointManifest:
    """Snapshot-checkpoint stand-in: one marker file per completed bucket
    group, so a restarted job resumes exactly after the last durable write
    (Iceberg analog: snapshot ids on the results table).

    Marker writes are atomic (:func:`atomic_write_json`), so a crash
    mid-write never yields a half-committed marker.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def done_buckets(self, core_version: str | None = None) -> set[int]:
        """Buckets with a done marker. With ``core_version``, only the
        buckets whose marker records that exact extractor fingerprint —
        markers from an older core (or with no/unreadable fingerprint)
        count as NOT done, so an upgraded job re-extracts them
        (run_extract_job(reextract_stale=True)); the backfill is itself
        resumable because each redone bucket re-marks with the new
        fingerprint as it lands."""
        out: set[int] = set()
        for name in os.listdir(self.root):
            if name.startswith("bucket-") and name.endswith(".done"):
                if core_version is not None:
                    try:
                        with open(os.path.join(self.root, name)) as f:
                            info = json.load(f)
                    except (OSError, ValueError):
                        continue  # unreadable marker -> treat as stale
                    if info.get("core_version") != core_version:
                        continue
                out.add(int(name[len("bucket-"):-len(".done")]))
        return out

    def mark_done(self, bucket: int, info: dict) -> None:
        atomic_write_json(os.path.join(self.root, f"bucket-{bucket}.done"),
                          {"bucket": bucket, "ts": time.time(), **info})

    def attempt_of(self, bucket: int) -> int:
        """Next attempt number for a bucket."""
        return next_attempt(
            os.path.join(self.root, f"bucket-{bucket}.attempts"))


class CommitConflict(RuntimeError):
    """A concurrent writer claimed the next manifest version first
    (the compare-and-swap lost). The table is unharmed. Every metadata
    write (``VersionedTable._cas``) rebases on it — reload the
    document, re-run the mutation against it, claim again — so callers
    see it only when a write keeps losing past the retry budget
    (Iceberg's CommitFailedException shape)."""


class _ManifestLock:
    """Contention-avoidance lock around manifest read-mutate-claim
    cycles.

    This lock is an EFFICIENCY device, not the correctness mechanism:
    all table metadata (snapshots and refs) lives in one
    document written only through the versioned CAS
    (``VersionedTable._cas`` claims ``_v/<n>.json`` atomically), so two
    writers that both slip past the lock — different hosts on a shared
    filesystem, a taken-over lease, or ``OCR_SPARK_NO_LOCK=1`` —
    cannot lose an update: the CAS loser gets :class:`CommitConflict`
    and rebases. The lock just keeps same-host writers from burning
    retries.

    Takeover therefore needs no trustworthy liveness oracle
    (pid checks are meaningless across hosts): a waiter
    takes the lock over when the holder's pid is provably dead ON THIS
    host (fast path) or the lock's mtime exceeds ``lease_s``
    (cross-host path). A falsely taken-over live holder at worst loses
    the CAS and retries; it can never corrupt the table."""

    lease_s = 60.0

    def __init__(self, root: str, timeout: float = 30.0) -> None:
        self.path = os.path.join(root, "_LOCK")
        self.timeout = timeout
        self.disabled = os.environ.get("OCR_SPARK_NO_LOCK") == "1"

    def __enter__(self):
        if self.disabled:
            return self
        deadline = time.time() + self.timeout
        while True:
            try:
                fd = os.open(self.path,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                pass
            pid, age = 0, 0.0
            try:
                with open(self.path) as f:
                    pid = int(f.read().strip() or 0)
                age = time.time() - os.path.getmtime(self.path)
            except (OSError, ValueError):
                pid = 0
            alive = True
            if pid and pid != os.getpid():
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    pass  # exists under another uid -> alive
            if pid and (not alive or age > self.lease_s):
                # atomic takeover: exactly one waiter wins the rename;
                # losers hit FileNotFoundError and just retry. Safe
                # even if the holder is actually alive elsewhere — the
                # manifest CAS, not this lock, guards correctness.
                stale = self.path + f".stale-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(self.path, stale)
                    os.unlink(stale)
                except FileNotFoundError:
                    pass
                continue
            if time.time() > deadline:
                raise TimeoutError(
                    f"could not acquire {self.path} within "
                    f"{self.timeout}s (held by pid {pid})")
            time.sleep(0.05)

    def __exit__(self, *exc):
        if not self.disabled:
            _unlink_quiet(self.path)


def _apply_entry(live: dict, s: dict) -> dict:
    """Apply ONE manifest entry to a raw live view (tombstone ``None``
    values retained): later commits shadow earlier ones per partition;
    unpartitioned/replace_all entries reset the view. The single
    source of truth for manifest semantics — _fold_live (hence
    _resolve and commit's tombstone resolution) and history()'s delta
    walk both step through it.

    The view maps ``partition -> (rel_dir_or_None, src_id)`` where
    ``src_id`` is the id of the commit that ESTABLISHED the
    partition's current directory. The src id is what scopes
    merge-on-read row deletes (operation="row_delete"): a delete
    applies to a partition exactly when the partition's data predates
    it (``src_id < delete_id``), so data (re)written after the delete
    is never filtered by it. A compacted base entry (expire_snapshots)
    preserves the original src ids in ``part_src``; a row_delete entry
    touches no partitions at all (its ``parts`` is empty BY CONTRACT —
    for an unpartitioned table the generic reset rule would otherwise
    wipe the view).

    A STAGED entry (write-audit-publish: ``commit(staged=True)``) is
    skipped like a row_delete — its data enters the live view only
    through the later publish entry that cherry-picks its parts; the
    fold applies a staged entry only when the caller explicitly pins
    its id (the AUDIT view — _fold_live's ``apply_staged_id``). An
    expiry-COMPACTED staged entry carries two views: ``base_parts``
    (the resolved PARENT view — what the live lineage folds from,
    since later survivors relied on the truncated prefix) and
    ``parts`` (the resolved AUDIT view its own pin keeps reading)."""
    if s.get("operation") == "row_delete":
        return dict(live)
    if s.get("staged"):
        if "base_parts" not in s:
            return dict(live)
        src = s.get("base_part_src", {})
        return {k: (v, src.get(k, s["id"]))
                for k, v in s["base_parts"].items()}
    if s["partition_col"] is None or s.get("replace_all"):
        src = s.get("part_src", {})
        return {k: (v, src.get(k, s["id"]))
                for k, v in s["parts"].items()}
    out = dict(live)
    for k, v in s["parts"].items():
        out[k] = (v, s["id"])
    return out


def _fold_live(snaps: list[dict], skip_rewrites: bool = False,
               with_src: bool = False,
               apply_staged_id: int | None = None) -> dict:
    """Resolve a manifest prefix to its live view via _apply_entry,
    dropping tombstones. ``skip_rewrites`` leaves layout-only commits
    (operation="rewrite") unapplied — the LOGICAL view that
    changed_partitions diffs. ``with_src=True`` returns
    ``{k: (rel, src_id)}`` instead of ``{k: rel}`` (see
    :func:`_apply_entry`). ``apply_staged_id`` force-applies the
    staged entry with that id — the write-audit-publish AUDIT view,
    produced only for an EXPLICIT pin of the staged snapshot (the
    latest live view never includes unpublished staged data)."""
    live: dict[str, tuple] = {}
    for s in snaps:
        if skip_rewrites and s.get("operation") == "rewrite":
            continue
        if s.get("staged") and s["id"] == apply_staged_id:
            live = _apply_entry(live, {**s, "staged": False})
            continue
        live = _apply_entry(live, s)
    live = {k: v for k, v in live.items() if v[0] is not None}
    if with_src:
        return live
    return {k: v[0] for k, v in live.items()}


def _norm_pv(v) -> str:
    """One casting rule for requested partition values: mirror Spark's
    string cast (the spelling the _pv= layout directories use), so
    read(partitions=[True]) or [42] or [date(...)] match the disk form.
    Supported key types: int, str, bool, date (others: pass the Spark
    string-cast spelling yourself)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return str(v)


def _spec_at(snaps: list[dict], sid: int | None = None) -> tuple:
    """The partition spec ``(partition_col, transform)`` ACTIVE at
    snapshot ``sid`` (latest when None). The FIRST manifest entry
    establishes the spec; an :meth:`VersionedTable.evolve_partition_spec`
    commit (operation="evolve") or an expiry-compacted base entry
    (``spec_set``) re-establishes it from its own line; every other
    entry inherits. Per-snapshot resolution is what keeps a pinned read
    pruning under the spec ITS data was laid out with — the Iceberg
    rule that each snapshot plans with its own partition spec.

    STAGED entries are skipped entirely — a compacted staged entry
    must never re-establish its commit-time spec into the published
    spec line; the seed is the first non-staged entry in range (every
    entry records the pcol/transform it was written under, and expiry
    re-states the at-id spec on any survivor following a gap)."""
    seed = next((s for s in snaps if not s.get("staged")
                 and (sid is None or s["id"] <= sid)), snaps[0])
    pcol = seed["partition_col"]
    tf = seed.get("transform")
    for s in snaps:
        if sid is not None and s["id"] > sid:
            break
        if s["id"] <= seed["id"] or s.get("staged"):
            continue
        if s.get("operation") == "evolve" or s.get("spec_set"):
            pcol = s["partition_col"]
            tf = s.get("transform")
    return pcol, tf


# ------------------------------------------------------ hidden partitioning
#
# Iceberg's signature layout feature: the table partitions by a TRANSFORM
# of a source column — bucket(n, col), truncate(w, col), days(ts) — the
# transform is TABLE METADATA (fixed at the first commit, inherited by
# every later one including maintenance), writers never materialize a
# partition column, and readers filter on the SOURCE column:
# read(where=[("url", "==", u)]) prunes to the one bucket that can hold
# the url before any directory is listed. The transform is evaluated
# twice — as a Spark expression at write time (_transform_expr) and as a
# driver-side Python mirror at planning time (_transform_py) — so the
# two MUST be bit-identical; bucket uses the repo's engine-portable
# md5-derived 60-bit hash (operators/hashing.py) for exactly that
# reason. Pruning is conservative: a key survives unless the spec PROVES
# it holds no matching row, and any unsupported value type keeps every
# key (the residual filter inside read(where=...) preserves exactness
# regardless — pruning is pure I/O elimination).

_TRANSFORM_KINDS = ("identity", "bucket", "truncate", "days")


def _validate_transform(spec) -> dict | None:
    """Normalize a partition_transform spec to its manifest dict form:
    ("bucket", 16) -> {"kind": "bucket", "n": 16}; ("truncate", 8) ->
    {"kind": "truncate", "w": 8}; "days"/("days",) -> {"kind": "days"};
    None/"identity" -> None (the plain value layout)."""
    if spec is None:
        return None
    if isinstance(spec, dict):
        kind = spec.get("kind")
        spec = {"identity": ("identity",), "days": ("days",),
                "bucket": ("bucket", spec.get("n")),
                "truncate": ("truncate", spec.get("w"))}.get(kind, ())
    if isinstance(spec, str):
        spec = (spec,)
    if not isinstance(spec, (tuple, list)) or not spec:
        raise ValueError(f"unsupported partition_transform {spec!r}")
    kind = spec[0]
    if kind == "identity":
        return None
    if kind == "bucket":
        if len(spec) != 2 or not isinstance(spec[1], int) or spec[1] < 1:
            raise ValueError(
                f"bucket transform needs ('bucket', n>=1), got {spec!r}")
        return {"kind": "bucket", "n": spec[1]}
    if kind == "truncate":
        if len(spec) != 2 or not isinstance(spec[1], int) or spec[1] < 1:
            raise ValueError(
                f"truncate transform needs ('truncate', w>=1), "
                f"got {spec!r}")
        return {"kind": "truncate", "w": spec[1]}
    if kind == "days":
        if len(spec) != 1:
            raise ValueError(f"days transform takes no parameter: {spec!r}")
        return {"kind": "days"}
    raise ValueError(
        f"unknown partition transform {kind!r} "
        f"(supported: {_TRANSFORM_KINDS})")


_TRUNC_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _transform_expr(tf: dict | None, col, dtype: str):
    """The partition-key Spark expression for one source-column value
    (a NULL source value yields a NULL key -> the Hive default
    partition, exactly as identity does)."""
    from pyspark.sql import functions as F
    if tf is None or tf["kind"] == "identity":
        return col.cast("string")
    kind = tf["kind"]
    if kind == "bucket":
        from ocr_spark.operators.hashing import md5long
        return F.pmod(md5long(col.cast("string")),
                      F.lit(int(tf["n"]))).cast("string")
    if kind == "truncate":
        w = int(tf["w"])
        if dtype in _TRUNC_INT_TYPES:
            return (col - F.pmod(col, F.lit(w))).cast("string")
        if dtype == "string":
            return F.substring(col, 1, w)
        raise ValueError(
            f"truncate transform supports int/string source columns, "
            f"got {dtype!r}")
    if kind == "days":
        if dtype not in ("date", "timestamp", "timestamp_ntz"):
            raise ValueError(
                f"days transform needs a date/timestamp source column, "
                f"got {dtype!r}")
        return F.date_format(col, "yyyy-MM-dd")
    raise ValueError(f"unknown transform {tf!r}")


def _transform_py(tf: dict | None, v) -> str:
    """Driver-side mirror of _transform_expr over one LITERAL value —
    bit-identical by construction (bucket: int(md5[:15],16) == Spark
    conv(substring(md5,1,15),16,10); truncate int: python % equals pmod
    for w>0; days: ISO date == date_format yyyy-MM-dd). Raises on value
    types the mirror cannot guarantee — callers treat that as
    'cannot prune'."""
    if v is None:
        return _norm_pv(None)
    import datetime
    if tf is None or tf["kind"] == "identity":
        if isinstance(v, datetime.datetime):
            raise ValueError("identity timestamp keys: pass the Spark "
                             "string-cast spelling yourself")
        if isinstance(v, (bool, int, str)) or _is_date(v):
            return _norm_pv(v)
        raise ValueError(f"no exact identity-key mirror for {v!r}")
    kind = tf["kind"]
    if kind == "bucket":
        if not isinstance(v, (bool, int, str)):
            raise ValueError(
                f"bucket mirror supports bool/int/str, got {v!r}")
        import hashlib
        h = int(hashlib.md5(_norm_pv(v).encode("utf-8"))
                .hexdigest()[:15], 16)
        return str(h % int(tf["n"]))
    if kind == "truncate":
        w = int(tf["w"])
        if isinstance(v, bool):
            raise ValueError("truncate mirror: bool unsupported")
        if isinstance(v, int):
            return str(v - (v % w))
        if isinstance(v, str):
            return v[:w]
        raise ValueError(f"truncate mirror supports int/str, got {v!r}")
    if kind == "days":
        import datetime
        if isinstance(v, datetime.datetime):
            return v.date().isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        raise ValueError(f"days mirror needs date/datetime, got {v!r}")
    raise ValueError(f"unknown transform {tf!r}")


def _is_date(v) -> bool:
    import datetime
    return isinstance(v, datetime.date)


def _key_order_pair(tf: dict | None, uk: str, bound):
    """(key, bound) lifted into one comparable order for range pruning
    under an ORDER-PRESERVING transform (identity/truncate/days: v <= b
    implies t(v) <= t(b), so a partition whose key exceeds t(b) provably
    holds no row <= b). Raises when no exact order exists — caller
    keeps the key."""
    kind = "identity" if tf is None else tf["kind"]
    if kind == "bucket":
        raise ValueError("bucket keys have no value order")
    if isinstance(bound, bool):
        raise ValueError("no order pruning on bool bounds")
    if isinstance(bound, int):
        b = bound - (bound % int(tf["w"])) if kind == "truncate" else bound
        return int(uk), b
    if isinstance(bound, str):
        b = bound[:int(tf["w"])] if kind == "truncate" else bound
        return uk, b
    import datetime
    if kind == "days" and isinstance(bound,
                                     (datetime.date, datetime.datetime)):
        return uk, _transform_py(tf, bound)
    if kind == "identity" and type(bound) is datetime.date:
        return uk, bound.isoformat()
    raise ValueError(f"no key order for bound {bound!r}")


def _key_may_match(tf: dict | None, k: str, uk: str, op: str, val) -> bool:
    """May the partition keyed ``k`` hold a row satisfying
    (source_col, op, val)? Conservative: True whenever the transform
    cannot prove otherwise."""
    kind = "identity" if tf is None else tf["kind"]
    try:
        if op == "==":
            t = _transform_py(tf, val)
            return k == t or uk == t
        if op == "in":
            ts = {_transform_py(tf, v) for v in val}
            return k in ts or uk in ts
        if op == "!=":
            # only an identity key pins every row to ONE value
            if kind == "identity":
                t = _transform_py(tf, val)
                return not (k == t or uk == t)
            return True
        if op == "between":
            lo, hi = val
            kl, bl = _key_order_pair(tf, uk, lo)
            kh, bh = _key_order_pair(tf, uk, hi)
            return kl >= bl and kh <= bh
        if op in ("<", "<="):
            kv, bv = _key_order_pair(tf, uk, val)
            return kv <= bv   # strict < cannot exclude t(val)'s key
        if op in (">", ">="):
            kv, bv = _key_order_pair(tf, uk, val)
            return kv >= bv
        return True
    except (ValueError, TypeError):
        return True


def _partition_prune(tf: dict | None, pcol: str | None,
                     where: list[tuple], keys) -> list[str]:
    """Hidden-partitioning scan planning (Iceberg's predicate ->
    partition-spec projection): keep only the live partition keys that
    may hold rows matching the SOURCE-column predicates in ``where``.
    Every supported op is NULL-rejecting, so the Hive default (NULL
    source value) partition drops whenever ANY predicate names the
    source column. Exactness comes from the residual filter
    read(where=...) always applies; this only removes dead I/O."""
    preds = [wp for wp in where if wp[0] == pcol]
    if pcol is None or not preds:
        return list(keys)
    from urllib.parse import unquote
    null_key = _norm_pv(None)
    kept = []
    for k in keys:
        uk = unquote(k)
        if k == null_key or uk == null_key:
            continue
        if all(_key_may_match(tf, k, uk, op, val)
               for _c, op, val in preds):
            kept.append(k)
    return kept


# --------------------------------------------------- file statistics (skip)
#
# Iceberg records per-data-file column bounds in its manifest files and
# plans scans driver-side against them; that is the feature that turns
# zorder_layout's range-disjoint files into real I/O elimination at
# 100 TB. The analog here: every commit writes `_filestats.json` into
# its snapshot directory — the per-snapshot FILE MANIFEST (file name,
# row count, and min/max/null-count per configured stats column,
# harvested from the parquet FOOTERS the write already produced — no
# data is re-read). plan_files()/read(where=...) prune files against
# those bounds before Spark ever lists a directory, then apply the
# predicate as a normal Spark filter so results are EXACTLY
# read().where(...) with the dead I/O removed. Pruning is conservative
# by construction: a file is skipped only when its bounds PROVE no row
# can match; missing stats, unknown null counts, or incomparable types
# all keep the file.

_STATS_FILE = "_filestats.json"
# past this many files the footer harvest runs as a Spark job over the
# file list (a 100 TB commit writes ~10^4-10^5 files; footers are KBs,
# but 10^5 serial opens would stall the driver). Below it, driver-side
# opens are faster than a job round-trip.
_DIST_HARVEST_MIN_FILES = 64

def _stats_encode(v):
    """JSON-safe encoding for a footer min/max value; None = unusable
    (pruning must treat the bound as absent)."""
    import datetime
    import math

    if v is None or isinstance(v, bytes):
        return None
    if isinstance(v, bool) or isinstance(v, int) or isinstance(v, str):
        return v
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, datetime.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__dt__": v.isoformat()}
    return None


def _stats_decode(v):
    import datetime

    if isinstance(v, dict):
        if "__ts__" in v:
            return datetime.datetime.fromisoformat(v["__ts__"])
        if "__dt__" in v:
            return datetime.date.fromisoformat(v["__dt__"])
        return None
    return v


# per-file BLOOM filters (opt-in `bloom_cols` table property): the
# point-lookup complement to min/max bounds. Range bounds prune nothing
# on a HASH-bucketed layout (every file spans the full lexical range —
# the default ingest layout!); a small per-file bloom answers "can this
# file hold url == X?" on ANY layout. Iceberg's analog is the puffin
# sidecar / parquet bloom; here the bitmap rides inside _filestats.json
# (base64), sized ~10 bits per distinct value (~1% FPR at k=7) and
# clamped — an overloaded bloom saturates toward "maybe" and pruning
# degrades gracefully, never wrongly.
_BLOOM_K = 7
_BLOOM_MIN_BITS_LOG2 = 10      # 1 Kbit floor
_BLOOM_MAX_BITS_LOG2 = 20      # 128 KB cap per (file, column), stated


def _bloom_bytes(v) -> bytes | None:
    """Deterministic hash input for a bloom value; None = untypeable
    (no bloom judgement — the probe must keep the file). Type-tagged so
    the string "1" and the integer 1 never collide."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    if isinstance(v, int):
        return b"i:%d" % v
    return None


def _bloom_hashes(v, m: int) -> list[int] | None:
    import hashlib

    b = _bloom_bytes(v)
    if b is None:
        return None
    d = hashlib.md5(b).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1     # odd: full-period step
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build(values, n_hint: int) -> dict:
    import base64

    m = 1 << max(_BLOOM_MIN_BITS_LOG2,
                 min(_BLOOM_MAX_BITS_LOG2,
                     (10 * max(1, n_hint)).bit_length()))
    bits = bytearray(m // 8)
    for v in values:
        hs = _bloom_hashes(v, m)
        if hs is None:
            continue
        for h in hs:
            bits[h >> 3] |= 1 << (h & 7)
    return {"m": m, "b": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_may_contain(bloom: dict, v) -> bool:
    import base64

    hs = _bloom_hashes(v, bloom["m"])
    if hs is None:
        return True                    # untypeable value: cannot prune
    bits = base64.b64decode(bloom["b"])
    return all(bits[h >> 3] & (1 << (h & 7)) for h in hs)


def _file_bloom(path: str, cols: list[str]) -> dict:
    """Per-file bloom filters over the named columns' values. Unlike
    the footer bounds this READS column data — one column-pruned pass
    over a file the commit just wrote (opt-in for that reason; cost
    bounded by the commit, never table size). Only string/integer
    columns are bloomed; anything else is skipped (unprunable on this
    file, never wrong)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict = {}
    if not cols:
        return out
    schema = pq.read_schema(path)
    want = [c for c in cols if c in schema.names]
    if not want:
        return out
    tbl = pq.read_table(path, columns=want)
    for c in want:
        col = tbl.column(c)
        t = col.type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_integer(t)):
            continue
        vals = col.drop_null().to_pylist()
        out[c] = _bloom_build(vals, len(vals))
    return out


def _stats_and_bloom(path: str, cols: list[str],
                     bloom_cols: list[str]) -> dict:
    st = _footer_stats(path, cols)
    bl = _file_bloom(path, bloom_cols)
    if bl:
        st["bloom"] = bl
    return st


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Min/max/null-count per requested column from ONE parquet file's
    footer (row-group statistics folded across groups). A column whose
    stats any row group omits (while holding non-null values) is left
    out — absent means 'cannot prune on this column for this file'."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    out: dict = {"rows": md.num_rows, "cols": {}}
    want = set(cols)
    acc: dict[str, dict] = {c: {"min": None, "max": None, "nulls": 0,
                                "ok": True} for c in cols}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        seen: set[str] = set()
        for i in range(rg.num_columns):
            cm = rg.column(i)
            name = cm.path_in_schema
            if name not in want:
                continue
            seen.add(name)
            a = acc[name]
            if not a["ok"]:
                continue
            st = cm.statistics
            nulls = st.null_count if (st is not None
                                      and st.has_null_count) else None
            if st is None or nulls is None:
                a["ok"] = False
                continue
            a["nulls"] += nulls
            if st.num_values == 0:      # all-null group: no bounds needed
                continue
            if not st.has_min_max:
                a["ok"] = False
                continue
            lo, hi = _stats_encode(st.min), _stats_encode(st.max)
            if lo is None or hi is None:
                a["ok"] = False
                continue
            try:
                if a["min"] is None or _stats_decode(lo) < _stats_decode(
                        a["min"]):
                    a["min"] = lo
                if a["max"] is None or _stats_decode(hi) > _stats_decode(
                        a["max"]):
                    a["max"] = hi
            except TypeError:
                a["ok"] = False
        for name in want - seen:        # nested/missing column: no stats
            acc[name]["ok"] = False
    for c, a in acc.items():
        if a["ok"]:
            out["cols"][c] = {"min": a["min"], "max": a["max"],
                              "nulls": a["nulls"]}
    return out


_SKIP_OPS = ("==", "!=", "<", "<=", ">", ">=", "between", "in")


def _file_may_match(entry: dict, where: list[tuple]) -> bool:
    """True unless this file's recorded bounds PROVE that no row can
    satisfy the conjunction. Comparison predicates never match NULL
    (SQL), so a file whose stats column is entirely null is skippable;
    any TypeError (user value incomparable with the stored bound) keeps
    the file."""
    rows = entry.get("rows")
    cols = entry.get("cols", {})
    blooms = entry.get("bloom", {})
    for col, op, val in where:
        bl = blooms.get(col)
        if bl is not None:
            # bloom judgement: definite-absence on equality predicates
            # (a bloom col need not also be a bounds col)
            if op == "==" and not _bloom_may_contain(bl, val):
                return False
            if op == "in" and not any(_bloom_may_contain(bl, v)
                                      for v in val):
                return False
        st = cols.get(col)
        if st is None:
            continue                       # no stats -> cannot prune
        nulls = st.get("nulls")
        if rows is not None and nulls is not None and nulls >= rows:
            return False                   # all NULL: no predicate matches
        lo, hi = _stats_decode(st.get("min")), _stats_decode(st.get("max"))
        if lo is None or hi is None:
            continue
        try:
            if op == "==" and (val < lo or val > hi):
                return False
            if op == "!=" and lo == hi == val:
                return False
            if op == "<" and lo >= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == ">" and hi <= val:
                return False
            if op == ">=" and hi < val:
                return False
            if op == "between":
                a, b = val
                if hi < a or lo > b:
                    return False
            if op == "in" and not any(lo <= v <= hi for v in val):
                return False
        except TypeError:
            continue
    return True


def _where_to_column(where: list[tuple]):
    """The same conjunction as a Spark Column — the residual filter that
    makes read(where=...) EXACTLY read().where(...)."""
    from functools import reduce

    from pyspark.sql import functions as F

    def one(col, op, val):
        c = F.col(col)
        if op == "==":
            return c == F.lit(val)
        if op == "!=":
            return c != F.lit(val)
        if op == "<":
            return c < F.lit(val)
        if op == "<=":
            return c <= F.lit(val)
        if op == ">":
            return c > F.lit(val)
        if op == ">=":
            return c >= F.lit(val)
        if op == "between":
            return c.between(F.lit(val[0]), F.lit(val[1]))
        if op == "in":
            return c.isin(list(val))
        raise ValueError(f"unsupported where op {op!r} "
                         f"(supported: {_SKIP_OPS})")

    return reduce(lambda a, b: a & b, (one(*p) for p in where))


def _validate_where(where: list[tuple]) -> list[tuple]:
    for p in where:
        if len(p) != 3 or p[1] not in _SKIP_OPS:
            raise ValueError(
                f"where predicates are (col, op, value) with op in "
                f"{_SKIP_OPS}; got {p!r}")
        if p[1] == "between" and len(p[2]) != 2:
            raise ValueError(f"between takes (lo, hi): {p!r}")
    return list(where)


class VersionedTable:
    """Partition-grain copy-on-write table with snapshot time travel —
    the Iceberg feature set the parquet fallback was missing (snapshot
    isolation, `VERSION AS OF` reads, instant rollback), implemented
    with the same manifest discipline as CheckpointManifest.

    Why a training pipeline needs it: a model release must pin the
    exact corpus it trained on. With plain dynamic-partition overwrite,
    a recrawl that rewrites bucket 7 silently changes every later read;
    here each commit writes NEW files under ``data/snap-<n>-<uuid>/``
    and appends one JSON line to the manifest mapping the partitions it
    (re)wrote, so ``read(snapshot_id=k)`` resolves each partition to
    its newest files at k — old snapshots stay byte-stable forever (or
    until an explicit GC policy prunes them), and rollback is reading
    an older id. Readers never list the data directory; the manifest
    IS the table (Iceberg's core idea), so a crashed half-written
    commit (files present, no manifest line) is invisible.

    Commit protocol: write files, then claim the next metadata
    version. ALL table metadata — snapshots and refs (tags) — is ONE
    document, ``_v/<n>.json``, written only by :meth:`_cas`: load
    version n, mutate, claim n+1 by atomic create-if-absent (Iceberg's
    single ``metadata.json`` swap). A lost claim rebases and retries,
    so concurrent writers on any host lose no update; the ``_LOCK``
    file (:class:`_ManifestLock`) only spares same-host writers the
    retries.

    Scale shape: the manifest holds (partition -> directory) strings,
    one entry per partition per commit that touched it — independent of
    row count; reads hand Spark an explicit directory list, so
    partition pruning happens driver-side at manifest resolution (read
    only the partitions you ask for via ``partitions=``), and file
    listing stays per-directory.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _vdir(self) -> str:
        return os.path.join(self.root, "_v")

    def _latest_version(self) -> int:
        """Highest claimed manifest version (0 = none/legacy)."""
        try:
            names = os.listdir(self._vdir)
        except FileNotFoundError:
            return 0
        vs = [int(n[:-5]) for n in names
              if n.endswith(".json") and n[:-5].isdigit()]
        return max(vs, default=0)

    def _load(self) -> tuple[int, dict]:
        """``(version, {"snapshots": [...], "refs": {...}})`` at the
        newest claimed version. Pre-document tables still read: a
        list-shaped ``_v/<n>.json`` (or, with no ``_v/``, the old
        ``_snapshots.json``) is the snapshot list, and refs come from
        the old ``_refs.json``; the first :meth:`_cas` write folds them
        in."""
        v = self._latest_version()

        def old(name: str, default):
            return _read_json(os.path.join(self.root, name), default)

        doc = (_read_json(os.path.join(self._vdir, f"{v}.json"), [])
               if v else old("_snapshots.json", []))
        if isinstance(doc, dict):
            return v, doc
        return v, {"snapshots": doc, "refs": old("_refs.json", {})}

    def snapshots(self) -> list[dict]:
        """The manifest: one entry per snapshot, oldest first."""
        return self._load()[1]["snapshots"]

    def refs(self) -> dict:
        """Named snapshot references (Iceberg TAGS):
        ``{name: {"snapshot_id": k, "ts": created}}`` pins a snapshot by
        NAME ("the corpus model v1 trained on"); ``expire_snapshots``
        keeps every tagged snapshot readable, so the pin survives
        retention policy instead of silently expiring out from under
        the training run."""
        return self._load()[1]["refs"]

    # claims tried before CommitConflict surfaces (jittered backoff)
    _CAS_ATTEMPTS = 32

    def _cas(self, mutate):
        """The ONE metadata mutation path: under the contention lock,
        load the document, apply ``mutate(doc)`` in place, claim the
        next version. A lost claim rebases — reload, re-run ``mutate``
        (its validation sees the winner's state), claim again. An
        unchanged document claims nothing. Returns the result of the
        ``mutate`` call whose document was claimed."""
        last: CommitConflict | None = None
        for attempt in range(self._CAS_ATTEMPTS):
            if attempt:
                time.sleep(random.uniform(0, min(0.05, 0.001 * 2 ** attempt)))
            with _ManifestLock(self.root):
                v, doc = self._load()
                before = json.dumps(doc)
                out = mutate(doc)
                if json.dumps(doc) == before:
                    return out
                try:
                    self._write_manifest(v + 1, doc)
                    return out
                except CommitConflict as e:
                    last = e
        raise last

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag ``snapshot_id`` (default: latest) as ``name``. Re-tagging
        the SAME id under the same name is a no-op (idempotent job
        re-runs); the same name on a different id raises — a moved pin
        is a changed training corpus and must be explicit (drop_tag
        first). Returns the tagged id."""
        def _tag(doc: dict) -> int:
            snaps, refs = doc["snapshots"], doc["refs"]
            if not snaps:
                raise ValueError(f"cannot tag empty table at {self.root}")
            sid = snapshot_id if snapshot_id is not None else snaps[-1]["id"]
            # readable-id validation through the same resolution reads
            # use (raises on future ids and on ids expired out of the
            # manifest)
            self._resolve(sid, None, snaps=snaps)
            if sid < snaps[0]["id"]:
                raise ValueError(
                    f"snapshot {sid} is expired (oldest readable is "
                    f"{snaps[0]['id']}) in {self.root}")
            if name in refs:
                if refs[name]["snapshot_id"] == sid:
                    return sid
                raise ValueError(
                    f"tag {name!r} already pins snapshot "
                    f"{refs[name]['snapshot_id']} (asked for {sid}); "
                    f"drop_tag first — a moved pin must be explicit")
            refs[name] = {"snapshot_id": sid, "ts": time.time()}
            return sid
        return self._cas(_tag)

    def drop_tag(self, name: str) -> bool:
        """Remove tag ``name``; the pinned snapshot becomes expirable
        again. Returns False when the tag did not exist (idempotent)."""
        def _drop(doc: dict) -> bool:
            refs = doc["refs"]
            if name not in refs:
                return False
            del refs[name]
            return True
        return self._cas(_drop)

    # manifest versions kept behind the newest claim — deep enough that
    # no reader is still resolving one this old by the time it's pruned
    _KEEP_VERSIONS = 64

    def _write_manifest(self, version: int, doc: dict) -> None:
        """Claim ``_v/<version>.json`` with ``doc`` (compare-and-swap):
        ``os.link`` of a complete temp file is an atomic
        create-if-absent, so no torn JSON is ever visible under a
        claimed name. An existing target raises :class:`CommitConflict`
        (:meth:`_cas`, the only caller, rebases). The temp file is
        removed whether the dump, the claim or neither fails."""
        os.makedirs(self._vdir, exist_ok=True)
        tmp = os.path.join(self._vdir,
                           f".tmp-{uuid.uuid4().hex[:8]}")
        try:
            with open(tmp, "w") as f:
                json.dump(doc, f, indent=1)
            os.link(tmp, os.path.join(self._vdir, f"{version}.json"))
        except FileExistsError:
            raise CommitConflict(
                f"manifest version {version} of {self.root} was claimed "
                "by a concurrent writer — re-read and retry")
        finally:
            _unlink_quiet(tmp)
        # opportunistic prune of deep version history (never the tail
        # a lagging reader could still be resolving)
        for n in range(max(1, version - 2 * self._KEEP_VERSIONS),
                       version - self._KEEP_VERSIONS):
            _unlink_quiet(os.path.join(self._vdir, f"{n}.json"))

    def commit(self, df: DataFrame, partition_col: str | None = None,
               note: str = "", replace_all: bool = False,
               drop_partitions: list | None = None,
               operation: str = "write",
               stats_cols: list[str] | None = None,
               bloom_cols: list[str] | None = None,
               sort_order: list[str] | None = None,
               staged: bool = False,
               partition_transform=None) -> int:
        """Write ``df`` as a new snapshot. With ``partition_col``,
        default semantics are Iceberg DYNAMIC overwrite: partitions
        PRESENT in ``df`` are replaced, absent ones carry over from the
        previous snapshot; ``replace_all=True`` is the STATIC overwrite
        (the new mapping replaces the whole live view). Without a
        partition column the table is unpartitioned and every commit
        replaces it. The partition scheme is fixed by the FIRST commit
        — a mismatched ``partition_col`` raises (mixing unpartitioned
        and partitioned commits would double-read carried-over
        partitions). Returns the new snapshot id (1-based, monotone).

        ``partition_transform`` turns on HIDDEN PARTITIONING (Iceberg
        partition specs): the layout key is a TRANSFORM of
        ``partition_col`` — ``("bucket", n)`` (engine-portable
        md5-derived hash mod n), ``("truncate", w)`` (ints to w-sized
        ranges, strings to w-char prefixes), or ``"days"``
        (date/timestamp to its ISO day) — writers never materialize a
        key column and readers keep filtering on the SOURCE column:
        ``read(where=[("url", "==", u)])`` prunes to the one bucket
        that can hold the url before any directory or file manifest is
        touched (equality/IN prune on every transform; ranges
        additionally prune on the order-preserving truncate/days/
        identity). Like the partition column itself the transform is
        fixed at the first commit and inherited by every later one
        (re-passing a DIFFERENT spec raises); partition VALUES in
        ``drop_partitions`` / ``read(partitions=...)`` /
        ``changed_partitions`` then mean transformed KEYS (e.g. bucket
        numbers), and NULL source values land in the Hive default
        partition exactly as identity does. Dynamic-overwrite semantics
        are unchanged and apply at KEY grain — a commit whose df
        touches a bucket REPLACES that whole bucket (Iceberg's own
        INSERT OVERWRITE caveat): keyed upserts into a transformed
        layout go through :meth:`merge_into`, which rewrites exactly
        the affected buckets keeping their other rows.

        ``drop_partitions`` (dynamic-partitioned tables only) records the
        named partition VALUES as tombstones in this snapshot: they stop
        carrying over into the live view from this id on, while every
        earlier snapshot still reads them (copy-on-write — the data
        directories are untouched until ``expire_snapshots`` GCs them).
        A value that matches no live partition is skipped (idempotent
        re-runs must not fail); a value also present in ``df`` raises —
        one snapshot must not both rewrite and drop a partition.

        ``operation`` tags the manifest entry (Iceberg snapshot
        ``operation``): "write" (data), "delete"/"merge" (set by
        delete_where/merge_into), or "rewrite" — a LAYOUT-ONLY commit
        (rewrite_files) whose dir changes ``changed_partitions`` /
        ``read_incremental`` must NOT report as data rewrites.

        ``stats_cols`` turns on file-level column statistics (Iceberg
        manifest bounds): min/max/null-count per written file for the
        named columns, harvested from the parquet footers the write
        already produced and recorded in the snapshot's
        ``_filestats.json`` — ``read(where=...)`` then skips files
        whose bounds prove no match. The column set is a TABLE PROPERTY:
        once set it is inherited by every later commit (including the
        internal delete_where/merge_into/rewrite_files commits, so
        maintenance never loses skipping); pass ``[]`` to switch the
        property off from this snapshot on. A configured column absent
        from one commit's ``df`` (schema evolution) is harvested where
        present and simply unprunable for this snapshot's files.

        ``bloom_cols`` (a second inherited table property, same rules)
        additionally records a per-file BLOOM FILTER over each named
        string/integer column — the point-lookup complement to the
        bounds: min/max prune nothing on a hash-bucketed layout (every
        file spans the full value range — the default ingest layout),
        while the bloom answers "can this file hold url == X?" on ANY
        layout, so ``==`` / ``in`` predicates skip files without
        requiring range clustering. Unlike the footer harvest this
        reads the named columns back (one column-pruned pass over the
        files this commit just wrote — opt-in for that reason);
        explicitly naming a non-string/integer column raises.

        ``sort_order`` (a third inherited table property — Iceberg's
        WRITE SORT ORDER, ``ALTER TABLE … WRITE ORDERED BY``): every
        commit lays its rows out task-locally sorted by the named
        columns before writing (``sortWithinPartitions`` — a local
        sort, never an extra shuffle), so each data FILE is internally
        clustered and its recorded min/max bounds stay tight. Because
        the property is inherited by the internal delete_where /
        merge_into / evolve / rewrite_files commits, maintenance
        preserves clustering without every caller remembering
        ``sort_by=`` — the footgun this closes: compacting a clustered
        table with a bare ``rewrite_files()`` used to span every file
        across the whole value range and silently kill file skipping
        (``rewrite_files`` additionally defaults its range
        distribution to this property). Task-local means bounds are
        tight WITHIN each write task; for globally disjoint ranges
        distribute first (``repartitionByRange`` upstream, or let
        ``rewrite_files`` do it). Columns absent from one commit's
        ``df`` (schema evolution) are skipped for that commit; pass
        ``[]`` to switch the property off from this snapshot on.

        ``staged=True`` is the WRITE step of write-audit-publish
        (Iceberg WAP — ``spark.wap.id`` staged commits): the data is
        written and the snapshot recorded, but the LIVE view never
        includes it — ``read()`` and every maintenance/incremental
        surface behave as if the commit hadn't happened. The staged
        snapshot is readable ONLY at its own explicit pin
        (``read(snapshot_id=<returned id>)`` — parent view + the
        staged changes, the AUDIT view), and enters the table through
        :meth:`publish`, which cherry-picks its partitions after a
        conflict check. An abandoned staged snapshot (failed audit) is
        GC'd by ``expire_snapshots`` like any superseded commit; tag
        it to keep the quarantined data inspectable past retention."""
        _, doc0 = self._load()
        snaps = doc0["snapshots"]
        # hidden partitioning: the transform is a table property
        # established at the first commit — later commits inherit it
        # (maintenance never re-states it) and may only re-pass the
        # identical spec. The ONE sanctioned way to change it is
        # evolve_partition_spec (operation="evolve": a replace_all
        # rewrite that re-establishes the spec from its own line).
        tf_req = _validate_transform(partition_transform)
        cur_pcol, cur_tf = (_spec_at(snaps) if snaps
                            else (partition_col, tf_req))
        if operation == "evolve":
            if not replace_all or not snaps or staged:
                raise ValueError(
                    "operation='evolve' is internal to "
                    "evolve_partition_spec (an unstaged replace_all "
                    "rewrite of a non-empty table — a STAGED evolve "
                    "would make an invisible entry spec-setting)")
            tf = tf_req
        else:
            if snaps and cur_pcol != partition_col:
                raise ValueError(
                    f"table at {self.root} is partitioned by "
                    f"{cur_pcol!r}; commit asked for {partition_col!r}")
            tf = cur_tf
            if snaps and tf_req is not None and tf_req != cur_tf:
                raise ValueError(
                    f"table at {self.root} uses partition transform "
                    f"{cur_tf!r}; commit asked for {tf_req!r}")
        if tf is not None and partition_col is None:
            raise ValueError("partition_transform requires partition_col")
        # stats property: explicit param wins (validated — a typo must
        # not silently disable skipping); None inherits the latest
        # recorded set (single logical writer, like the rest of commit)
        if stats_cols is not None:
            missing = [c for c in stats_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"stats_cols {missing} not in DataFrame columns "
                    f"{df.columns}")
            stats_prop: list[str] | None = list(stats_cols)
        else:
            stats_prop = self._inherited_prop(snaps, "stats_cols")
        if bloom_cols is not None:
            types = {f.name: f.dataType.simpleString()
                     for f in df.schema.fields}
            bloomable = ("string", "tinyint", "smallint", "int", "bigint")
            bad = [c for c in bloom_cols
                   if types.get(c) not in bloomable]
            if bad:
                raise ValueError(
                    f"bloom_cols {bad} must be string/integer columns "
                    f"of the DataFrame (have: {types})")
            bloom_prop: list[str] | None = list(bloom_cols)
        else:
            bloom_prop = self._inherited_prop(snaps, "bloom_cols")
        if sort_order is not None:
            missing = [c for c in sort_order if c not in df.columns]
            if missing:
                raise ValueError(
                    f"sort_order {missing} not in DataFrame columns "
                    f"{df.columns}")
            sort_prop: list[str] | None = list(sort_order)
        else:
            sort_prop = self._inherited_prop(snaps, "sort_order")
        # write sort order: task-local (no shuffle) — each written file
        # comes out internally sorted on the present order columns
        sort_now = [c for c in (sort_prop or []) if c in df.columns]
        # PROVISIONAL id names the data dir (uuid suffix makes it
        # collision-free even when two writers race); the COMMITTED id
        # is assigned under the manifest lock below, so a concurrent
        # writer may shift it — readers only ever follow the manifest,
        # never directory names
        sid = (snaps[-1]["id"] + 1) if snaps else 1
        rel = f"snap-{sid:06d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, "data", rel)
        parts: dict[str, str]
        schema_dir: str | None = None
        if partition_col is None:
            w = df.sortWithinPartitions(*sort_now) if sort_now else df
            w.write.mode("errorifexists").parquet(out)
            parts = {"__table__": rel}
        else:
            # partition the LAYOUT on a duplicate string column so the
            # real column (with its type) stays inside the data files —
            # reads then need no partition-dir inference, which would
            # choke on the snap-<n>/key=value two-level structure.
            # With a hidden-partitioning transform the layout column is
            # the TRANSFORM of the source column (the source column
            # itself still lands in the files with its type).
            from pyspark.sql import functions as F
            ptype = {f.name: f.dataType.simpleString()
                     for f in df.schema.fields}.get(partition_col)
            if ptype is None:
                raise ValueError(
                    f"partition column {partition_col!r} not in "
                    f"DataFrame columns {df.columns}")
            key = _transform_expr(tf, F.col(partition_col), ptype)
            w = df.withColumn("_pv", key)
            if sort_now:
                # "_pv" leads so the writer's required per-task
                # ordering on the partition column is already
                # satisfied and FileFormatWriter skips its own
                # (non-stable) re-sort, keeping the order columns'
                # clustering intact within each file
                w = w.sortWithinPartitions("_pv", *sort_now)
            w.write.mode("errorifexists").partitionBy("_pv").parquet(out)
            # manifest keys come from the directories Spark ACTUALLY
            # wrote (Hive-escaped spelling) — never from a second
            # evaluation of df, which would re-run the upstream plan
            # and could diverge from disk (str(True) vs 'true', %xx
            # escapes, non-deterministic inputs)
            parts = {d[len("_pv="):]: os.path.join(rel, d)
                     for d in sorted(os.listdir(out))
                     if d.startswith("_pv=")}
            if not parts:
                # EMPTY partitioned commit: Spark wrote only _SUCCESS (no
                # parquet footer anywhere), so a table whose every live
                # partition is empty would have no schema source and
                # read() could only fail confusingly (ADVICE r3). Record
                # a 0-row unpartitioned schema file with the snapshot;
                # read() falls back to it for a typed empty DataFrame.
                df.limit(0).write.mode("errorifexists").parquet(
                    os.path.join(out, "_schema"))
                schema_dir = os.path.join(rel, "_schema")
        if stats_prop is not None or bloom_prop is not None:
            files_by_key: dict[str, list[str]] = {}
            if partition_col is None:
                files_by_key["__table__"] = sorted(
                    f for f in os.listdir(out) if f.endswith(".parquet"))
            else:
                for k, sub in parts.items():
                    d = os.path.join(self.root, "data", sub)
                    files_by_key[k] = sorted(
                        f for f in os.listdir(d) if f.endswith(".parquet"))
            harvest = [c for c in (stats_prop or []) if c in df.columns]
            bharvest = [c for c in (bloom_prop or []) if c in df.columns]
            payload = self._harvest_filestats(out, parts, files_by_key,
                                              harvest, bharvest)
            atomic_write_json(os.path.join(out, _STATS_FILE), payload)
        if drop_partitions and partition_col is None:
            raise ValueError("drop_partitions requires a partitioned table")
        # the manifest append runs through _cas: validate + build the
        # entry against the loaded document, claim the next version; a
        # CAS loss rebases — re-validate (the spec may have
        # moved), re-number sid — and retries. Data files never move:
        # the dir name is provisional (uuid suffix), only the manifest
        # assigns ids.
        def _append_entry(doc: dict) -> int:
            snaps = doc["snapshots"]
            lock_pcol, lock_tf = (_spec_at(snaps) if snaps
                                  else (partition_col, tf))
            if operation != "evolve":
                if snaps and lock_pcol != partition_col:
                    raise ValueError(
                        f"table at {self.root} is partitioned by "
                        f"{lock_pcol!r}; commit asked for "
                        f"{partition_col!r}")
                if snaps and lock_tf != tf:
                    # a concurrent first commit or spec evolution won
                    # the race — this layout was written under tf
                    raise ValueError(
                        f"table at {self.root} uses partition transform "
                        f"{lock_tf!r}; this commit's layout was written "
                        f"under {tf!r}")
            # attempt-local copy: a rebase re-resolves tombstones
            # against the FRESH live view instead of accumulating
            # stale ones across retries
            pts = dict(parts)
            if drop_partitions:
                # tombstone the LIVE key each requested value shadows,
                # matching through the same casting/escaping rule reads
                # use (_norm_pv + percent-unescape); resolving against
                # the just-read manifest keeps the live view consistent
                # with the append
                from urllib.parse import unquote
                live = _fold_live(snaps)
                for val in drop_partitions:
                    want = _norm_pv(val)
                    hits = [k for k in live
                            if k == want or unquote(k) == want]
                    for k in hits:
                        if k in pts and pts[k] is not None:
                            raise ValueError(
                                f"partition {k!r} is both rewritten and "
                                f"dropped in one commit")
                        pts[k] = None
            sid = (snaps[-1]["id"] + 1) if snaps else 1
            entry = {"id": sid, "ts": time.time(), "note": note,
                     "operation": operation,
                     "partition_col": partition_col,
                     "replace_all": bool(replace_all), "parts": pts}
            if tf is not None:
                entry["transform"] = tf
            if staged:
                entry["staged"] = True
            if schema_dir is not None:
                entry["schema_dir"] = schema_dir
            for prop, pkey in ((stats_prop, "stats_cols"),
                               (bloom_prop, "bloom_cols"),
                               (sort_prop, "sort_order")):
                if prop is not None:
                    entry[pkey] = prop
            snaps.append(entry)
            return sid

        return self._cas(_append_entry)

    def publish(self, staged_id: int, note: str = "",
                force: bool = False) -> int:
        """The PUBLISH step of write-audit-publish: cherry-pick a
        staged snapshot's changes into the live view (Iceberg's
        ``cherrypick_snapshot``). Appends one METADATA-ONLY manifest
        entry referencing the staged commit's data directories — no
        data file is read, rewritten, or moved, so publish is O(1)
        however large the audited drop.

        Conflict check (Iceberg cherry-pick validation): every
        partition the staged commit writes or tombstones must be
        UNCHANGED between stage time and publish time, and no
        merge-on-read delete recorded since may touch it — otherwise
        publishing would silently clobber work the audit never saw;
        such a publish raises unless ``force=True`` (the caller
        asserting the staged data should win). A staged replace_all /
        unpartitioned commit conflicts with ANY intervening change.

        Idempotent: publishing an already-published staged id returns
        the existing publish snapshot's id (crash-replay safe — the
        ingest audit gate re-runs publish after a crash between
        publish and its done marker)."""
        def _publish(doc: dict) -> int:
            snaps = doc["snapshots"]
            src = next((s for s in snaps if s["id"] == staged_id), None)
            if src is None:
                raise ValueError(
                    f"unknown snapshot {staged_id} in {self.root} "
                    "(expired staged snapshots cannot be published)")
            if not src.get("staged"):
                raise ValueError(
                    f"snapshot {staged_id} in {self.root} is not a "
                    "staged commit")
            for s in snaps:
                if (s.get("operation") == "publish"
                        and s.get("source") == staged_id):
                    return s["id"]
            evolved = [s["id"] for s in snaps
                       if s.get("operation") == "evolve"
                       and s["id"] > staged_id]
            if evolved or _spec_at(snaps, staged_id) != _spec_at(snaps):
                # HARD block (no force): the staged data was laid out
                # under the pre-evolution spec — cherry-picking its
                # partition keys into the evolved key space would mix
                # two layouts in one live view. The spec comparison
                # additionally catches a spec-crossing rollback_to.
                raise ValueError(
                    f"cannot publish staged snapshot {staged_id}: the "
                    f"partition spec changed after it was staged "
                    f"(evolve at {evolved or 'a rollback'}) — re-stage "
                    "the drop under the current spec")
            idx = snaps.index(src)
            # conflict check on the LOGICAL views (layout-only
            # rewrite_files commits not applied, same rule as
            # changed_partitions): a compaction between stage and
            # publish moves partition dirs without touching rows and
            # must not read as a conflict — publishing over it
            # replaces the same row content
            then = _fold_live(snaps[:idx], skip_rewrites=True)
            now = _fold_live(snaps, skip_rewrites=True)
            if src["partition_col"] is None or src.get("replace_all"):
                touched = set(then) | set(now)
            else:
                touched = set(src["parts"])
            conflicts = sorted(k for k in touched
                               if then.get(k) != now.get(k))
            for d in snaps:
                if (d.get("operation") == "row_delete"
                        and d["id"] > staged_id):
                    aff = d.get("affected")
                    hit = (touched if aff is None
                           else touched & set(aff))
                    conflicts.extend(f"{k} (row_delete {d['id']})"
                                     for k in sorted(hit))
            if conflicts and not force:
                raise ValueError(
                    f"cannot publish staged snapshot {staged_id}: "
                    f"partitions changed since it was staged — "
                    f"{conflicts}; re-stage against the current view "
                    "or pass force=True to clobber")
            sid = snaps[-1]["id"] + 1
            entry = {"id": sid, "ts": time.time(),
                     "note": note or f"publish staged {staged_id}",
                     "operation": "publish", "source": staged_id,
                     "partition_col": src["partition_col"],
                     "replace_all": bool(src.get("replace_all")),
                     "parts": dict(src["parts"])}
            snaps.append(entry)
            return sid
        return self._cas(_publish)

    @staticmethod
    def _inherited_prop(snaps: list[dict], key: str) -> list | None:
        """A column-list table property (``stats_cols`` /
        ``bloom_cols`` / ``sort_order``): the newest recorded list.

        Staged recordings are PREFERRED AGAINST: an explicit property
        on a quarantined commit must not rewrite the published table
        configuration (the fold falls back to the newest staged
        recording only when no published commit ever recorded the
        property — the stage-first bootstrap)."""
        rec = next((s for s in reversed(snaps)
                    if s.get(key) is not None
                    and not s.get("staged")), None)
        if rec is None:
            rec = next((s for s in reversed(snaps)
                        if s.get(key) is not None), None)
        return None if rec is None else rec[key]

    def _harvest_filestats(self, out: str, parts: dict,
                           files_by_key: dict[str, list[str]],
                           cols: list[str],
                           bloom_cols: list[str] | None = None) -> dict:
        """Fold parquet FOOTER statistics (and, when the bloom property
        is on, per-file bloom filters over the named columns' values)
        for every file this commit wrote into the snapshot's file
        manifest. Footers are KB-sized and were just written, so the
        cost is bounded by THIS commit's file count, never table size;
        past _DIST_HARVEST_MIN_FILES the reads run as one Spark job
        over the path list (a large drop's 10^4-10^5 files must not
        serialize through the driver)."""
        bloom_cols = bloom_cols or []
        tasks: list[tuple[str, str, str]] = []   # (key, fname, abspath)
        for k, files in files_by_key.items():
            base = out if k == "__table__" else os.path.join(
                self.root, "data", parts[k])
            tasks.extend((k, f, os.path.join(base, f)) for f in files)
        paths = [p for _, _, p in tasks]
        if ((cols or bloom_cols)
                and len(paths) >= _DIST_HARVEST_MIN_FILES):
            sc = self.spark.sparkContext
            res = (sc.parallelize(paths,
                                  min(len(paths), sc.defaultParallelism))
                   .map(lambda p: (p, _stats_and_bloom(p, cols,
                                                       bloom_cols)))
                   .collectAsMap())
        elif cols or bloom_cols:
            res = {p: _stats_and_bloom(p, cols, bloom_cols)
                   for p in paths}
        else:
            import pyarrow.parquet as pq
            res = {p: {"rows": pq.read_metadata(p).num_rows, "cols": {}}
                   for p in paths}
        files: dict[str, list[dict]] = {k: [] for k in files_by_key}
        for k, f, p in tasks:
            files[k].append({"f": f, **res[p]})
        return {"stats_cols": cols, "files": files}

    # ---- merge-on-read row deletes (Iceberg v2 delete-file analog) ----
    #
    # A copy-on-write takedown of ONE url rewrites every partition that
    # holds a match — at 100 TB that is massive write amplification for
    # a right-to-be-forgotten request that touches a handful of rows.
    # mode="merge_on_read" instead appends a METADATA-ONLY manifest
    # entry (operation="row_delete") carrying the structured predicate:
    # the commit is O(1) (no data file read or written), reads apply
    # ``NOT(predicate IS TRUE)`` to exactly the data that PREDATES the
    # delete (src_id scoping — rows (re)written later are never
    # filtered), and a later apply_deletes()/rewrite_files()/merge
    # physically bakes it in (any rewrite reads through read(), which
    # applies pending deletes, and the rewritten partition's new src id
    # moves past the delete). Physical purge is then the normal
    # expire_snapshots GC. This is the Iceberg v2 equality-delete-file
    # design with the equality values held inline in the manifest —
    # our deletes are operator predicates (takedowns, host purges), so
    # the "delete file" is a handful of (col, op, value) triples, not
    # a parquet file of keys.

    def _deletes_upto(self, snapshot_id: int | None,
                      snaps: list[dict] | None = None) -> list[dict]:
        """All row-delete records visible at ``snapshot_id`` (default
        latest): top-level row_delete entries plus records carried in
        expiry-compacted base entries (``row_deletes``), deduped by
        delete id. Driver-side over the manifest.
        ``snaps``: the manifest to fold (default: load it)."""
        if snaps is None:
            snaps = self.snapshots()
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["id"] <= snapshot_id]
        dels = self._fold_deletes(snaps, pin=snapshot_id)
        return [dels[i] for i in sorted(dels)]

    @classmethod
    def _fold_deletes(cls, snaps: list[dict],
                      pin: int | None = None) -> dict[int, dict]:
        """Fold the manifest prefix to its VISIBLE delete-record set.
        A rollback entry restores the delete state OF ITS TARGET —
        computed recursively from the prefix at the target, so a
        roll-forward (rollback to a snapshot that postdates an earlier
        rollback) re-surfaces the records that snapshot was filtering
        (a takedown must never silently resurrect rows). An
        expiry-compacted entry with ``deletes_set`` is authoritative:
        its carried ``row_deletes`` ARE the visible set at that id
        (compaction may have truncated the rollback entry whose
        filtering produced it).

        A STAGED entry is scoped to ITS OWN pin: the published fold
        skips it entirely — a compacted staged entry's carry is the
        set visible at the staged id, and applying it to the live
        lineage would re-add records a later surviving rollback had
        cancelled. ``pin`` enables it for exactly the pinned staged
        entry."""
        dels: dict[int, dict] = {}
        for s in snaps:
            if s.get("staged") and s["id"] != pin:
                continue
            if s.get("deletes_set"):
                dels = {d["id"]: d for d in s.get("row_deletes", [])}
                continue
            if s.get("operation") == "row_delete":
                dels[s["id"]] = {"id": s["id"],
                                 "predicate": s["predicate"],
                                 "affected": s.get("affected")}
            elif s.get("operation") == "rollback":
                dels = cls._fold_deletes(
                    [e for e in snaps if e["id"] <= s["target"]],
                    pin=s["target"])
            for d in s.get("row_deletes", []):
                dels.setdefault(d["id"], d)
        return dels

    @staticmethod
    def _delete_applies(d: dict, k: str, src: int) -> bool:
        """Does row-delete record ``d`` apply to partition ``k`` whose
        data was established by commit ``src``? Two conditions: the
        data must PREDATE the delete (src scoping), and the partition
        must be in the delete's recorded ``affected`` set — the
        stats/bloom-bounded superset of partitions that could hold a
        match at delete time (partitions outside it were PROVEN
        matchless, so skipping their filter — and their
        apply-rewrite — is exact, the property that keeps a one-url
        takedown from rewriting the corpus). A record without an
        affected set conservatively applies everywhere predating."""
        if d["id"] <= src:
            return False
        aff = d.get("affected")
        return aff is None or k in aff

    @staticmethod
    def _delete_filter(deletes: list[dict]):
        """One Column keeping exactly the rows NO applicable delete
        matches (SQL DELETE null semantics per delete: a row where a
        predicate evaluates NULL is kept by that predicate)."""
        from functools import reduce

        from pyspark.sql import functions as F

        conds = [~_where_to_column(d["predicate"])
                 .eqNullSafe(F.lit(True)) for d in deletes]
        return reduce(lambda a, b: a & b, conds)

    def _scan_with_deletes(self, live_src: dict, deletes: list[dict],
                           files_by_rel: dict[str, list[str]]
                           | None = None) -> DataFrame:
        """Scan the live view applying each pending row delete to
        exactly the partitions whose src id predates it. Partitions
        sharing an applicable-delete set share ONE scan (set count is
        bounded by the number of PENDING deletes — a handful between
        maintenance runs — never by partition count), so at 100 TB
        this is the plain read plus a cheap union and per-group
        filters. ``files_by_rel`` optionally restricts each partition
        dir to specific files (the read(where=...) skipped plan)."""
        from functools import reduce

        data = os.path.join(self.root, "data")
        groups: dict[tuple, list[str]] = {}
        for k, (rel, src) in live_src.items():
            if files_by_rel is not None:
                paths = files_by_rel.get(rel)
                if not paths:
                    continue
            else:
                paths = [os.path.join(data, rel)]
            key = tuple(d["id"] for d in deletes
                        if self._delete_applies(d, k, src))
            groups.setdefault(key, []).extend(paths)
        parts = []
        for key in sorted(groups):
            df = (self.spark.read.option("mergeSchema", "true")
                  .parquet(*sorted(groups[key])))
            applicable = [d for d in deletes if d["id"] in key]
            if applicable:
                df = df.where(self._delete_filter(applicable))
            parts.append(df)
        if not parts:
            raise ValueError(
                f"VersionedTable at {self.root}: empty scan plan")
        # groups may span evolved plain-table schemas: unionByName with
        # missing-column fill mirrors what one mergeSchema scan shows
        return reduce(lambda a, b: a.unionByName(
            b, allowMissingColumns=True), parts)

    def _row_key_expr(self, df: DataFrame, pcol: str):
        """Each row's partition KEY (the table's hidden-partitioning
        transform applied; identity when none) — the spelling manifest
        keys use. Internal probes that map data rows back to their
        partitions (delete_where, merge_into, apply_deletes) must go
        through this, never the raw source column: on a transformed
        layout the source VALUES are not the keys."""
        from pyspark.sql import functions as F
        snaps = self.snapshots()
        tf = _spec_at(snaps)[1] if snaps else None
        ptype = {f.name: f.dataType.simpleString()
                 for f in df.schema.fields}[pcol]
        return _transform_expr(tf, F.col(pcol), ptype)

    def apply_deletes(self, note: str = "") -> tuple[int | None, dict]:
        """Physically apply every pending merge-on-read row delete
        (Iceberg's ``rewrite_position_delete_files`` analog): rewrite
        the partitions a recorded delete still APPLIES to — data
        predating the delete AND inside its stats/bloom-bounded
        ``affected`` set, so a one-url takedown rewrites the handful
        of partitions that could hold the url, never the corpus —
        reading through the delete-applying read path, as ONE
        layout-only snapshot — the LOGICAL view is unchanged (reads
        already filtered those rows), so incremental consumers see no
        data change, but the rewritten partitions' src ids move past
        every delete and the predicates stop running at read time. A
        partition whose every row is deleted becomes a manifest
        tombstone in the same commit. After this, ``expire_snapshots``
        truncation drops the inert row_delete entries and GCs the
        pre-delete files — the physical end of the takedown.

        Returns ``(snapshot_id, stats)``; ``snapshot_id`` is None when
        no delete is pending (idempotent re-runs)."""
        snaps = self.snapshots()
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        pcol = _spec_at(snaps)[0]
        live_src, _ = self._resolve(None, None, with_src=True, snaps=snaps)
        deletes = self._deletes_upto(None, snaps)
        pending = sorted(k for k, (_rel, src) in live_src.items()
                         if any(self._delete_applies(d, k, src)
                                for d in deletes))
        stats = {"partitions_rewritten": 0, "partitions_dropped": 0,
                 "deletes_pending": len(deletes)}
        if not pending:
            return None, stats
        if pcol is None:
            sid = self.commit(self.read(), None,
                              note=note or "apply_deletes",
                              operation="rewrite")
            stats["partitions_rewritten"] = 1
            return sid, stats
        sub = self.read(partitions=pending).persist()
        try:
            from urllib.parse import unquote
            present = {_norm_pv(r[0]) for r in
                       sub.select(self._row_key_expr(sub, pcol)
                                  .alias("_k")).distinct().collect()}
            # partition values present in the filtered data are
            # rewritten; pending partitions with NO surviving rows are
            # tombstoned in the same commit (their logical view was
            # already empty — rows unchanged, so the rewrite tag keeps
            # changed_partitions silent about both). Compare through
            # the same casting/escaping rule reads use.
            dropped = [k for k in pending
                       if k not in present
                       and unquote(k) not in present]
            sid = self.commit(sub, pcol, note=note or "apply_deletes",
                              drop_partitions=dropped,
                              operation="rewrite")
        finally:
            sub.unpersist()
        stats["partitions_rewritten"] = len(pending) - len(dropped)
        stats["partitions_dropped"] = len(dropped)
        return sid, stats

    def delete_where(self, condition, note: str = "",
                     mode: str = "copy_on_write") -> tuple[int | None,
                                                           dict]:
        """Row-level DELETE (Iceberg ``DELETE FROM … WHERE``).

        ``mode="copy_on_write"`` (default): commit a new snapshot from
        which rows matching ``condition`` (a Column or SQL string) are
        gone, rewriting ONLY the partitions that contain matches —
        untouched partitions carry over by manifest reference (their
        files are not read or rewritten), a partition whose every row
        matches becomes a tombstone, and every EARLIER snapshot still
        reads the deleted rows (time travel is the contract).

        ``mode="merge_on_read"``: a METADATA-ONLY delete (Iceberg v2
        delete-file analog) — ``condition`` must be the structured
        ``[(col, op, value), ...]`` spelling, which is stored in the
        manifest and applied at read time to exactly the data that
        predates the delete. The commit reads and writes NO data files
        (one driver-side manifest/stats pass bounds the candidate
        partitions), so a takedown costs O(1) instead of rewriting
        every partition holding a match — at 100 TB the difference
        between milliseconds and rewriting terabytes. Reads pay the
        predicate as a residual filter until :meth:`apply_deletes` (or
        any rewrite of the affected partitions) bakes it in; physical
        purge is then ``expire_snapshots`` as usual. Time travel is
        identical to copy-on-write: pins before the delete id read the
        rows, pins at or after it don't.

        Physical removal in both modes is a
        separate, explicit step: ``expire_snapshots`` GCs the old files
        once no surviving snapshot references them — a takedown pipeline
        is ``delete_where(cond)`` then ``expire_snapshots(keep_last=1)``.

        SQL DELETE null semantics: a row where the condition evaluates
        NULL is KEPT (only condition-is-TRUE rows are deleted).

        ``condition`` may also be a STRUCTURED predicate list —
        ``[(col, op, value), ...]`` as in :meth:`read` — and then the
        affected-partition probe runs through ``read(where=...)``: on a
        table with file statistics the probe opens only the files whose
        bounds might match, so a takedown
        (``delete_where([("url", "==", u)])``) costs a bounded file
        subset instead of a corpus scan. The rewrite itself still reads
        the full affected partitions (it must — it rewrites them
        keeping the non-matching rows).

        The affected-partition probe collects one row per matching
        partition VALUE — bounded by the partition count, never by rows
        (partition keys here are coarse operator-chosen values such as
        drop ids). Like commit, this is a read-modify-write for ONE
        logical writer; the manifest lock prevents lost manifest
        appends, not write-write conflicts on the same partition.

        Returns ``(snapshot_id, stats)``; ``snapshot_id`` is None when
        nothing matched — no empty snapshot is committed, so re-running
        the same takedown is a no-op (merge-on-read: when the file
        statistics PROVE no row can match)."""
        from pyspark.sql import functions as F

        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"mode must be 'copy_on_write' or 'merge_on_read', "
                f"got {mode!r}")
        if mode == "merge_on_read":
            return self._delete_mor(condition, note)
        probe_where: list[tuple] | None = None
        if isinstance(condition, list):
            probe_where = _validate_where(condition)
            cond = _where_to_column(probe_where)
        elif isinstance(condition, str):
            cond = F.expr(condition)
        else:
            cond = condition
        snaps = self.snapshots()
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        pcol = _spec_at(snaps)[0]
        keep = ~cond.eqNullSafe(F.lit(True))   # NULL-condition rows stay
        stats = {"rows_deleted": 0, "partitions_rewritten": 0,
                 "partitions_dropped": 0}

        if pcol is None:
            cur = self.read().persist()
            try:
                total = cur.count()
                remaining = cur.where(keep).persist()
                kept_n = remaining.count()
                if kept_n == total:
                    return None, stats
                sid = self.commit(remaining, None,
                                  note=note or "delete_where",
                                  operation="delete")
            finally:
                cur.unpersist()
            remaining.unpersist()
            stats["rows_deleted"] = total - kept_n
            stats["partitions_rewritten"] = 1
            return sid, stats

        # structured condition: the probe scan is file-skipped (the
        # residual filter inside read(where=...) IS the condition)
        probe = (self.read(where=probe_where) if probe_where
                 else self.read().where(cond))
        affected = sorted(
            (_norm_pv(r[0]) for r in
             probe.select(self._row_key_expr(probe, pcol).alias("_k"))
             .distinct().collect()))
        if not affected:
            return None, stats
        sub = self.read(partitions=affected).persist()
        try:
            total = sub.count()
            remaining = sub.where(keep).persist()
            kept_n = remaining.count()
            kept_parts = {_norm_pv(r[0]) for r in
                          remaining.select(
                              self._row_key_expr(remaining, pcol)
                              .alias("_k")).distinct().collect()}
            dropped = [v for v in affected if v not in kept_parts]
            sid = self.commit(remaining, pcol,
                              note=note or "delete_where",
                              drop_partitions=dropped,
                              operation="delete")
            remaining.unpersist()
        finally:
            sub.unpersist()
        stats["rows_deleted"] = total - kept_n
        stats["partitions_rewritten"] = len(affected) - len(dropped)
        stats["partitions_dropped"] = len(dropped)
        return sid, stats

    def _delete_mor(self, condition, note: str) -> tuple[int | None,
                                                         dict]:
        """The merge-on-read branch of :meth:`delete_where`: validate
        the predicate against the live schema (a bad column must fail
        HERE, not poison every later read), bound the affected
        partitions driver-side through the file-statistics plan, and
        append one metadata-only manifest entry. The only Spark work
        is the live read's schema inference for that validation."""
        if not isinstance(condition, list):
            raise ValueError(
                "merge_on_read deletes take the structured "
                "[(col, op, value), ...] predicate spelling — the "
                "predicate is stored in the manifest and applied at "
                "read time (a Column cannot be serialized)")
        where = _validate_where(condition)
        try:
            json.dumps([list(w) for w in where])
        except TypeError as e:
            raise ValueError(
                f"merge_on_read predicate values must be "
                f"JSON-storable (str/int/float/bool or lists of "
                f"them): {where!r}") from e
        _, doc = self._load()
        if not doc["snapshots"]:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        avail = set(self._read(doc).columns)
        missing = [c for c, _op, _v in where if c not in avail]
        if missing:
            raise ValueError(
                f"merge_on_read delete references unknown columns "
                f"{missing} (live: {sorted(avail)})")
        stats: dict = {"rows_deleted": None, "mode": "merge_on_read",
                       "partitions_affected": 0, "files_candidates": 0}
        # driver-side candidate probe: when bounds/blooms PROVE no row
        # can match, commit nothing (idempotent re-runs); otherwise the
        # surviving files' partitions become the recorded affected set
        # — the conservative superset changed_partitions reports as
        # rewritten, so incremental consumers learn a delete touched
        # their range
        plan = self.plan_files(where=where)
        if not plan["files"]:
            return None, stats
        live, _ = self._resolve(None, None, snaps=doc["snapshots"])
        data = os.path.join(self.root, "data")
        rel_to_k = {rel: k for k, rel in live.items()}
        affected = set()
        for p in plan["files"]:
            rel = os.path.dirname(os.path.relpath(p, data))
            k = rel_to_k.get(rel)
            if k is not None:
                affected.add(k)
        def _append(doc: dict) -> int:
            snaps = doc["snapshots"]
            sid = snaps[-1]["id"] + 1
            entry = {"id": sid, "ts": time.time(),
                     "note": note or "delete_where (merge_on_read)",
                     "operation": "row_delete",
                     "partition_col": _spec_at(snaps)[0],
                     "replace_all": False, "parts": {},
                     "predicate": [list(w) for w in where],
                     "affected": sorted(affected)}
            snaps.append(entry)
            return sid
        sid = self._cas(_append)
        stats["partitions_affected"] = len(affected)
        stats["files_candidates"] = len(plan["files"])
        return sid, stats

    def changed_partitions(self, from_snapshot: int,
                           to_snapshot: int | None = None) -> dict:
        """Partition-grain diff between two snapshots: which partition
        values were appended / rewritten / dropped in the range
        ``(from_snapshot, to_snapshot]`` (``from_snapshot`` EXCLUSIVE,
        0 = before the first commit; ``to_snapshot`` default latest).

        Driver-side over the manifest — no data files are listed or
        read, so the cost is independent of table size (the property
        that makes a per-drop incremental consumer free at 100 TB).
        Keys are returned in the on-disk partition-dir spelling, which
        ``read(partitions=...)`` accepts verbatim."""
        snaps = self.snapshots()
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        last = snaps[-1]["id"]
        to = last if to_snapshot is None else to_snapshot
        if not 0 <= from_snapshot <= to <= last:
            raise ValueError(
                f"invalid snapshot range ({from_snapshot}, {to}] "
                f"(latest is {last})")
        if to == 0:   # the empty range before any commit
            return {"appended": [], "rewritten": [], "dropped": [],
                    "evolved": []}
        if _spec_at(snaps, to)[0] is None:
            raise ValueError(
                "changed_partitions requires a partitioned table "
                f"({self.root} is unpartitioned at snapshot {to}: every "
                "commit replaces the whole table, so there is no append "
                "grain)")
        # diff the LOGICAL views (layout-only rewrite_files commits not
        # applied): a compaction changes partition dirs without touching
        # rows, and must not read as a data rewrite to consumers
        l0 = ({} if from_snapshot == 0
              else self._resolve(from_snapshot, None,
                                 skip_rewrites=True,
                                 apply_staged=False)[0])
        l1, _ = self._resolve(to, None, skip_rewrites=True,
                              apply_staged=False)
        appended = {k for k in l1 if k not in l0}
        rewritten = {k for k in l1 if k in l0 and l1[k] != l0[k]}
        # a merge-on-read delete in range changed rows WITHOUT moving
        # any partition dir: its recorded affected set (the
        # stats-bounded conservative superset from delete time) counts
        # as rewritten, so read_incremental's non-append contract
        # still raises — silently skipping a takedown would hide that
        # consumed rows disappeared underneath the consumer
        for s in snaps:
            if (s.get("operation") == "row_delete"
                    and from_snapshot < s["id"] <= to):
                rewritten.update(k for k in s.get("affected", [])
                                 if k in l1 and k not in appended)
            elif (s.get("operation") == "rollback"
                    and from_snapshot < s["id"] <= to):
                # a rollback can change ROWS without moving any
                # partition dir, by cancelling (or re-surfacing) MOR
                # delete records: diff the visible-delete sets across
                # the entry and count the changed records' affected
                # partitions as rewritten (None = unbounded record →
                # everything), so incremental consumers never miss a
                # takedown undone underneath them
                pre = self._fold_deletes(
                    [e for e in snaps if e["id"] < s["id"]])
                post = self._fold_deletes(
                    [e for e in snaps if e["id"] <= s["id"]])
                for did in set(pre) ^ set(post):
                    aff = (pre.get(did) or post[did]).get("affected")
                    rewritten.update(
                        k for k in (l1 if aff is None else aff)
                        if k in l1 and k not in appended)
        # a partition-spec evolution in range replaced the whole key
        # space (rows preserved): the old keys read as dropped, the new
        # ones as appended — surfaced separately so consumers can tell
        # a layout evolution from a data replacement
        evolved = [s["id"] for s in snaps
                   if s.get("operation") == "evolve"
                   and from_snapshot < s["id"] <= to]
        return {
            "appended": sorted(appended),
            "rewritten": sorted(rewritten),
            "dropped": sorted(k for k in l0 if k not in l1),
            "evolved": evolved,
        }

    def read_incremental(self, from_snapshot: int,
                         to_snapshot: int | None = None,
                         on_nonappend: str = "raise",
                         where: list[tuple] | None = None) -> DataFrame:
        """Incremental APPEND scan (Iceberg's ``start-snapshot-id`` /
        ``end-snapshot-id`` incremental read): the rows of partitions
        that first appeared after ``from_snapshot``, as of
        ``to_snapshot`` (default latest). This is the downstream
        consumer's contract — a tokenization/packing job that processed
        the corpus at snapshot k asks for exactly the drops ingested
        since, never rescanning the corpus.

        Like Iceberg's append scan, a range containing NON-append
        changes (a rewritten or dropped partition — a recrawl
        overwrite, a takedown) raises by default: silently returning
        only the appends would hide that previously-consumed rows
        changed underneath. ``on_nonappend="skip"`` opts into exactly
        that (returns appended partitions only) for consumers that
        reconcile rewrites elsewhere. A partition appended and then
        rewritten INSIDE the range counts as appended and reads its
        content as of ``to_snapshot``.

        ``where`` (see :meth:`plan_files`) composes file-level
        skipping with the incremental scan: "the drops since k, only
        the docs matching the predicate" — partition pruning and file
        bounds both apply before the scan."""
        from pyspark.sql import functions as F

        if on_nonappend not in ("raise", "skip"):
            raise ValueError(
                f"on_nonappend must be 'raise' or 'skip', "
                f"got {on_nonappend!r}")
        ch = self.changed_partitions(from_snapshot, to_snapshot)
        if on_nonappend == "raise" and (ch["rewritten"] or ch["dropped"]):
            hint = ""
            if ch.get("evolved"):
                hint = (f" A partition-spec evolution at snapshot(s) "
                        f"{ch['evolved']} replaced the whole layout "
                        "with rows preserved — reconcile via "
                        "read_changes on the sub-ranges around it, or "
                        "full-resync from read().")
            raise ValueError(
                f"non-append changes in snapshot range "
                f"({from_snapshot}, {to_snapshot or 'latest'}]: "
                f"rewritten={ch['rewritten']}, dropped={ch['dropped']} "
                f"— pass on_nonappend='skip' to read appended "
                f"partitions only.{hint}")
        if not ch["appended"]:
            # to_snapshot=0 (the pre-commit empty range) has no view of
            # its own — borrow the latest schema for the typed empty
            return (self.read(snapshot_id=to_snapshot or None)
                    .where(F.lit(False)))
        return self.read(snapshot_id=to_snapshot,
                         partitions=ch["appended"], where=where)

    def read_changes(self, from_snapshot: int,
                     to_snapshot: int | None = None,
                     change_col: str = "_change_type") -> DataFrame:
        """CDC changelog scan (Iceberg's ``create_changelog_view`` /
        Delta CDF analog): the NET row-level changes between the table
        at ``from_snapshot`` and at ``to_snapshot`` (default latest),
        as the table's columns plus ``change_col`` ∈ {"insert",
        "delete"} — an update is a delete+insert pair, per the Iceberg
        changelog convention. This is the downstream consumer's answer
        when :meth:`read_incremental` raises: under a ``merge_latest``
        recrawl or a takedown, "what changed since snapshot k" is not
        append-only, and CDC returns exactly the retractions and
        additions needed to reconcile.

        Cost model (the 100 TB property): the partition-grain lineage
        diff (:meth:`changed_partitions`, driver-side manifest only)
        bounds ALL data work to the changed partitions — partitions
        APPENDED in range are emitted as inserts from one pruned scan
        (no join, no shuffle beyond the read), DROPPED partitions as
        deletes from one pruned scan at the ``from`` pin, and only
        partitions REWRITTEN in range (a recrawl replace, a takedown's
        stats/bloom-bounded affected set) pay a row-level multiset
        diff: two pruned scans + ``exceptAll`` each way (one hash
        shuffle over those partitions' rows, never the corpus). A
        range containing only layout commits (compaction,
        ``apply_deletes``) returns zero changes without reading any
        data. Merge-on-read deletes pending at either endpoint are
        applied by the endpoint reads themselves, so a metadata-only
        takedown surfaces here as delete rows.

        Both endpoints resolve on the PUBLISHED lineage: a staged
        (write-audit-publish) snapshot id is rejected — audit it at
        its own pin; publish it to diff it. A range whose commits
        changed the column set (an additive mergeSchema commit) is
        rejected — rewrite the table with ``commit(...,
        replace_all=True)`` to diff across it. ``exceptAll`` cannot
        compare map-typed columns — only raised when a row diff is
        actually needed (ranges with no rewritten partitions still
        work)."""
        from pyspark.sql import functions as F

        snaps = self.snapshots()
        by_id = {s["id"]: s for s in snaps}
        for label, sid in (("from_snapshot", from_snapshot),
                           ("to_snapshot", to_snapshot)):
            if sid and by_id.get(sid, {}).get("staged"):
                raise ValueError(
                    f"read_changes {label}={sid} is a staged "
                    f"(write-audit-publish) snapshot — not on the "
                    f"published lineage. Audit it via "
                    f"read(snapshot_id={sid}); publish it to diff it.")
        if change_col in set(self.read(snapshot_id=to_snapshot or None)
                             .columns):
            raise ValueError(
                f"change_col {change_col!r} collides with a table "
                f"column — pass a different change_col")

        def _tag(df: DataFrame, kind: str) -> DataFrame:
            return df.withColumn(change_col, F.lit(kind))

        # a partition-spec evolution in range replaced the whole key
        # space: the partition-grain diff below would emit the entire
        # corpus as drop+append pairs even though the evolve preserves
        # rows by construction. A range whose only entries are layout
        # ops (compaction, apply_deletes) and evolves is therefore ZERO
        # net changes — returned without reading any data; a MIXED
        # range raises with the split points (each sub-range diffs
        # within one spec; applying the sub-diffs in order reconciles
        # exactly, because the evolve boundaries preserve the multiset)
        last_id = snaps[-1]["id"] if snaps else 0
        to_eff = last_id if to_snapshot is None else to_snapshot
        evolved = [s["id"] for s in snaps
                   if s.get("operation") == "evolve"
                   and from_snapshot < s["id"] <= to_eff]
        if evolved:
            data_ops = [s["id"] for s in snaps
                        if from_snapshot < s["id"] <= to_eff
                        and not s.get("staged")
                        and s.get("operation", "write")
                        not in ("rewrite", "evolve")]
            if not data_ops:
                return _tag(self.read(snapshot_id=to_snapshot or None)
                            .where(F.lit(False)), "insert")
            cuts = sorted({from_snapshot, to_eff}
                          | {e - 1 for e in evolved} | set(evolved))
            ranges = [(a, b) for a, b in zip(cuts, cuts[1:]) if a < b]
            raise ValueError(
                f"read_changes range ({from_snapshot}, {to_eff}] "
                f"crosses partition-spec evolution(s) at {evolved} "
                f"with data changes at {data_ops} in the same range — "
                f"diff the sub-ranges {ranges} in order instead (each "
                "stays within one spec; the evolve boundaries "
                "themselves are zero-change)")
        if from_snapshot > 0 and _spec_at(snaps, from_snapshot) != \
                _spec_at(snaps, to_eff):
            # the endpoints live under DIFFERENT partition specs with
            # no evolve entry in range: a spec-crossing rollback_to.
            # The partition-grain bounding below would compare views
            # whose key strings collide across specs (identity "1" vs
            # bucket "1") and emit spurious non-cancelled
            # delete+insert pairs — fall back to the full-view
            # multiset diff, the honest cost of comparing across
            # layouts (exactly the rollback-undo consumers want).
            new = self.read(snapshot_id=to_snapshot)
            old = self._diff_aligned(
                self.read(snapshot_id=from_snapshot), new,
                row_diff=True)
            return _tag(new.exceptAll(old), "insert").unionByName(
                _tag(old.exceptAll(new), "delete"))

        pcol = _spec_at(snaps, to_snapshot)[0] if snaps else None
        if pcol is None:
            # unpartitioned: every commit replaces the whole table, so
            # the diff has no partition grain to exploit
            new = self.read(snapshot_id=to_snapshot)
            old = (new.where(F.lit(False)) if from_snapshot == 0
                   else self.read(snapshot_id=from_snapshot))
            old = self._diff_aligned(old, new, row_diff=True)
            return _tag(new.exceptAll(old), "insert").unionByName(
                _tag(old.exceptAll(new), "delete"))

        ch = self.changed_partitions(from_snapshot, to_snapshot)
        base = (self.read(snapshot_id=to_snapshot or None)
                .where(F.lit(False)))
        out = _tag(base, "insert")
        if ch["appended"]:
            out = out.unionByName(_tag(
                self.read(snapshot_id=to_snapshot,
                          partitions=ch["appended"]), "insert"))
        if ch["dropped"]:
            out = out.unionByName(_tag(self._diff_aligned(
                self.read(snapshot_id=from_snapshot,
                          partitions=ch["dropped"]), base), "delete"))
        if ch["rewritten"]:
            new = self.read(snapshot_id=to_snapshot,
                            partitions=ch["rewritten"])
            old = self._diff_aligned(
                self.read(snapshot_id=from_snapshot,
                          partitions=ch["rewritten"]), new,
                row_diff=True)
            out = (out.unionByName(_tag(new.exceptAll(old), "insert"))
                      .unionByName(_tag(old.exceptAll(new), "delete")))
        return out

    def _diff_aligned(self, old: DataFrame, new: DataFrame,
                      row_diff: bool = False) -> DataFrame:
        """Align ``old`` to ``new``'s column ORDER for the set-diff
        operators; a different column SET (additive mergeSchema drift
        between the pins) raises. ``row_diff=True`` additionally
        rejects map-typed columns, which ``exceptAll`` cannot compare
        — checked only where a row diff is actually about to run."""
        from pyspark.sql.types import MapType
        if set(old.columns) != set(new.columns):
            raise ValueError(
                f"read_changes across a column-set change "
                f"({sorted(old.columns)} vs {sorted(new.columns)}): "
                f"the two pins do not share one schema to diff — "
                f"rewrite the table with commit(..., replace_all=True) "
                f"and diff from that snapshot")
        if row_diff and any(isinstance(f.dataType, MapType)
                            for f in new.schema.fields):
            raise ValueError(
                "read_changes needs a row-level diff over rewritten "
                "partitions, and Spark's exceptAll cannot compare "
                "map-typed columns — cast maps to sorted arrays first")
        return old.select(*new.columns)

    def merge_into(self, source: DataFrame, key_cols: list[str],
                   note: str = "",
                   probe_partitions: list | None = None
                   ) -> tuple[int | None, dict]:
        """Keyed UPSERT (Iceberg ``MERGE INTO … WHEN MATCHED THEN
        UPDATE WHEN NOT MATCHED THEN INSERT``, replace semantics): rows
        of ``source`` replace table rows sharing their ``key_cols``;
        unmatched source rows are appended. The recrawl primitive — a
        re-captured url lands in the new drop's partition and the stale
        capture leaves the old one.

        Partition-grain copy-on-write, same shape as delete_where: only
        partitions that contain matched keys or receive source rows are
        rewritten; everything else carries over by manifest reference;
        a matched partition left empty becomes a tombstone; earlier
        snapshots still read the pre-merge rows (time travel).

        MERGE cardinality: duplicate keys WITHIN source are ambiguous
        ("which row wins?") and raise, mirroring Iceberg's cardinality
        check. The match probe is a key semi-join against the live
        view — keys only (no payload) cross the shuffle, and Spark/AQE
        picks a broadcast when the source is small (no hard hint: a
        giant recrawl must degrade to a shuffle join, not OOM the
        driver); with a single key column the probe is additionally
        bounded by the source's key range, so file statistics on the
        key skip the corpus files that cannot hold a match. Single
        logical writer, like commit.

        ``probe_partitions`` bounds the match probe to the named live
        partitions instead of a (stats-pruned) corpus scan — the
        side-index fast path (e.g. the ingest job's url-bucket ->
        partition sidecar). CONTRACT: the list must be a SUPERSET of
        every live partition holding a matched key; a missed partition
        would leave its old row alongside the merged one (the caller's
        index maintenance discipline is the correctness argument, and
        a conservative/stale index is always safe). Partitions not
        currently live are ignored.

        Actions (partitioned table): ONE aggregate over the persisted
        source (count, distinct keys, key range, partition keys; the
        duplicate-key groupBy runs only to name one in the error), ONE
        grouped semi-join over the probe (matched partitions and the
        rows each loses), one collect of the merged rows' partitions
        (for tombstones) and the commit's write.

        Returns ``(snapshot_id, stats)``; ``snapshot_id`` is None when
        ``source`` is empty."""
        from pyspark.sql import functions as F

        snaps = self.snapshots()
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots; "
                "use commit() for the first write")
        pcol = _spec_at(snaps)[0]
        if pcol is not None and pcol not in source.columns:
            raise ValueError(
                f"source must carry the partition column {pcol!r}")
        stats = {"rows_replaced": 0, "rows_written": 0,
                 "partitions_rewritten": 0, "partitions_dropped": 0}
        src = source.persist()
        try:
            # struct-wrapped: NULL keys count as one key (as in a
            # groupBy) and NULL partition values survive collect_set
            aggs = [F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.struct(*key_cols)).alias("n_keys")]
            range_probe = probe_partitions is None and len(key_cols) == 1
            if range_probe:
                aggs += [F.min(key_cols[0]).alias("lo"),
                         F.max(key_cols[0]).alias("hi")]
            if pcol is not None:
                aggs.append(F.collect_set(F.struct(
                    self._row_key_expr(src, pcol).alias("_k")))
                    .alias("parts"))
            agg = src.agg(*aggs).collect()[0]
            src_n = agg["n"]
            if src_n == 0:
                return None, stats
            if agg["n_keys"] != src_n:
                dup = (src.groupBy(*key_cols).count()
                       .where(F.col("count") > 1).limit(1).collect())
                raise ValueError(
                    f"merge_into source has duplicate keys on "
                    f"{key_cols} (e.g. {tuple(dup[0])[:-1]}): dedup the "
                    "source first (one winner per key)")
            keys = src.select(*key_cols)  # unique: checked above
            if pcol is None:
                cur = self.read()
                stats.update(rows_replaced=cur.join(keys, key_cols,
                                                    "semi").count(),
                             rows_written=src_n, partitions_rewritten=1)
                merged = cur.join(keys, key_cols, "left_anti")
                return self.commit(merged.unionByName(src), None,
                                   note=note or "merge_into",
                                   operation="merge"), stats
            from urllib.parse import unquote
            # single-key merge: bound the match probe by the source's
            # key range — on a table with file statistics on the key
            # column, files whose bounds lie outside [min(src key),
            # max(src key)] are skipped driver-side (a recrawl touching
            # a narrow url range never opens the rest of the corpus);
            # rows outside the range cannot semi-match by construction,
            # so the probe result is identical. Multi-key or
            # non-orderable keys fall back to the full column-pruned
            # scan, and a stats-less table prunes nothing (read(where)
            # keeps every file) — never a semantics change.
            import datetime
            probe_src = None
            probe_empty = False
            if probe_partitions is not None:
                live0 = self._resolve(None, None)[0]
                want = sorted(
                    {k for k in live0
                     for v in probe_partitions
                     if k == _norm_pv(v) or unquote(k) == _norm_pv(v)},
                    key=_norm_pv)
                if want:
                    probe_src = self.read(partitions=want)
                else:
                    probe_empty = True  # index names nothing live
            if range_probe:
                ok_types = (int, float, str, bool,
                            datetime.date, datetime.datetime)
                bounds = (agg["lo"], agg["hi"])
                if all(isinstance(b, ok_types) for b in bounds):
                    probe_src = self.read(
                        where=[(key_cols[0], "between", bounds)])
            if probe_src is None and not probe_empty:
                probe_src = self.read()
            # matched partition -> rows it loses (all in read_parts)
            matched = {} if probe_empty else {
                r[0]: r[1] for r in probe_src.join(keys, key_cols, "semi")
                .groupBy(self._row_key_expr(probe_src, pcol).alias("_k"))
                .count().collect()}
            matched_parts = sorted(matched, key=_norm_pv)
            src_parts = sorted((r[0] for r in agg["parts"]), key=_norm_pv)
            live = self._resolve(None, None)[0]
            live_norm = set(live) | {unquote(k) for k in live}
            # partitions to rewrite: every one holding a matched key,
            # plus every ALREADY-LIVE one receiving source rows (a
            # brand-new source partition needs no read of old data)
            read_parts = sorted(
                set(matched_parts)
                | {v for v in src_parts if _norm_pv(v) in live_norm},
                key=_norm_pv)
            if read_parts:
                survivors = (self.read(partitions=read_parts)
                             .join(keys, key_cols, "left_anti"))
            else:
                survivors = src.limit(0)
            merged = survivors.unionByName(src)
            present = {_norm_pv(r[0]) for r in
                       merged.select(self._row_key_expr(merged, pcol)
                                     .alias("_k")).distinct().collect()}
            dropped = [v for v in read_parts
                       if _norm_pv(v) not in present]
            sid = self.commit(merged, pcol, note=note or "merge_into",
                              drop_partitions=dropped,
                              operation="merge")
            stats.update(rows_replaced=sum(matched.values()),
                         rows_written=src_n, partitions_rewritten=len(present),
                         partitions_dropped=len(dropped))
            return sid, stats
        finally:
            src.unpersist()

    def rewrite_files(self, target_bytes: int = 128 << 20,
                      note: str = "",
                      sort_by: list[str] | None = None
                      ) -> tuple[int | None, dict]:
        """Small-file compaction as a logical no-op snapshot (Iceberg
        ``rewrite_data_files``): every live partition holding more
        parquet files than ``target_bytes`` warrants is rewritten into
        that many files; rows are untouched, partitions already at
        their target carry over by manifest reference, and earlier
        snapshots keep reading the old layout (copy-on-write — the old
        files go away at expire_snapshots, like any superseded commit).

        Why a log-structured ingest table needs it: a year of daily
        drops appends 365 partitions whose file counts mirror each
        drop's transient parallelism, and scan efficiency decays with
        per-file overhead. The file-count probe is a driver-side
        listing of LIVE partition dirs only (bounded by partition
        count); each selected partition is shuffled once into its
        target file count. Schedule like any maintenance job — between
        ingest runs, optionally in partition batches.

        ``sort_by`` (Iceberg ``rewrite_data_files`` sort strategy):
        range-partition + sort each rewritten partition on the named
        columns instead of a hash repartition. Without it, folding a
        clustered partition into fewer files SPANS each file across the
        whole value range and file-statistics skipping on it degrades
        to nothing — compaction of a zorder_layout table should pass
        its clustering columns here to keep ``read(where=...)``
        pruning effective. ``None`` (default) inherits the table's
        ``sort_order`` property when one is set, so a table declared
        with a write sort order keeps its clustering through a bare
        ``rewrite_files()``; pass ``[]`` to force the plain hash
        layout on such a table."""
        import math
        from functools import reduce

        _, doc = self._load()
        snaps = doc["snapshots"]
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        if sort_by is None:
            sort_by = self._inherited_prop(snaps, "sort_order")
        pcol = _spec_at(snaps)[0]
        live, _ = self._resolve(None, None, snaps=snaps)
        plan: dict[str, int] = {}
        files_before = 0
        for k, rel in sorted(live.items()):
            d = os.path.join(self.root, "data", rel)
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            sz = sum(os.path.getsize(os.path.join(d, f)) for f in files)
            want = max(1, math.ceil(sz / target_bytes))
            if len(files) > want:
                plan[k] = want
                files_before += len(files)
        stats = {"partitions_rewritten": len(plan),
                 "files_before": files_before, "files_after": 0}
        if not plan:
            return None, stats
        def _lay(df, want):
            if sort_by:
                return (df.repartitionByRange(want, *sort_by)
                        .sortWithinPartitions(*sort_by))
            return df.repartition(want)

        if pcol is None:
            df = _lay(self.read(), plan["__table__"])
            sid = self.commit(df, None, note=note or "rewrite_files",
                              operation="rewrite")
        else:
            # one repartition(target) branch per selected partition,
            # unioned: each branch's tasks hold only that partition's
            # rows, so each output dir gets exactly its target count.
            # allowMissingColumns: partitions written by different
            # commits may have evolved schemas (read()'s mergeSchema
            # contract) — the union fills the gaps with NULL exactly as
            # a merged read would show them
            branches = [_lay(self.read(partitions=[k]), w)
                        for k, w in sorted(plan.items())]
            df = reduce(lambda a, b: a.unionByName(
                b, allowMissingColumns=True), branches)
            sid = self.commit(df, pcol, note=note or "rewrite_files",
                              operation="rewrite")
        new_parts = self.snapshots()[-1]["parts"]
        stats["files_after"] = sum(
            len([f for f in os.listdir(
                os.path.join(self.root, "data", rel))
                if f.endswith(".parquet")])
            for rel in new_parts.values() if rel is not None)
        return sid, stats

    def sort_order(self) -> list[str] | None:
        """The table's WRITE SORT ORDER property (None when never set,
        ``[]`` when explicitly switched off) — the column list every
        commit task-locally sorts by before writing and
        ``rewrite_files`` range-distributes on by default."""
        _, doc = self._load()
        if not doc["snapshots"]:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        return self._inherited_prop(doc["snapshots"], "sort_order")

    def partition_spec(self, snapshot_id: int | None = None,
                       ref: str | None = None) -> dict:
        """The partition spec ACTIVE at a snapshot (default latest), as
        ``{"partition_col": str|None, "transform": dict|None}`` —
        Iceberg's per-snapshot spec resolution: the first commit
        establishes it, :meth:`evolve_partition_spec` replaces it, and
        a pin predating an evolution reports (and plans with) the spec
        its data was laid out under."""
        _, doc = self._load()
        snaps = doc["snapshots"]
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots")
        pcol, tf = _spec_at(snaps, self._pin(snapshot_id, ref,
                                             doc["refs"]))
        return {"partition_col": pcol, "transform": tf}

    def evolve_partition_spec(self, partition_col: str | None,
                              partition_transform=None,
                              sort_by: list[str] | None = None,
                              layout_partitions: int | None = None,
                              note: str = "") -> int:
        """Change the table's partition spec (Iceberg
        ``ALTER TABLE … REPLACE PARTITION FIELD`` — the "start
        unpartitioned / daily, re-bucket when the table outgrows the
        layout" lifecycle), as ONE explicit replace_all rewrite of the
        live view under the new spec.

        Deliberately STRICTER than Iceberg's metadata-only evolution
        (where old files keep the old spec and each snapshot plans
        with its own): here the live view is REWRITTEN so exactly one
        spec governs all live data — split planning, dynamic
        overwrite, merge_into, takedown bounding and the incremental
        scans all keep their single-spec invariants, at the price of
        one corpus-sized rewrite the caller schedules deliberately
        (the same trade ``rewrite_files`` already makes for layout).
        Snapshots PREDATING the evolution still read — and
        ``read(where=…)`` still prunes — under their own spec
        (:meth:`partition_spec` resolves per snapshot).

        Semantics and boundary contracts:

        * rows are preserved by construction (the rewrite reads the
          live view, so pending merge-on-read deletes are BAKED IN —
          their records go inert for the live lineage, old pins still
          filter);
        * later commits must use (or omit, inheriting) the NEW spec;
        * :meth:`read_incremental` RAISES across the boundary (the
          whole key space moved); :meth:`read_changes` returns ZERO
          changes for a pure evolve range and raises with split points
          for a mixed one; :meth:`changed_partitions` reports the
          evolution ids under ``"evolved"``;
        * a staged (write-audit-publish) snapshot predating the
          evolution can no longer be published — re-stage the drop;
        * stats/bloom/sort-order properties are inherited unchanged
          (the rewrite re-harvests file stats for the new layout).

        ``layout_partitions`` pre-shuffles the rewrite into that many
        tasks hash-clustered by the NEW partition key (each key's rows
        land in one task → one file per partition — right for small
        and mid tables; leave None at corpus scale and let the
        upstream layout carry, then ``rewrite_files`` to target file
        sizes). ``sort_by`` sorts within tasks so file statistics stay
        tight on the named columns.

        Returns the evolution snapshot id."""
        from pyspark.sql import functions as F

        snaps = self.snapshots()
        if not snaps:
            raise ValueError(
                f"VersionedTable at {self.root} has no snapshots — set "
                "the spec on the first commit instead")
        new_tf = _validate_transform(partition_transform)
        cur_pcol, cur_tf = _spec_at(snaps)
        if (partition_col, new_tf) == (cur_pcol, cur_tf):
            raise ValueError(
                f"table at {self.root} already uses partition spec "
                f"(col={cur_pcol!r}, transform={cur_tf!r}) — evolving "
                "to the identical spec would be a pointless rewrite "
                "(use rewrite_files for layout maintenance)")
        if new_tf is not None and partition_col is None:
            raise ValueError("partition_transform requires partition_col")
        df = self.read()
        if partition_col is not None:
            ptype = {f.name: f.dataType.simpleString()
                     for f in df.schema.fields}.get(partition_col)
            if ptype is None:
                raise ValueError(
                    f"partition column {partition_col!r} not in table "
                    f"columns {df.columns}")
            if layout_partitions is not None:
                key = _transform_expr(new_tf, F.col(partition_col),
                                      ptype)
                df = df.repartition(layout_partitions, key)
            if sort_by:
                df = df.sortWithinPartitions(*sort_by)
        spec_note = (f"evolve_partition_spec -> (col={partition_col!r}, "
                     f"transform={new_tf!r})")
        return self.commit(df, partition_col, replace_all=True,
                           operation="evolve",
                           partition_transform=partition_transform,
                           note=note or spec_note)

    def rollback_to(self, snapshot_id: int, note: str = "") -> int:
        """Make an earlier snapshot the LIVE view again (Iceberg
        ``rollback_to_snapshot``): one O(1) METADATA-ONLY manifest
        entry whose parts are the target's resolved view — no data
        file is read, rewritten or moved, and nothing after the target
        is lost (the rolled-past snapshots stay pinned/readable until
        expiry; roll forward by rolling "back" to one of them). The
        recovery path when a bad drop was published without the
        write-audit-publish gate.

        Restoring a snapshot restores its WHOLE state:

        * merge-on-read delete records issued AFTER the target stop
          applying (their rows come back — they were not part of the
          target's state), records at or before it keep filtering
          exactly as they did (`_deletes_upto` is rollback-aware, so
          pins between the target and the rollback still see their
          own delete state);
        * the partition SPEC active at the target is re-established
          (``spec_set``), so a rollback across an
          ``evolve_partition_spec`` restores the old layout and later
          commits/maintenance run under it;
        * table properties (stats/bloom/sort-order cols) are
          deliberately NOT rolled back — they are harvest/metadata
          config, not data state (the Iceberg rule: rollback moves
          the current snapshot pointer, table metadata stays).

        Incremental consumers see the restored partitions as
        rewritten/dropped (``read_incremental`` raises — correct: the
        rows they consumed changed underneath), and ``read_changes``
        across the rollback returns exactly the net undo. Staged
        snapshots whose spec no longer matches are blocked from
        publish. Returns the rollback entry's snapshot id."""
        def _rollback(doc: dict) -> int:
            snaps = doc["snapshots"]
            if not snaps:
                raise ValueError(
                    f"VersionedTable at {self.root} has no snapshots")
            tgt = next((s for s in snaps if s["id"] == snapshot_id),
                       None)
            if tgt is not None and tgt.get("staged"):
                raise ValueError(
                    f"cannot rollback to {snapshot_id}: a staged "
                    "(write-audit-publish) snapshot is not on the "
                    "published lineage — publish it instead")
            if snapshot_id == snaps[-1]["id"]:
                raise ValueError(
                    f"snapshot {snapshot_id} is already the latest "
                    f"view of {self.root}")
            # resolves the published lineage at the target; raises on
            # expired/unknown ids exactly like a pinned read would
            view, _ = self._resolve(snapshot_id, None, with_src=True,
                                    snaps=snaps)
            cp, ct = _spec_at(snaps, snapshot_id)
            sid = snaps[-1]["id"] + 1
            entry = {"id": sid, "ts": time.time(),
                     "note": note or f"rollback to {snapshot_id}",
                     "operation": "rollback", "target": snapshot_id,
                     "partition_col": cp, "spec_set": True,
                     "replace_all": True,
                     "parts": {k: v[0] for k, v in view.items()},
                     "part_src": {k: v[1] for k, v in view.items()}}
            if ct is not None:
                entry["transform"] = ct
            snaps.append(entry)
            return sid
        return self._cas(_rollback)

    def _stats_manifest(self, top: str, cache: dict) -> dict | None:
        """The per-snapshot-dir file manifest (_filestats.json), cached
        per top-level data dir; None when the commit carried no
        stats/bloom property."""
        if top not in cache:
            cache[top] = _read_json(
                os.path.join(self.root, "data", top, _STATS_FILE))
        return cache[top]

    def _file_meta(self, snapshot_id: int | None,
                   ref: str | None) -> list[tuple]:
        """Driver-side per-file metadata rows for the (pinned) live
        view: (partition, rel path, size_bytes, row_count|None,
        src_snapshot, stats_json|None). Row counts and column stats
        come from the per-snapshot file manifest (_filestats.json —
        present whenever the stats/bloom property is on); sizes from
        the filesystem. Cost bounded by the LIVE file count."""
        _, doc = self._load()
        sid = self._pin(snapshot_id, ref, doc["refs"])
        live, _ = self._resolve(sid, None, with_src=True,
                                snaps=doc["snapshots"])
        cache: dict[str, dict | None] = {}
        rows: list[tuple] = []
        for k, (rel, src) in sorted(live.items()):
            top = rel.split(os.sep)[0]
            man = self._stats_manifest(top, cache)
            entries = (man["files"].get(k, [])
                       if man is not None else [])
            by_f = {e["f"]: e for e in entries}
            d = os.path.join(self.root, "data", rel)
            for f in sorted(os.listdir(d)):
                if not f.endswith(".parquet"):
                    continue
                e = by_f.get(f)
                rows.append((
                    k, os.path.join(rel, f),
                    os.path.getsize(os.path.join(d, f)),
                    e.get("rows") if e else None,
                    src,
                    (json.dumps(e["cols"], sort_keys=True)
                     if e and e.get("cols") else None)))
        return rows

    def files(self, snapshot_id: int | None = None,
              ref: str | None = None) -> DataFrame:
        """Per-FILE metadata table (Iceberg's ``.files``): one row per
        live data file of the (pinned) view — partition key, path
        relative to the data root, size, row count, the snapshot that
        established the file's partition, and the recorded column
        stats as JSON. Row counts/stats are None unless the table
        carries the stats or bloom property (enable ``stats_cols=`` to
        make this table footer-read-free); sizes always come from the
        filesystem, bounded by the live file count — the ops surface
        for skew checks, small-file detection and ``rewrite_files``
        scheduling."""
        return self.spark.createDataFrame(
            self._file_meta(snapshot_id, ref),
            "partition STRING, file STRING, size_bytes BIGINT, "
            "row_count BIGINT, src_snapshot INT, stats STRING")

    def partitions(self, snapshot_id: int | None = None,
                   ref: str | None = None) -> DataFrame:
        """Per-PARTITION metadata table (Iceberg's ``.partitions``):
        file count, total bytes, total rows (None when any file lacks
        a recorded count) and establishing snapshot per live partition
        — the skew/compaction dashboard in one driver-side call."""
        agg: dict[str, list] = {}
        for k, _f, sz, n, src, _s in self._file_meta(snapshot_id, ref):
            a = agg.setdefault(k, [0, 0, 0, True, src])
            a[0] += 1
            a[1] += sz
            if n is None:
                a[3] = False
            else:
                a[2] += n
        rows = [(k, a[0], a[1], a[2] if a[3] else None, a[4])
                for k, a in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows,
            "partition STRING, file_count INT, size_bytes BIGINT, "
            "row_count BIGINT, src_snapshot INT")

    def row_deletes(self) -> DataFrame:
        """Pending-takedown metadata table (the merge-on-read ledger):
        one row per recorded ``delete_where(mode="merge_on_read")``
        entry still in the manifest, with its structured predicate,
        the affected-partition bound recorded at delete time, and
        whether it is still PENDING (applies to at least one live
        partition — i.e. reads are paying its filter) or inert
        (applied/baked in; expiry will retire the record). Driver-side
        over the manifest."""
        snaps = self.snapshots()
        live, _ = self._resolve(None, None, with_src=True, snaps=snaps)
        rows = []
        for d in self._deletes_upto(None, snaps):
            pending = any(self._delete_applies(d, k, src)
                          for k, (_rel, src) in live.items())
            aff = d.get("affected")
            rows.append((d["id"],
                         json.dumps(d["predicate"]),
                         # None = no recorded bound: the record applies
                         # to EVERY predating partition — render NULL,
                         # never an empty (touches-nothing) array
                         sorted(aff) if aff is not None else None,
                         pending))
        return self.spark.createDataFrame(
            rows,
            "delete_id INT, predicate STRING, "
            "affected ARRAY<STRING>, pending BOOLEAN")

    def plan_maintenance(self, max_files_per_partition: int = 8,
                         target_bytes: int = 128 << 20,
                         keep_last: int = 5,
                         orphan_age_s: float = 86400.0) -> list[dict]:
        """Read the metadata tables (``partitions()`` /
        ``row_deletes()`` / the manifest) and return the ORDERED
        maintenance worklist the dashboards imply — the planner the
        ops surface was built for (VERDICT r4 #9). Pure: no side
        effects; feed the result to :meth:`run_maintenance`.

        Order is load-bearing: (1) ``apply_deletes`` bakes pending
        merge-on-read takedowns into data files so reads stop paying
        their filters and expiry can retire the records; (2)
        ``rewrite_files`` compacts fragmented partitions (file count
        over the threshold) — after the bake-in, so the compaction
        doesn't immediately re-fragment; (3) ``expire_snapshots``
        retires the superseded snapshots the first two steps created;
        (4) ``remove_orphan_files`` sweeps aged unreferenced dirs.
        Driver-side over manifests — cost independent of data volume."""
        plan: list[dict] = []
        if not self.snapshots():
            return plan
        pending = [r for r in self.row_deletes().collect()
                   if r["pending"]]
        if pending:
            plan.append({"action": "apply_deletes",
                         "pending_records": len(pending)})
        frag = sorted(
            r["partition"] for r in self.partitions().collect()
            if r["file_count"] > max_files_per_partition)
        if frag:
            plan.append({"action": "rewrite_files",
                         "partitions": frag,
                         "target_bytes": target_bytes})
        # projected snapshot count after steps 1-2 commit
        projected = len(self.snapshots()) + len(plan)
        if projected > keep_last:
            plan.append({"action": "expire_snapshots",
                         "keep_last": keep_last})
        plan.append({"action": "remove_orphan_files",
                     "older_than_s": orphan_age_s})
        return plan

    def run_maintenance(self, plan: list[dict] | None = None,
                        **plan_kw) -> list[dict]:
        """Execute a :meth:`plan_maintenance` worklist (computed fresh
        when not given) in order; returns the plan with each step's
        outcome attached."""
        if plan is None:
            plan = self.plan_maintenance(**plan_kw)
        out = []
        for step in plan:
            step = dict(step)
            act = step["action"]
            if act == "apply_deletes":
                sid, stats = self.apply_deletes(note="maintenance")
                step["result"] = {"snapshot_id": sid, **stats}
            elif act == "rewrite_files":
                sid, stats = self.rewrite_files(
                    target_bytes=step.get("target_bytes", 128 << 20),
                    note="maintenance")
                step["result"] = {"snapshot_id": sid, **stats}
            elif act == "expire_snapshots":
                step["result"] = self.expire_snapshots(
                    step.get("keep_last", 5))
            elif act == "remove_orphan_files":
                step["result"] = self.remove_orphan_files(
                    older_than_s=step.get("older_than_s", 86400.0))
            else:
                raise ValueError(f"unknown maintenance action {act!r}")
            out.append(step)
        return out

    def history(self) -> DataFrame:
        """Snapshot metadata as a DataFrame (Iceberg's ``.history`` /
        ``.snapshots`` metadata tables): one row per commit with the
        partition-grain change counts. Driver-side over the manifest —
        cost independent of data volume."""
        import datetime

        rows = []
        prev_raw: dict = {}
        prev: dict[str, str] = {}
        for s in self.snapshots():
            # step the shared manifest fold and diff the filtered views
            # (fold values are (rel, src_id); diff on the rel alone so a
            # merge-on-read row_delete entry — which changes neither —
            # reads as 0/0/0 partition changes, exactly its meaning)
            cur_raw = _apply_entry(prev_raw, s)
            cur = {k: v[0] for k, v in cur_raw.items()
                   if v[0] is not None}
            appended = [k for k in cur if k not in prev]
            rewritten = [k for k in cur if k in prev and cur[k] != prev[k]]
            dropped = [k for k in prev if k not in cur]
            rows.append((
                s["id"],
                datetime.datetime.fromtimestamp(s["ts"]),
                s.get("note", ""),
                s.get("operation", "write"),
                bool(s["partition_col"] is None or s.get("replace_all")),
                len(appended), len(rewritten), len(dropped), len(cur)))
            prev_raw, prev = cur_raw, cur
        return self.spark.createDataFrame(
            rows,
            "snapshot_id INT, committed_at TIMESTAMP, note STRING, "
            "operation STRING, replaces_all BOOLEAN, "
            "partitions_appended INT, partitions_rewritten INT, "
            "partitions_dropped INT, partitions_live INT")

    def _resolve(self, snapshot_id: int | None,
                 partitions: list | None,
                 skip_rewrites: bool = False,
                 with_src: bool = False,
                 apply_staged: bool = True,
                 snaps: list[dict] | None = None) -> tuple[dict, dict]:
        """``skip_rewrites=True`` resolves the LOGICAL view: layout-only
        commits (operation="rewrite") are not applied, so each partition
        maps to the dir of its last DATA commit — the spelling
        changed_partitions diffs, making compaction invisible to
        incremental consumers. (An expiry-compacted base entry carries
        no operation tag and is always applied — correct: it IS the
        resolved state at that id, and both sides of any valid diff
        start at or after it.) ``with_src=True`` maps each partition to
        ``(rel, src_id)`` — the establishing commit id that scopes
        merge-on-read row deletes. ``apply_staged=False`` suppresses
        the staged-pin audit view (below) — the lineage-diff callers
        (changed_partitions) resolve ids NUMERICALLY and must see the
        published lineage only, however the endpoint id was minted.
        ``snaps``: the manifest to resolve (default: load it)."""
        if snaps is None:
            snaps = self.snapshots()
        if snapshot_id is not None:
            if snaps and snapshot_id > snaps[-1]["id"]:
                # a pin against a FUTURE/unknown id must fail loudly —
                # silently returning the latest view would make the
                # "pinned corpus" track every later recrawl, the exact
                # failure this table exists to prevent
                raise ValueError(
                    f"unknown snapshot {snapshot_id} (latest is "
                    f"{snaps[-1]['id']}) in {self.root}")
            snaps = [s for s in snaps if s["id"] <= snapshot_id]
            if snaps and snaps[-1]["id"] != snapshot_id:
                # tag-pinned expiry can leave HOLES in the id line
                # (manifest [3, 5] after untagged 4 expired): a pin
                # against a hole must fail like any expired id, not
                # silently read the older neighbor's view
                raise ValueError(
                    f"snapshot {snapshot_id} is expired in {self.root} "
                    f"(surviving ids <= it: up to {snaps[-1]['id']})")
        if not snaps:
            raise ValueError(
                f"no snapshot <= {snapshot_id!r} in {self.root}")
        meta = snaps[-1]
        # an EXPLICIT pin of a staged snapshot's own id resolves the
        # AUDIT view (parent + the staged changes — Iceberg WAP: a
        # full snapshot the table ref never points at); latest-view
        # resolution (snapshot_id=None) never applies unpublished
        # staged data.
        live = _fold_live(snaps, skip_rewrites=skip_rewrites,
                          with_src=with_src,
                          apply_staged_id=(snapshot_id if apply_staged
                                           else None))
        if partitions is not None:
            # match the on-disk spelling AND its percent-unescaped form
            # (Spark Hive-escapes special chars in partition dirs), with
            # requested values normalized through Spark's OWN string-cast
            # spelling (_norm_pv) so int/str/bool/date all line up with
            # the _pv= directory names (ADVICE r3: plain str(True) is
            # 'True' but the dir is '_pv=true')
            from urllib.parse import unquote
            want = {_norm_pv(p) for p in partitions}
            live = {k: v for k, v in live.items()
                    if k in want or unquote(k) in want}
            if not live:
                import warnings
                warnings.warn(
                    f"VersionedTable.read(partitions={partitions!r}) at "
                    f"{self.root} matched no live partition — returning "
                    f"an empty DataFrame (supported key types: int, str, "
                    f"bool, date; other types must be passed in Spark's "
                    f"string-cast spelling)", stacklevel=3)
        return live, meta

    def expire_snapshots(self, keep_last: int,
                         older_than: float | None = None,
                         orphan_grace_s: float = 86400.0) -> list[str]:
        """Iceberg-style snapshot expiry: keep the newest ``keep_last``
        snapshots readable and delete the data directories nothing
        surviving references. With ``older_than`` (a unix timestamp —
        Iceberg's ``olderThan`` + ``retainLast`` combination), every
        snapshot committed AT OR AFTER it survives too: a retention
        policy like "90 days of history, but never fewer than 2
        snapshots" is ``expire_snapshots(2, time.time() - 90*86400)``.
        Every TAGGED snapshot (see :meth:`create_tag`) survives as well
        — retention policy cannot expire a named training-corpus pin;
        drop the tag to release it.

        Each surviving snapshot whose preceding history was truncated
        is COMPACTED in place — its manifest entry becomes the fully
        resolved live view at that id (replace_all), so history
        truncation never changes what any surviving id reads (a tagged
        mid-history snapshot becomes its own self-contained base).
        Crash safety preserves the design invariant: the new manifest
        is written atomically FIRST, then unreferenced dirs are removed
        — a crash in between leaves invisible orphans, never a dangling
        reference. Returns the deleted relative dirs.

        ``orphan_grace_s`` protects IN-FLIGHT commits: a data dir the
        manifest has never referenced may be a concurrent commit that
        wrote its files but has not yet appended its manifest line
        (commit writes data OUTSIDE the lock by design — uuid dirs
        never collide), so never-referenced dirs are swept only once
        older than the grace (Iceberg ``removeOrphanFiles`` olderThan;
        see :meth:`remove_orphan_files`). Dirs the PRE-expiry manifest
        referenced are provably committed garbage and are removed
        immediately."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        pre_top_referenced, referenced_rel = self._cas(
            lambda doc: self._expire_doc(doc, keep_last, older_than))
        # the sweep ALWAYS runs (even when nothing was truncated) so a
        # crash between a previous manifest write and its rmtree loop is
        # self-healing: expired-then-leaked dirs are reclaimed on the
        # next expiry call (via the orphan grace — after a crash the new
        # manifest no longer proves them garbage). GC is PARTITION-
        # grain, not snapshot-dir-grain: a surviving snapshot that
        # carries over only partition 7 of an old commit must not pin
        # that commit's OTHER partitions on disk — after a delete_where
        # takedown the deleted rows' files have to be physically gone
        # once no surviving snapshot references them.
        top_referenced = {r.split(os.sep)[0] for r in referenced_rel}
        cutoff = time.time() - orphan_grace_s
        deleted = []
        data = os.path.join(self.root, "data")
        if os.path.isdir(data):
            for name in sorted(os.listdir(data)):
                if not name.startswith("snap-"):
                    continue
                if name not in top_referenced:
                    if name not in pre_top_referenced:
                        # never referenced: possibly an IN-FLIGHT
                        # commit's data (written outside the lock) —
                        # only sweep past the grace age
                        try:
                            if os.path.getmtime(
                                    os.path.join(data, name)) > cutoff:
                                continue
                        except OSError:
                            continue
                    shutil.rmtree(os.path.join(data, name),
                                  ignore_errors=True)
                    deleted.append(name)
                    continue
                if name in referenced_rel:
                    continue  # table-grain (unpartitioned) reference
                d = os.path.join(data, name)
                for child in sorted(os.listdir(d)):
                    # only manifest-shaped children are candidates;
                    # _SUCCESS markers etc. stay with the directory
                    if not (child.startswith("_pv=") or child == "_schema"):
                        continue
                    rel = os.path.join(name, child)
                    if rel not in referenced_rel:
                        shutil.rmtree(os.path.join(d, child),
                                      ignore_errors=True)
                        deleted.append(rel)
        return deleted

    @staticmethod
    def _referenced(snaps: list[dict]) -> set[str]:
        rel = {r for s in snaps
               for r in s["parts"].values() if r is not None}
        # a compacted staged entry's PARENT view (base_parts) is what
        # later survivors fold from — its dirs are live references too
        rel |= {r for s in snaps
                for r in s.get("base_parts", {}).values()
                if r is not None}
        rel |= {s["schema_dir"] for s in snaps if s.get("schema_dir")}
        return rel

    def _expire_doc(self, doc: dict, keep_last: int,
                    older_than: float | None
                    ) -> tuple[set[str], set[str]]:
        """:meth:`expire_snapshots`' :meth:`_cas` mutation: truncate
        ``doc``'s manifest to the keep set; return the top-level dirs it
        referenced before and the dirs it references after (the sweep
        input, taken from the claimed document)."""
        snaps = doc["snapshots"]
        pre_top_referenced = {r.split(os.sep)[0]
                              for r in self._referenced(snaps)}
        if older_than is not None:
            # commit timestamps are nondecreasing (commits serialize
            # under the manifest lock), so "ts >= older_than" is a tail;
            # widen keep_last to cover it
            recent = sum(1 for s in snaps if s["ts"] >= older_than)
            keep_last = max(keep_last, recent)
        keep_ids = {s["id"] for s in snaps[-keep_last:]}
        # the newest PUBLISHED entry always survives: a staged
        # tail can push it out of the keep_last window, and dropping
        # it would leave no published survivor to compact the live
        # state onto (the delete-record fold would silently lose the
        # last takedowns/rollbacks underneath the staged tail)
        pub_ids = [s["id"] for s in snaps if not s.get("staged")]
        if pub_ids:
            keep_ids.add(max(pub_ids))
        keep_ids |= {r["snapshot_id"] for r in doc["refs"].values()}
        if any(s["id"] not in keep_ids for s in snaps):
            # general keep-set truncation: walk the old manifest in
            # order; a kept snapshot straight after a dropped gap can no
            # longer be folded from its predecessors, so it compacts to
            # its resolved view (computed from the OLD manifest, before
            # anything is written); kept snapshots with an intact prefix
            # carry over verbatim, preserving their delta semantics
            # (operation tags, changed_partitions diffs)
            new_snaps: list[dict] = []
            gap = False
            for s in snaps:
                if s["id"] not in keep_ids:
                    gap = True
                    continue
                if not gap:
                    new_snaps.append(dict(s))
                    continue
                live_src, _ = self._resolve(s["id"], None, with_src=True,
                                            snaps=snaps)
                # the compacted base may BECOME the first manifest entry
                # (or swallow an evolve in the truncated gap), so it
                # re-establishes the partition spec ACTIVE AT ITS ID
                # (spec_set — see _spec_at) instead of inheriting
                cp, ct = _spec_at(snaps, s["id"])
                compacted = {"id": s["id"], "ts": s["ts"],
                             "note": (s.get("note", "")
                                      + " (compacted by expire_snapshots)"),
                             "partition_col": cp,
                             "spec_set": True,
                             "replace_all": True,
                             "parts": {k: v[0]
                                       for k, v in live_src.items()},
                             # original establishing ids: merge-on-read
                             # delete scoping must survive compaction —
                             # without these the base id would become
                             # every partition's src and pre-delete
                             # data would stop being filtered
                             "part_src": {k: v[1]
                                          for k, v in live_src.items()}}
                if s.get("staged"):
                    # a TAGGED staged snapshot surviving expiry (a kept
                    # quarantined audit): _resolve at its own id gave
                    # the AUDIT view (parent + staged changes), which
                    # is what its pin must keep reading — but the
                    # entry must STAY staged so the audit data never
                    # leaks into later live folds, and those folds
                    # need the truncated prefix's PARENT view as their
                    # base (later survivors relied on it carrying
                    # over) — recorded separately as base_parts. A
                    # compacted staged entry can no longer be
                    # published (its parts are the whole resolved
                    # audit view; the publish conflict check rejects
                    # it unless forced).
                    compacted["staged"] = True
                    parent_src = _fold_live(
                        [e for e in snaps if e["id"] <= s["id"]],
                        with_src=True)
                    compacted["base_parts"] = {
                        k: v[0] for k, v in parent_src.items()}
                    compacted["base_part_src"] = {
                        k: v[1] for k, v in parent_src.items()}
                    # record carry applicability over BOTH views'
                    # (partition, src) pairs — a staged overlay's
                    # newer src must not mask the parent view's older
                    # one (the live lineage still reads that data)
                    carry_items = (list(live_src.items())
                                   + list(parent_src.items()))
                else:
                    carry_items = list(live_src.items())
                # carry the row-delete records still applicable to this
                # view (a truncated row_delete line must not lose its
                # effect); fully-applied records drop out here
                pend = [d for d in self._deletes_upto(s["id"], snaps)
                        if any(self._delete_applies(d, k, src)
                               for k, (_rel, src) in carry_items)]
                if pend:
                    compacted["row_deletes"] = pend
                # authoritative (deletes_set): the carried records ARE
                # the visible set at this id — a truncated rollback
                # entry's filtering must survive even when an EARLIER
                # surviving entry still carries a record that the
                # rollback had cancelled (expiry must never change what
                # a surviving id reads). A staged entry's set is read
                # only at its own pin (_fold_deletes skips it for every
                # other fold), so it never resets the published lineage.
                compacted["deletes_set"] = True
                # the stats/bloom/sort-order properties must survive
                # history truncation: each compacted entry inherits the
                # set _inherited_prop resolves at its id
                upto = [p for p in snaps if p["id"] <= s["id"]]
                for pkey in ("stats_cols", "bloom_cols", "sort_order"):
                    prop = self._inherited_prop(upto, pkey)
                    if prop is not None:
                        compacted[pkey] = prop
                if ct is not None:
                    compacted["transform"] = ct
                new_snaps.append(compacted)
                # a compacted STAGED survivor does NOT heal the gap:
                # it is invisible to live folds, so the PUBLISHED
                # lineage is still truncated underneath the next
                # published survivor — which must compact too, or a
                # dropped rollback's cancellation (its deletes_set
                # reset) would silently vanish from the live view
                if not s.get("staged"):
                    gap = False
            doc["snapshots"] = snaps = new_snaps
        return pre_top_referenced, self._referenced(snaps)

    def remove_orphan_files(self, older_than_s: float = 86400.0
                            ) -> list[str]:
        """Iceberg ``remove_orphan_files``: delete data directories the
        manifest has NEVER referenced (crashed commits that wrote files
        but died before their manifest append) once older than
        ``older_than_s``. The age gate is the whole safety argument —
        a younger unreferenced dir may be a commit in flight RIGHT NOW
        (data is written outside the manifest lock), so the default
        stays large and 0 is for tests/offline tables only. Referenced
        history is untouched; this op never changes what any snapshot
        reads. Returns the deleted relative dirs."""
        import shutil

        with _ManifestLock(self.root):
            top_referenced = {r.split(os.sep)[0]
                              for r in self._referenced(self.snapshots())}
            cutoff = time.time() - older_than_s
            deleted = []
            data = os.path.join(self.root, "data")
            if os.path.isdir(data):
                for name in sorted(os.listdir(data)):
                    if (not name.startswith("snap-")
                            or name in top_referenced):
                        continue
                    try:
                        if os.path.getmtime(
                                os.path.join(data, name)) > cutoff:
                            continue
                    except OSError:
                        continue
                    shutil.rmtree(os.path.join(data, name),
                                  ignore_errors=True)
                    deleted.append(name)
        return deleted

    def plan_files(self, snapshot_id: int | None = None,
                   partitions: list | None = None,
                   where: list[tuple] | None = None,
                   ref: str | None = None) -> dict:
        """Driver-side scan plan with file-level skipping (Iceberg
        ``planFiles``): resolve the live view, then drop every data
        file whose recorded column bounds prove no row can satisfy
        ``where`` (a conjunction of ``(col, op, value)`` predicates,
        op in ``==  !=  <  <=  >  >=  between  in``). Pruning is
        conservative — files without statistics (pre-property commits,
        unconfigured columns, incomparable value types) are always
        kept, so the plan is a superset of the matching rows by
        construction. Cost is bounded by the live view's FILE COUNT
        (the `_filestats.json` manifests are read, directories are
        never listed when they exist — at Iceberg's scale this is the
        manifest-file read that replaces object-store listing).

        On a hidden-partitioned table (``commit(partition_transform=)``)
        predicates on the partition SOURCE column first prune whole
        partitions through the spec (a url point lookup on a
        bucket(n, url) layout plans 1/n of the table); pruned
        partitions' files are not listed and do not count toward
        ``files_total``.

        Returns ``{"files": [abs paths], "files_total": n,
        "files_skipped": n, "partitions": [live keys],
        "partitions_pruned": n}``."""
        _, doc = self._load()
        snaps = doc["snapshots"]
        snapshot_id = self._pin(snapshot_id, ref, doc["refs"])
        where = _validate_where(where) if where else []
        live, _ = self._resolve(snapshot_id, partitions, snaps=snaps)
        pruned_parts = 0
        if where:
            # hidden partitioning: predicates on the partition SOURCE
            # column prune whole partitions before any file manifest is
            # read — on a bucket(n, url) layout a url point lookup
            # plans 1/n of the table, and the per-file blooms then
            # skip within the surviving partition
            # per-snapshot spec (Iceberg: each snapshot plans with its
            # own partition spec) — a pre-evolution pin keeps pruning
            # under the spec ITS data was laid out with
            pin_pcol, pin_tf = (_spec_at(snaps, snapshot_id)
                                if snaps else (None, None))
            if pin_pcol is not None:
                keep = set(_partition_prune(
                    pin_tf, pin_pcol, where, live))
                pruned_parts = len(live) - len(keep)
                if pruned_parts:
                    live = {k: v for k, v in live.items() if k in keep}
        cache: dict[str, dict | None] = {}
        kept: list[str] = []
        total = 0
        for k, rel in sorted(live.items()):
            top = rel.split(os.sep)[0]
            man = self._stats_manifest(top, cache)
            entries = man["files"].get(k) if man is not None else None
            if entries is None:
                # pre-property snapshot dir: no manifest, list + keep all
                d = os.path.join(self.root, "data", rel)
                entries = [{"f": f} for f in sorted(os.listdir(d))
                           if f.endswith(".parquet")]
            for e in entries:
                total += 1
                if not where or _file_may_match(e, where):
                    kept.append(os.path.join(self.root, "data", rel,
                                             e["f"]))
        return {"files": kept, "files_total": total,
                "files_skipped": total - len(kept),
                "partitions": sorted(live),
                "partitions_pruned": pruned_parts}

    def _pin(self, snapshot_id: int | None, ref: str | None,
             refs: dict) -> int | None:
        if ref is None:
            return snapshot_id
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR ref, not both")
        if ref not in refs:
            raise ValueError(
                f"unknown ref {ref!r} in {self.root} "
                f"(known: {sorted(refs) or 'none'})")
        return refs[ref]["snapshot_id"]

    def read(self, snapshot_id: int | None = None,
             partitions: list | None = None,
             where: list[tuple] | None = None,
             ref: str | None = None) -> DataFrame:
        """The table AS OF ``snapshot_id`` (default: latest), or AS OF
        the snapshot a named tag pins (``ref=`` — see
        :meth:`create_tag`; mutually exclusive with ``snapshot_id``).
        ``partitions`` prunes driver-side to the named partition values
        (manifest resolution — no data-directory listing at all; values
        are str()-normalized, so natural ints work). A prune that
        matches nothing returns an EMPTY DataFrame with the live view's
        schema — consumers iterating partition values must not crash on
        a legitimately absent one. Snapshots may evolve schemas; reads
        spanning several commits merge them (mergeSchema), carried-over
        partitions showing NULL for later-added columns.

        ``where`` (see :meth:`plan_files`) returns EXACTLY
        ``read().where(<conjunction>)``: files whose recorded bounds
        prove no match are skipped driver-side (never opened, never
        listed), and the same predicates run as a normal Spark filter
        over the survivors — file skipping is pure I/O elimination,
        with zorder_layout/sorted writes deciding how much of the scan
        it removes."""
        _, doc = self._load()
        return self._read(doc, self._pin(snapshot_id, ref, doc["refs"]),
                          partitions, where)

    def _read(self, doc: dict, snapshot_id: int | None = None,
              partitions: list | None = None,
              where: list[tuple] | None = None) -> DataFrame:
        """:meth:`read` against an already-loaded document."""
        from pyspark.sql import functions as F

        snaps = doc["snapshots"]
        deletes = self._deletes_upto(snapshot_id, snaps)
        if where:
            where = _validate_where(where)
            plan = self.plan_files(snapshot_id, partitions, where)
            cond = _where_to_column(where)
            if not plan["files"]:
                return (self._read(doc, snapshot_id, partitions)
                        .where(F.lit(False)))
            if deletes:
                # merge-on-read deletes scope by each partition's src
                # id: restrict the delete-grouped scan to the plan's
                # surviving files, then the residual condition applies
                # uniformly (skipped files cannot satisfy ``cond``
                # regardless of delete filters — deletes only remove
                # more rows, so pruning stays exact)
                live_src, _ = self._resolve(snapshot_id, partitions,
                                            with_src=True, snaps=snaps)
                data = os.path.join(self.root, "data")
                files_by_rel: dict[str, list[str]] = {}
                for p in plan["files"]:
                    rel = os.path.dirname(os.path.relpath(p, data))
                    files_by_rel.setdefault(rel, []).append(p)
                return self._scan_with_deletes(
                    live_src, deletes, files_by_rel).where(cond)
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(*plan["files"]).where(cond))
        live, _ = self._resolve(snapshot_id, partitions,
                                with_src=True, snaps=snaps)
        if deletes and live:
            return self._scan_with_deletes(live, deletes)
        live = {k: v[0] for k, v in live.items()}
        if not live:
            full, _ = self._resolve(snapshot_id, None, snaps=snaps)
            dirs = [os.path.join(self.root, "data", rel)
                    for rel in full.values()]
            if not dirs:
                # the full view itself is empty (only empty partitioned
                # commits so far) — fall back to the schema files those
                # commits recorded; with none at all, fail with a typed
                # message instead of spark.read.parquet() zero-paths
                dirs = [os.path.join(self.root, "data", s["schema_dir"])
                        for s in snaps if s.get("schema_dir")
                        and (snapshot_id is None
                             or s["id"] <= snapshot_id)]
                if not dirs:
                    raise ValueError(
                        f"VersionedTable at {self.root} is empty at "
                        f"snapshot {snapshot_id!r}: no data and no "
                        f"recorded schema")
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(*dirs).where(F.lit(False)))
        dirs = [os.path.join(self.root, "data", rel)
                for rel in live.values()]
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(*dirs))
