"""Spans recorded from outside the program, and the ledger built on them.

A span is (name, start, end, parent, run id). Spans are kept in memory
and written out as JSON lines when the run ends. :class:`Patches`
wraps public functions and methods of the program's layers so that
every call made while tracing is on records a span; tracing off means
the wrappers add one attribute read per call.

Spark is lazy: a wrapper around a function that only builds a plan
(``read_warc``, ``extract_pages``) measures planning, and the work of
that plan lands in the span of whichever eager call runs it. The
ledger is therefore by eager boundary: commits, merges, sidecar
appends and parquet writes.
"""

from __future__ import annotations

import importlib
import json
import os
import time
import uuid


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def subtree(self, idx: int) -> list[dict]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            for s in self.spans:
                if s["parent"] == i:
                    out.append(s)
                    todo.append(s["id"])
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree of ``root``
        (the root's own self time is returned under its name)."""
        nodes = [self.spans[root]] + self.subtree(root)
        out: dict[str, float] = {}
        for s in nodes:
            covered = sum(c["end"] - c["start"]
                          for c in self.children(s["id"]))
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "run": t.run_id, "start": time.perf_counter(),
                    "end": None, **self.attrs}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()


def _table_root(args, kwargs) -> str:
    return os.path.basename(args[0].root)


def _table_name(args, kwargs) -> str:
    return args[2] if len(args) > 2 else kwargs["table"]


def _path_table(args, kwargs) -> str:
    """The table a write lands in: the last path component that is not
    a partition, snapshot or data directory."""
    path = str(args[1] if len(args) > 1 else kwargs.get("path", ""))
    for part in reversed(path.split(os.sep)):
        if part and "=" not in part and part != "data" \
                and not part.startswith("snap-"):
            return part
    return path


# (module, attribute path, span name, tag). Functions a plan imports at
# call time are patched on their defining module; names bound at import
# time are patched where they are looked up. ``tag`` names the table a
# call writes.
TARGETS = [
    ("ocr_spark.plans.extract_job", "run_extract_job", "job.run_extract_job",
     None),
    ("ocr_spark.plans.ingest_job", "run_ingest_job", "job.run_ingest_job",
     None),
    ("ocr_spark.sources.warc", "read_warc", "warc.read_warc", None),
    ("ocr_spark.operators.dedup", "dedup_incremental_vs_hashes",
     "dedup.incremental", None),
    ("ocr_spark.functions.bucketing", "hot_hosts", "bucketing.hot_hosts",
     None),
    ("ocr_spark.plans.ingest_job", "extract_pages", "extract.extract_pages",
     None),
    ("ocr_spark.plans.ingest_job", "UrlBucketIndex.buckets_of",
     "urlindex.buckets_of", None),
    ("ocr_spark.plans.ingest_job", "UrlBucketIndex.update",
     "urlindex.update", None),
    ("ocr_spark.plans.ingest_job", "DropManifest.mark_done",
     "manifest.mark_done", None),
    ("ocr_spark.plans.extract_job", "extract_pages", "extract.extract_pages",
     None),
    ("ocr_spark.sources.io", "CheckpointManifest.mark_done",
     "manifest.mark_done", None),
    ("ocr_spark.sources.io", "TableIO.append", "sidecar.append",
     _table_name),
    ("ocr_spark.sources.io", "TableIO.overwrite_partitions",
     "sink.overwrite_partitions", _table_name),
    ("ocr_spark.sources.io", "VersionedTable.commit", "commit", _table_root),
    ("ocr_spark.sources.io", "VersionedTable.merge_into", "merge.merge_into",
     _table_root),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "write.parquet",
     _path_table),
    ("pyspark.sql.readwriter", "DataFrameWriter.save", "write.save",
     _path_table),
]


class Patches:
    """Install span-recording wrappers on :data:`TARGETS`; ``restore``
    puts the originals back. Each wrapper records its call's arguments
    and result under ``args``/``result`` only for the few layers whose
    counts the per-layer metrics read (probe sizes, merge stats)."""

    KEEP_IO = {"merge.merge_into"}

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._orig: list[tuple] = []
        for mod_name, path, span, tag in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = owner.__dict__[attr]
            self._orig.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, span, tag))

    def _wrap(self, fn, name: str, tag):
        tracer, keep = self.tracer, name in self.KEEP_IO

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            label = f"{name}[{tag(args, kwargs)}]" if tag else name
            with tracer.span(label) as rec:
                out = fn(*args, **kwargs)
                if keep:
                    rec["kwargs"] = {k: v for k, v in kwargs.items()
                                     if isinstance(v, (list, str, int))}
                    res = out[1] if isinstance(out, tuple) else out
                    rec["result"] = {k: v for k, v in res.items()
                                     if isinstance(v, (int, float))}
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._orig):
            setattr(owner, attr, fn)
