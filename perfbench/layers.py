"""Per-layer pricing for the traced run, from outside the program.

Three methods, as in ROADMAP item 1:

* timing calls into a layer's public functions: the ``ocr_spark.core``
  stages in this process, and standalone Spark calls into
  ``sources.warc``, ``operators.dedup``, ``operators.neardup``,
  ``VersionedTable`` and ``plans.ann_index`` over the workload's own
  last drop;
* cumulative plans into a noop sink over the workload's input: scan,
  then a trivial Arrow UDF, then ``extract_udf``, then ``extract_pages``;
* the spans of the traced units (see ``spans.py``) and the Spark event
  log (see ``sparkenv.EventLog``).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

PLAN_REPS = 2
CORE_SAMPLE = 400
# a small frozen ANN model: training cost stays out of the priced sync
ANN = {"n_buckets": 4, "n_cells": 4, "m": 4, "ksub": 16,
       "kmeans_iters": 2, "pq_iters": 2}

PER_LAYER = [
    "core.decode_bytes.us_per_doc", "core.segment_html.us_per_doc",
    "core.classify_blocks.us_per_doc", "core.assemble.us_per_doc",
    "core.extract_pdf_text.us_per_doc", "core.extract.p99_us",
    "plan.scan_s", "plan.arrow_floor_s", "plan.extract_udf_s",
    "plan.extract_pages_s", "plan.hot_hosts_s", "job.overhead_s",
    "spark.jobs", "spark.executor_run_s", "spark.cpu_busy_frac",
    "spark.input_bytes_read", "spark.shuffle_write_bytes",
    "spark.fetch_wait_s", "spark.spill_bytes", "spark.gc_s",
    "spark.task_skew",
    "warc.read_warc_s", "dedup.incremental_s", "dedup.kept_frac",
    "neardup.signature_s", "neardup.within_s", "neardup.probe_s",
    "neardup.dropped_frac",
    "commit.append_s", "commit.harvest_s", "commit.files_written",
    "commit.bytes_written",
    "merge.merge_into_s", "merge.partitions_probed",
    "merge.partitions_rewritten", "merge.bytes_rewritten",
    "urlindex.buckets_of_s",
    "lookup_p50_ms", "lookup_tail_ms",
    "lookup.plan_files_ms", "lookup.files_skipped_frac", "takedown.mor_s",
    "ann.sync_s", "ann.keys_inserted",
    "sidecar.lineage_metrics_s",
    "unattributed_s", "trace_overhead_frac",
]

UNITS = {
    "us_per_doc": "us", "p99_us": "us", "_s": "s", "_ms": "ms",
    "_frac": "fraction", "_bytes": "B", "bytes_read": "B",
    "bytes_written": "B", "bytes_rewritten": "B",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name == "spark.task_skew" else "count"


@F.pandas_udf(LongType())
def html_len(html: pd.Series) -> pd.Series:
    """The trivial Arrow UDF of the arrow-floor plan."""
    return html.map(lambda b: 0 if b is None else len(b))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _min_of(fn, reps: int = PLAN_REPS) -> float:
    return min(_timed(fn) for _ in range(reps))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ core

def core_metrics(pages: list[dict], seed: int) -> dict[str, float]:
    """The stages of ``extract()`` timed one by one, in this process,
    over a seeded sample of the workload's own pages."""
    from ocr_spark.core import pdf
    from ocr_spark.core.assemble import assemble
    from ocr_spark.core.blocks import classify_blocks, segment_html
    from ocr_spark.core.encoding import decode_bytes
    from ocr_spark.core.extract import extract

    sample = random.Random(seed).sample(pages, min(CORE_SAMPLE, len(pages)))
    tot = {k: [0.0, 0] for k in ("decode_bytes", "segment_html",
                                 "classify_blocks", "assemble",
                                 "extract_pdf_text")}
    whole = []

    def stage(name, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        tot[name][0] += time.perf_counter() - t0
        tot[name][1] += 1
        return out

    for p in sample:
        data = p["html"]
        t0 = time.perf_counter()
        extract(data, None)
        whole.append(time.perf_counter() - t0)
        if not data:
            continue
        if pdf.is_pdf(data):
            stage("extract_pdf_text", pdf.extract_pdf_text, data)
            continue
        decoded, _ = stage("decode_bytes", decode_bytes, bytes(data))
        if not decoded.strip():
            continue
        raw, _ = stage("segment_html", segment_html, decoded)
        blocks = stage("classify_blocks", classify_blocks, raw)
        stage("assemble", assemble, blocks)
    out = {f"core.{k}.us_per_doc": (s / n * 1e6 if n else 0.0)
           for k, (s, n) in tot.items()}
    whole.sort()
    out["core.extract.p99_us"] = whole[int(0.99 * (len(whole) - 1))] * 1e6
    return out


# ---------------------------------------------------------------- plans

def plan_metrics(spark, pages_path: str, n_buckets: int) -> dict[str, float]:
    """Cumulative plans into a noop sink over one pages table."""
    from ocr_spark.functions.bucketing import SKEW_FACTOR, hot_hosts
    from ocr_spark.plans.extract_job import extract_pages, extract_udf

    pages = spark.read.parquet(pages_path)
    hot = hot_hosts(pages, SKEW_FACTOR).cache()
    hot.count()
    out = {
        "plan.scan_s": _min_of(lambda: _noop(pages)),
        "plan.arrow_floor_s": _min_of(
            lambda: _noop(pages.select(html_len("html")))),
        "plan.extract_udf_s": _min_of(
            lambda: _noop(pages.select(extract_udf("html", "lang")))),
        "plan.extract_pages_s": _min_of(
            lambda: _noop(extract_pages(pages, n_buckets, hot=hot))),
        "plan.hot_hosts_s": _min_of(
            lambda: hot_hosts(pages, SKEW_FACTOR).collect()),
    }
    hot.unpersist()
    return out


# ------------------------------------------------------- ingest layers

def ingest_metrics(w, price: str) -> dict[str, float]:
    """Standalone calls into the ingest layers over the last timed drop,
    against the state the table had before that drop."""
    from ocr_spark.operators.dedup import dedup_incremental_vs_hashes
    from ocr_spark.operators.hashing import md5long
    from ocr_spark.plans.extract_job import extract_pages
    from ocr_spark.sources.io import VersionedTable
    from ocr_spark.sources.warc import read_warc

    spark = w.spark
    last = w.placed[-1].name
    earlier = [d.name for d in w.placed[:-1]]
    drop_dir = os.path.join(w.warc, last)
    staged = os.path.join(price, "staged")
    out = {"warc.read_warc_s": _min_of(
        lambda: _noop(read_warc(spark, drop_dir)))}
    read_warc(spark, drop_dir).write.mode("overwrite").parquet(staged)
    pages = spark.read.parquet(staged)
    hist = spark.read.parquet(*[
        os.path.join(w.out, "_history", f"drop={d}") for d in earlier]
    ).select("_h")
    new = dedup_incremental_vs_hashes(pages, hist, md5long(F.col("html")))
    out["dedup.incremental_s"] = _min_of(lambda: _noop(new))
    new_pages = new.cache()
    out["dedup.kept_frac"] = new_pages.count() / pages.count()
    out.update(plan_metrics(spark, staged, 8))

    texts = (extract_pages(new_pages, 8).select("url", "extracted_text")
             .withColumn("drop_id", F.lit(last)).cache())
    texts.count()
    t_with, t_without = [], []
    for rep in range(PLAN_REPS):
        t_with.append(_timed(lambda: VersionedTable(
            spark, os.path.join(price, f"h1-{rep}")).commit(
                texts, "drop_id", stats_cols=["url"], bloom_cols=["url"],
                sort_order=["url"])))
        t_without.append(_timed(lambda: VersionedTable(
            spark, os.path.join(price, f"h0-{rep}")).commit(
                texts, "drop_id", sort_order=["url"])))
    out["commit.harvest_s"] = min(t_with) - min(t_without)
    out.update(neardup_metrics(w, texts, earlier))
    out.update(ann_metrics(w, price, earlier, last))
    texts.unpersist()
    new_pages.unpersist()
    return out


def neardup_metrics(w, texts, earlier: list[str]) -> dict[str, float]:
    """The near-dup gate's operators with the gate's default parameters:
    signatures of the last drop's extracted texts, the within-drop pass,
    and the probe against an index of the earlier drops' rows."""
    from ocr_spark.operators import neardup as ND
    from ocr_spark.plans.ingest_job import NEARDUP_DEFAULTS

    shape = {k: NEARDUP_DEFAULTS[k]
             for k in ("n_hashes", "band_size", "shingle_k")}
    thr = NEARDUP_DEFAULTS["threshold"]
    index = ND.minhash_index_rows(
        w.results().read(partitions=earlier).select("url", "extracted_text"),
        "url", "extracted_text", **shape).persist()
    index.count()
    rows = ND.minhash_index_rows(texts, "url", "extracted_text", **shape)
    out = {"neardup.signature_s": _timed(lambda: rows.persist().count())}
    within = ND.neardup_within(rows, "url", thr).persist()
    out["neardup.within_s"] = _timed(within.count)
    matches = ND.neardup_matches(rows, index, "url", thr).select("url")
    out["neardup.probe_s"] = _timed(matches.count)
    out["neardup.dropped_frac"] = (
        within.unionByName(matches).distinct().count() / rows.count())
    for df in (index, rows, within):
        df.unpersist()
    return out


def ann_metrics(w, price: str, earlier: list[str], last: str
                ) -> dict[str, float]:
    """An incremental ANN index sync for the last drop: a copy of the
    results table before that drop trains and derives the index, then
    the drop's rows land and the timed sync derives only them."""
    from ocr_spark.plans.ann_index import sync_ann_index
    from ocr_spark.sources.io import VersionedTable

    src_root = os.path.join(price, "ann_src")
    index_root = os.path.join(price, "ann_index")
    src = VersionedTable(w.spark, src_root)
    src.commit(w.results().read(partitions=earlier), "drop_id")
    sync_ann_index(w.spark, src_root, index_root, **ANN)
    src.commit(w.results().read(partitions=[last]), "drop_id")
    t0 = time.perf_counter()
    res = sync_ann_index(w.spark, src_root, index_root, **ANN)
    return {"ann.sync_s": time.perf_counter() - t0,
            "ann.keys_inserted": res["keys_inserted"] or 0}


def lookup_plan_metrics(w, keys: list[str]) -> dict[str, float]:
    vt = w.results()
    ms, skipped = [], []
    for url in keys:
        t0 = time.perf_counter()
        plan = vt.plan_files(where=[("url", "==", url)])
        ms.append((time.perf_counter() - t0) * 1e3)
        skipped.append(plan["files_skipped"] / max(plan["files_total"], 1))
    return {"lookup.plan_files_ms": _med(ms),
            "lookup.files_skipped_frac": statistics.fmean(skipped)}


# ----------------------------------------------------------------- all

def layer_metrics(w, tracer, units: list[dict], keys: list[str], seed: int,
                  price: str) -> tuple[dict[str, float], dict[str, float]]:
    """Every per-layer metric but the event log's, and the ledger. A
    layer the workload does not run reports 0."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(core_metrics(w.unit_pages(), seed))
    if w.name == "bulk_extract":
        out.update(plan_metrics(w.spark, w.table, 32))
    else:
        out.update(ingest_metrics(w, price))
        out.update(lookup_plan_metrics(w, keys))
    span_m, ledger = span_metrics(tracer, units, w.unit_stats)
    out.update(span_m)
    untraced = [u["wall"] for u in units if not u["traced"]]
    out["job.overhead_s"] = _med(untraced) - out["plan.extract_pages_s"]
    out["takedown.mor_s"] = w.takedown_s
    return out, ledger


# ----------------------------------------------------------------- spans

def span_metrics(tracer, units: list[dict], unit_stats: list[dict]
                 ) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer figures from the traced units' spans, and the ledger:
    mean self time per layer per traced unit, ``unattributed_s`` being
    the time inside the unit but outside every named layer."""
    traced = [u for u in units if u["traced"]]
    per_unit: dict[str, list[float]] = {}
    ledger: dict[str, float] = {}
    for u in traced:
        spans = [tracer.spans[u["span"]]] + tracer.subtree(u["span"])

        def total(prefix: str) -> float:
            return sum(s["end"] - s["start"] for s in spans
                       if s["name"].startswith(prefix))

        for key, prefix in (("commit.append_s", "commit[results]"),
                            ("merge.merge_into_s", "merge.merge_into"),
                            ("urlindex.buckets_of_s", "urlindex.buckets_of"),
                            ("sidecar.lineage_metrics_s", "sidecar.append")):
            per_unit.setdefault(key, []).append(total(prefix))
        for s in spans:
            if s["name"].startswith("merge.merge_into"):
                per_unit.setdefault("merge.partitions_probed", []).append(
                    len(s["kwargs"].get("probe_partitions") or []))
                per_unit.setdefault("merge.partitions_rewritten", []).append(
                    s["result"].get("partitions_rewritten", 0))
        for name, t in tracer.self_times(u["span"]).items():
            key = ("unattributed_s" if name == "unit" or
                   name.startswith("job.") else name)
            ledger[key] = ledger.get(key, 0.0) + t / len(traced)
    out = {k: _med(v) for k, v in per_unit.items()}
    out["unattributed_s"] = ledger.get("unattributed_s", 0.0)
    # the run's first unit carries warm-up left over from set-up, so
    # the untraced base leaves it out
    traced_w = [u["wall"] for u in units if u["traced"]]
    base = [u["wall"] for u in units[1:] if not u["traced"]]
    out["trace_overhead_frac"] = _med(traced_w) / _med(base) - 1
    for key in ("commit.files_written", "commit.bytes_written",
                "merge.bytes_rewritten"):
        out[key] = _med([s[key] for s in unit_stats])
    return out, ledger
