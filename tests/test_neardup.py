"""Drop-incremental near-dup dedup: the persisted MinHash index
(operators/neardup.py) and its ingest composition
(plans/ingest_job.py apply_neardup_gate).

Contracts under test:
  * minhash_index_rows band hashes are IDENTICAL to
    dedup.lsh_band_buckets (one spelling of the sketch, so the driver
    oracle that verifies the long form verifies the index too);
  * neardup_matches / neardup_within equal an exact Python mirror of
    the signature-estimated Jaccard (given the driver-verified
    signatures), with the deterministic lowest-id tie-break;
  * the ingest gate drops within-drop near-dups (lowest url survives)
    and cross-drop near-dups against DONE drops' index partitions,
    keeps fresh docs, appends only KEPT docs' signatures to the index,
    and records neardup_dropped in the done marker;
  * exactly-once under replay: a crash in the worst-case window
    (index partition committed, marker missing) must NOT make the
    replayed drop match itself — resume is byte-identical to an
    uninterrupted run (the done-marker-gated matching view).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import dedup as D
from ocr_spark.operators import neardup as ND
from ocr_spark.plans.ingest_job import run_ingest_job
from ocr_spark.sources.io import VersionedTable
from ocr_spark.sources.warc import build_warc_bytes

_BODY = ("the quick brown fox jumps over the lazy dog while a crawler "
         "fetches pages from the open web and an extraction engine "
         "segments boilerplate away from the main content blocks "
         "before tokenization packing and deduplication feed training "
         "shards downstream through the spark native pipeline stages "
         "every day at corpus scale without rescanning history")


def _texts(spark):
    # b = a with ONE word changed (high-jaccard near-dup); c distinct
    a = _BODY
    b = _BODY.replace("lazy", "sleepy")
    c = ("completely unrelated text about parquet footers manifest "
         "files snapshot isolation and adaptive query execution in a "
         "columnar engine with whole stage code generation")
    return spark.createDataFrame(
        [("a", a), ("b", b), ("c", c)], "doc_id STRING, text STRING")


def test_index_rows_bands_match_lsh_band_buckets(spark):
    df = _texts(spark)
    mine = sorted((r.doc_id, r.band, r.band_hash) for r in
                  ND.explode_bands(
                      ND.minhash_index_rows(df, "doc_id", "text"),
                      "doc_id").collect())
    ref = sorted((r.doc_id, r.band, r.band_hash) for r in
                 D.lsh_band_buckets(
                     D.minhash_signatures(df, "doc_id", "text"),
                     "doc_id").collect())
    assert mine == ref and len(mine) == 3 * 8  # 16 hashes, bands of 2


def test_matches_and_within_equal_python_mirror(spark):
    df = _texts(spark)
    rows = ND.minhash_index_rows(df, "doc_id", "text")
    sigs = {r.doc_id: list(r.sig) for r in rows.collect()}

    def est(x, y):
        return sum(a == b for a, b in zip(sigs[x], sigs[y])) / 16

    assert est("a", "b") >= 0.8 > est("a", "c")
    index = rows.where(F.col("doc_id") == "a")
    batch = rows.where(F.col("doc_id") != "a")
    got = {(r.doc_id, r.matched_id): r.est_jaccard for r in
           ND.neardup_matches(batch, index, "doc_id", 0.5).collect()}
    assert set(got) == {("b", "a")}
    assert got[("b", "a")] == pytest.approx(est("a", "b"))
    # within-batch greedy: lowest id survives, b dropped against a
    w = sorted(r.doc_id for r in
               ND.neardup_within(rows, "doc_id", 0.5).collect())
    assert w == ["b"]
    # high threshold: nothing matches
    assert ND.neardup_matches(batch, index, "doc_id", 1.0).count() == 0


def test_matches_tiebreak_lowest_id(spark):
    # two identical index docs -> the batch doc's match must name the
    # LOWEST index id deterministically
    df = spark.createDataFrame(
        [("i1", _BODY), ("i2", _BODY), ("q", _BODY)],
        "doc_id STRING, text STRING")
    rows = ND.minhash_index_rows(df, "doc_id", "text")
    m = ND.neardup_matches(rows.where(F.col("doc_id") == "q"),
                           rows.where(F.col("doc_id") != "q"),
                           "doc_id", 0.9).collect()
    assert [(r.doc_id, r.matched_id, r.est_jaccard)
            for r in m] == [("q", "i1", 1.0)]


def _page(body: str) -> bytes:
    return (f"<html><body><nav><a href='/'>home</a></nav>"
            f"<p>{body}</p><footer>copyright footer</footer>"
            f"</body></html>").encode()


def _write_drop(root: str, name: str, records) -> None:
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "seg-0.warc.gz"), "wb") as f:
        f.write(build_warc_bytes(records))


def _drops(tmp_path) -> str:
    drops = str(tmp_path / "drops")
    u = "https://w.example.com/"
    ts = "2026-01-0{}T00:00:00Z"
    _write_drop(drops, "day1", [
        (u + "a", ts.format(1), _page(_BODY)),
        (u + "b", ts.format(1), _page(
            "totally different essay on snapshot isolation and "
            "manifest pruning in columnar lakehouse table formats "
            "with adaptive execution and codegen stages")),
    ])
    _write_drop(drops, "day2", [
        # near-dup of day1/a (one word changed -> survives the EXACT
        # Bloom dedup, must fall to the near-dup gate)
        (u + "a2", ts.format(2), _page(_BODY.replace("lazy", "sleepy"))),
        # fresh doc
        (u + "c", ts.format(2), _page(
            "fresh unrelated document describing watermarking and "
            "stateful streaming aggregation with session windows and "
            "late data handling in structured streaming pipelines")),
        # within-drop near-dup pair: d1 survives (lowest url), d2 drops
        (u + "d1", ts.format(2), _page(
            "shared within drop body about broadcast joins shuffle "
            "partitions skew salting and bucketed layouts for "
            "colocated join execution at warehouse scale today")),
        (u + "d2", ts.format(2), _page(
            "shared within drop body about broadcast joins shuffle "
            "partitions skew salting and bucketed layouts for "
            "colocated join execution at warehouse scale tomorrow")),
    ])
    return drops


_ND = {"threshold": 0.7}


def _urls(spark, out):
    vt = VersionedTable(spark, os.path.join(out, "results"))
    return sorted(r.url.rsplit("/", 1)[-1] for r in
                  vt.read().select("url").collect())


def test_ingest_neardup_gate_drops_cross_and_within(spark, tmp_path):
    drops = _drops(tmp_path)
    out = str(tmp_path / "out")
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    st = run_ingest_job(spark, drops, out, n_buckets=8, neardup=_ND)
    assert st["completed"]
    # every drop releases what it cached, the gate's signatures included
    assert jsc.getPersistentRDDs().size() <= persisted
    assert _urls(spark, out) == ["a", "b", "c", "d1"]
    # index holds ONLY kept docs, partitioned by drop
    nd = VersionedTable(spark, os.path.join(out, "neardup_index"))
    by_drop = {(r.drop_id, r.url.rsplit("/", 1)[-1])
               for r in nd.read().select("drop_id", "url").collect()}
    assert by_drop == {("day1", "a"), ("day1", "b"),
                       ("day2", "c"), ("day2", "d1")}
    # markers record the per-drop drop counts
    with open(os.path.join(out, "_checkpoints", "drop-day1.done")) as f:
        assert json.load(f)["neardup_dropped"] == 0
    with open(os.path.join(out, "_checkpoints", "drop-day2.done")) as f:
        assert json.load(f)["neardup_dropped"] == 2


def test_ingest_neardup_replay_never_matches_itself(spark, tmp_path):
    """Worst-case crash window: day2's index partition is committed
    but its marker is not. The replay re-runs the whole drop; if the
    matching view read disk state instead of done-marker drops, day2
    would near-dup-match its own crashed attempt and drop EVERYTHING.
    Resume must be byte-identical to the uninterrupted run."""
    drops = _drops(tmp_path)
    out_a = str(tmp_path / "a")
    run_ingest_job(spark, drops, out_a, n_buckets=8, neardup=_ND)

    out_b = str(tmp_path / "b")
    st1 = run_ingest_job(spark, drops, out_b, n_buckets=8, neardup=_ND,
                         fail_after_drops=2)
    assert not st1["completed"]
    # the hazard is real: the crashed attempt's index partition exists
    nd = VersionedTable(spark, os.path.join(out_b, "neardup_index"))
    assert "day2" in {r.drop_id for r in
                      nd.read().select("drop_id").collect()}
    st2 = run_ingest_job(spark, drops, out_b, n_buckets=8, neardup=_ND)
    assert st2["completed"]

    def rows(out):
        vt = VersionedTable(spark, os.path.join(out, "results"))
        return sorted(
            (r.url, r.drop_id, bytes(r.b)) for r in
            vt.read().select("url", "drop_id",
                             F.encode("extracted_text", "utf-8")
                             .alias("b")).collect())

    assert rows(out_b) == rows(out_a)
    assert _urls(spark, out_b) == ["a", "b", "c", "d1"]


def test_gate_auto_sizing_and_frozen_params(spark, tmp_path):
    """Self-sizing gate (corpus_docs -> minhash_lsh_params) + the
    frozen-params sidecar: auto-derived signature params equal the
    policy's, land in the sidecar at index creation, later drops run
    under them, and a CONFLICTING explicit config raises instead of
    silently writing incomparable signatures."""
    import json as _json

    from ocr_spark.operators.dedup import minhash_lsh_params
    from ocr_spark.plans.ingest_job import NEARDUP_DEFAULTS

    drops = _drops(tmp_path)
    out = str(tmp_path / "out")
    nd = {"threshold": 0.7, "corpus_docs": 100_000}
    st = run_ingest_job(spark, drops, out, n_buckets=8, neardup=nd)
    assert st["completed"]
    # same semantic outcome as the fixed-config gate on this corpus
    assert _urls(spark, out) == ["a", "b", "c", "d1"]
    n_hashes, _, band_size = minhash_lsh_params(100_000,
                                                dup_jaccard=0.7)
    with open(os.path.join(out, "neardup_index",
                           "_gate_params.json")) as f:
        frozen = _json.load(f)
    assert frozen == {"n_hashes": n_hashes, "band_size": band_size,
                      "shingle_k": NEARDUP_DEFAULTS["shingle_k"]}
    # a later drop under a conflicting explicit shape is refused
    _write_drop(drops, "day3", [
        ("https://w.example.com/e", "2026-01-03T00:00:00Z", _page(
            "yet another entirely fresh essay about vectorized "
            "expression evaluation and whole stage code generation"))])
    with pytest.raises(ValueError, match="incomparable"):
        run_ingest_job(spark, drops, out, n_buckets=8,
                       neardup={"threshold": 0.7, "n_hashes": 8,
                                "band_size": 4})
    # the SAME auto config keeps working (deterministic re-derivation)
    st3 = run_ingest_job(spark, drops, out, n_buckets=8, neardup=nd)
    assert st3["completed"]
    assert _urls(spark, out) == ["a", "b", "c", "d1", "e"]
