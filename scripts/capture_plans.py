#!/usr/bin/env python
"""Capture physical plans (`explain formatted`) for the flagship job and
representative operator queries into docs/PLANS.md, with the properties
each plan must exhibit at 100 TB scale spelled out next to it.

Run: PYTHONPATH=. python scripts/capture_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.1"
# The incremental dedup picks its path from the history's planned size
# while the frame is built; these captures plan it as for a history too
# large to broadcast, the shape their checks state.
BLOOM_PATH = ("dedup_exact", "ingest_drop_pipeline")
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# (query name, what the plan must show, why it matters at scale)
CHECKS = {
    "extract_flagship": (
        "ArrowEvalPython NARROW over the byte-balanced parquet scan (the "
        "html blobs go straight from the columnar read into Arrow batches "
        "and never cross a shuffle), with the ONE Exchange (bucket/salt "
        "clustering for the partitioned write) sitting AFTER the UDF and "
        "carrying only url + extracted text + small stats."),
    "j1_broadcast_dim_join": (
        "BroadcastHashJoin (dim side broadcast) — no shuffle of the fact "
        "side for a 32-row dimension."),
    "filestats_skipped_scan": (
        "VersionedTable.read(where=[(\"seq\",\"between\",(lo,hi))]) on a "
        "stats-carrying sorted-layout table: the FileScan's Location "
        "holds ONLY the files whose footer bounds may match — file "
        "skipping happened DRIVER-SIDE before Catalyst ever saw the "
        "table (the path count in the scan is the evidence; compare "
        "files_total in plan_files()), and the residual predicate "
        "appears as a normal Filter + PushedFilters into the surviving "
        "files' row groups. At 100 TB this is the Iceberg "
        "manifest-pruned scan: a narrow range or point lookup opens a "
        "bounded file subset, not the corpus."),
    "sortorder_compacted_scan": (
        "VersionedTable.read(where=[narrow range]) AFTER a bare "
        "rewrite_files() on a table declared with a WRITE SORT ORDER "
        "(commit(sort_order=)): the compaction inherited the property, "
        "range-distributed its output, and the FileScan Location again "
        "holds a BOUNDED file subset — before the property existed, a "
        "bare compaction of a clustered table spanned every output "
        "file across the whole value range and this same scan opened "
        "everything. At 100 TB this is what makes scheduled compaction "
        "safe to automate: maintenance can never silently destroy the "
        "manifest-pruned scan."),
    "merge_latest_probe": (
        "The matched-partition probe of VersionedTable.merge_into (the "
        "one corpus scan a recrawl merge pays per drop, stated at the "
        "run_ingest_job(recrawl=) surface): ReadSchema on the live "
        "partition dirs is pruned to url + drop_id ONLY — the payload "
        "columns (extracted_text, blocks) never leave the parquet "
        "footers — and the drop's key side joins semi with AQE free to "
        "broadcast a small drop; the downstream rewrite then re-reads "
        "just the matched partitions via the manifest-pruned dir list."),
    "j6_large_sortmerge_join": (
        "SortMergeJoin under AQE — the only correct strategy for two "
        "corpus-scale relations; skew handled by AQE skewJoin."),
    "j3_interval_range_join": (
        "equi ShuffledHashJoin/SortMergeJoin on (user_id, bin) after the "
        "probe-side explode — NOT a BroadcastNestedLoopJoin; candidate "
        "set bounded by the 60s binning."),
    "lineitem_topk_filtered": (
        "PushedFilters shows the quantity BETWEEN bounds and the price "
        "threshold reaching the parquet scan (row-group pruning), then "
        "TakeOrderedAndProject — per-partition top-k heap + driver "
        "merge, never a global sort."),
    "a1_profile_local_minima": (
        "ReadSchema contains ONLY user_id, value (parquet column pruning "
        "— the P1 evidence: 2 of 6 columns scanned); HashAggregate "
        "partial -> Exchange -> HashAggregate final (map-side combine "
        "shrinks the shuffle to one row per key per partition) before "
        "the tiny lag/lead window."),
    "j7_golden_alignment": (
        "extraction UDF runs NARROW over the pages scan (ArrowEvalPython "
        "before any Exchange — blobs never shuffle); the alignment "
        "full-outer join shuffles only url + extracted text. The C4 "
        "line-filter fold (c4_kept_lines/c4_md5) is pure higher-order "
        "array expressions evaluated AFTER the join in the same "
        "codegen'd projection — no new UDF, no new Exchange."),
    "dedup_minhash_signatures": (
        "single Exchange keyed by doc_id; all 16 lanes min-aggregated in "
        "one pass with partial aggregation (the unpivot happens after "
        "the agg, on 16 small longs per doc)."),
    "sim_cosine_topk": (
        "whole-stage codegen over the zip_with/aggregate dot product "
        "(no Python), then TakeOrderedAndProject."),
    "sim_ann_lsh_query": (
        "NO Exchange before the top-k: the LSH bucket is computed inline "
        "on the scan and filtered immediately (scan -> Filter -> "
        "TakeOrderedAndProject). Round 1 carried an id-rejoin here that "
        "shuffled the whole embeddings table per query."),
    "sim_ivf_topk": (
        "NO Exchange before the top-k, and NO centroid literals in the "
        "expression tree: the cell id is an ArrowEvalPython over the "
        "BROADCAST centroid matrix (scales to k ~ 10^5-10^6 cells where "
        "inlined literals choke Catalyst), Filter prunes to "
        "~N/n_centroids rows, then TakeOrderedAndProject. Same "
        "join-removal as sim_ann_lsh_query."),
    "sim_ann_multiprobe": (
        "still NO Exchange: Hamming<=1 probing is one extra bit_count/XOR "
        "in the same Filter — scan -> Filter -> TakeOrderedAndProject."),
    "hidden_partition_lookup": (
        "Hidden partitioning (Iceberg partition-spec analog) composed "
        "with per-file blooms — the 100 TB point-lookup path: "
        "VersionedTable.read(where=[(\"url\",\"==\",u)]) on a "
        "bucket(16, url) layout plans 1/16 of the PARTITIONS driver-"
        "side through the spec (the user never materialized a bucket "
        "column and the query names only the source column), the url "
        "bloom then skips files inside the surviving bucket, and the "
        "FileScan's Location holds only the survivors with the exact "
        "residual as a normal Filter. At 10^12 documents this is the "
        "difference between a corpus scan and opening a handful of "
        "files."),
    "spec_evolution_pinned_prune": (
        "Partition-spec EVOLUTION (identity drop_id -> bucket(8, url)) "
        "with PER-SNAPSHOT spec resolution: the post-evolution latest "
        "read(where=[(\"url\",\"==\",u)]) prunes buckets through the "
        "NEW spec before any file manifest is read, while the "
        "PRE-evolution pin keeps pruning a drop_id equality through "
        "the OLD identity spec — each snapshot plans with the spec its "
        "data was laid out under (the Iceberg per-snapshot-spec rule), "
        "so a layout migration never breaks time travel or its I/O "
        "bounds. The captured plan is the post-evolution lookup: ONE "
        "FileScan over the surviving bucket's bloom-kept files."),
    "ivfpq_search_scan": (
        "IVFADC query (Jégou 2011 §IV-B) over a pre-built (id, cell, "
        "codes) index: scan -> Filter(cell IN probed) -> per-cell "
        "query-residual LUT selected by a codegen'd CASE on the cell "
        "column -> narrow ADC fold -> TakeOrderedAndProject. ZERO "
        "Exchange, zero joins: candidates are ranked in compressed form "
        "and never decompressed. The only query-specific state is the "
        "nprobe flattened LUTs (nprobe*m*ksub doubles — runtime arrays "
        "like any exact-path query vector); the codebook and centroid "
        "matrices never enter the plan, so the same shape holds at "
        "k ~ 10^5 cells and 10^12 codes."),
    "ivfpq_batch_search": (
        "the batched query-workload shape (ivf_pq_search_batch): ONE "
        "scan of the materialized codes table joined to the per-query "
        "(qid, cell, residual-LUT) table via BroadcastHashJoin on the "
        "cell column (look for BroadcastExchange on the tiny LUT side), "
        "the ADC fold reading the joined LUT array inside codegen, and "
        "one window per qid for the top-k — with WindowGroupLimit "
        "pushed BELOW the Exchange, so each map-side partition forwards "
        "at most k rows per qid (id + cell + m small ints), never the "
        "probed population. Q queries never re-scan the index; at "
        "10^12 codes this is the only shape that amortizes the scan "
        "across a query batch."),
    "ann_index_encode": (
        "the derived ANN index's sync transform (plans/ann_index.py): "
        "embed_text's MLP forward and ivf_pq_encode's "
        "cell+residual-codes pass FUSED by Catalyst into a single "
        "ArrowEvalPython stage (enc(fwd(text)) — one Python round-trip, "
        "not two) over the pruned scan, ZERO Exchange anywhere, and NO "
        "model literals in the plan (centroids/codebooks ship as Spark "
        "broadcasts; the MLP weights live in the per-worker singleton). This is the "
        "per-drop cost of keeping the semantic index in step with the "
        "corpus: embed+encode of the changed keys only, never a "
        "shuffle of vectors."),
    "curation_pipeline": (
        "the text column appears in NO Exchange beyond the tiny-input "
        "pre-spread (a no-op at corpus scale): repetition features are "
        "computed narrow on the scan, the quality gate applies before "
        "the survivor join, and the r3 decontamination stage probes a "
        "BroadcastExchange of the benchmark shingle-hash set (look for "
        "BroadcastHashJoin on shh) before one partial-aggregated per-doc "
        "count — so every data-bearing shuffle carries only ids + small "
        "stats (the dedup groupBy ships md5+id)."),
    "text_quality_score": (
        "model_quality_scores keeps the classifier a TABLE: the (word, "
        "weight) vocabulary arrives via BroadcastExchange into a "
        "BroadcastHashJoin (LEFT) under the narrow word explode — no "
        "weight literals in the expression tree, no UDF (sigmoid is "
        "whole-stage codegen) — followed by ONE partial-aggregated "
        "per-doc (count, weighted-sum) shuffle carrying ids + two "
        "numbers; the shallow-feature branch stays narrow on the scan."),
    "j8_asof_join": (
        "ONE shuffle keyed by user_id feeding a single in-partition sort "
        "+ running window (last ignorenulls) — no per-left-row probe "
        "join, no range explosion; the union of both sides rides the "
        "same Exchange."),
    "dedup_embedding_cosine": (
        "banded LSH near-dup: ONE posexplode to (id, band, bucket), one "
        "self-join keyed on (band, bucket) — never a cross join — and NO "
        "pair-dedup Exchange: multi-band collisions are removed by the "
        "first-matching-band filter (both sides carry the n_bands hash "
        "array), so exact cosine runs once per surviving pair."),
    "dedup_ngram_jaccard": (
        "shingle document-frequency cap BEFORE the inverted-index "
        "self-join (df <= 5 filter on the aggregated shingle counts) — "
        "bounds per-key fan-out to df*(df-1)/2 candidate pairs; without "
        "it common shingles are hot keys with near-quadratic blowup."),
    "text_token_counts": (
        "the shard-packing prefix sum shuffles ONCE with Exchange "
        "hashpartitioning(_b) — NEVER Exchange SinglePartition, which is "
        "what the naive global Window.orderBy cumsum (the DuckDB "
        "oracle's spelling) would plan — with the per-bucket offsets "
        "arriving via BroadcastExchange; the window sort runs parallel "
        "across the 64 contiguous hash ranges."),
    "dedup_exact": (
        "incremental dedup vs a history above "
        "spark.sql.autoBroadcastJoinThreshold (captured with the "
        "threshold at -1; a smaller history is one BroadcastHashJoin "
        "LeftAnti with no Python pass): the Bloom membership probe is an "
        "ArrowEvalPython NARROW on the batch scan (mask arrives per "
        "executor as a Spark broadcast variable — constant-size, "
        "invisible to the plan), so the definite-new branch reaches the "
        "union with NO join; only Bloom-positive rows (true dups + fp) "
        "enter the anti-join against the history fingerprints, and every "
        "Exchange on that path carries (hash, id)-sized rows, never "
        "text. The exact-dedup groupBy keeps its single "
        "partial-aggregated Exchange on md5."),
    "extract_html_roundtrip": (
        "ZERO Exchange: the extraction UDF, the outlink UDF (tokenizer "
        "reuse), and the head-metadata UDF (early-exit head tokenization) "
        "all evaluate in ONE ArrowEvalPython node directly over the "
        "documents scan — page bytes never shuffle — and link "
        "resolution + host cut are higher-order-array expressions inside "
        "the same codegen stage (no fourth UDF, no join)."),
    "documents_enriched": (
        "URL canonicalization and every enrichment column are pure "
        "codegen'd expressions on the scan (no UDF); the keep-latest "
        "grouping is ONE partial-aggregated Exchange keyed by url_canon "
        "carrying (ts, id) only; PageRank runs entirely on the "
        "host-grain side graph (rows bounded by host count, not docs) "
        "and its 3 iterations rejoin the doc stream via "
        "BroadcastExchange — the doc-grain path shuffles once for the "
        "canonical-url group and once to rejoin keepers, both "
        "id+url-sized. Late folds keep that shape: the inbound-anchor "
        "summary is host-grain (two partial-aggregated groupBys over "
        "(host, anchor) rows) and rejoins via BroadcastExchange like "
        "PageRank; the robots verdict is one BroadcastHashJoin of the "
        "tiny per-host rule table whose residual is a CASE: plain "
        "prefix rules match via codegen'd startswith, only wild-flagged "
        "rules pay regexp_like (non-literal pattern, recompiled per "
        "residual evaluation — bounded by URLs-on-wildcard-hosts x "
        "that host's wildcard rules) + one partial-aggregated "
        "struct-max keyed by doc_id — no new corpus-grain shuffle "
        "carries more than ids + small values."),
    "sim_ivf_assign_histogram": (
        "SemDeDup fold: the (id, vector, cell) working set is assigned "
        "ONCE — one ArrowEvalPython over the BROADCAST centroid matrix "
        "(no centroid literals), persisted, and all three consumers "
        "(output + both pair-join sides) read InMemoryTableScan instead "
        "of Catalyst inlining the scan+UDF subtree three times (the "
        "unpersisted plan also re-evaluated the UDF per side for the "
        "join-key null-filter — four UDF passes total); the quadratic "
        "pair term is an equi-self-join keyed ON the cell id (never a "
        "cartesian — the id< and cosine predicates are post-join "
        "Filters), so per-cell work is bounded by N/k rows and AQE "
        "splits any degenerate cell; the removal flag rejoins through "
        "an id-keyed equi join whose build side carries ids only — "
        "deliberately NOT broadcast, since at the paper's removal rates "
        "(up to ~50%) the removed set is O(N); the output-side join "
        "prunes the vector column (check the left Sort's schema: "
        "vec_id + centroid only)."),
    "text_lang_id": (
        "bigram-LM perplexity + DSIR fold, FUSED: ONE narrow "
        "(id, w1, w2) explode scores both models (lm_ppl_and_dsir) — "
        "every trained LM stays a TABLE arriving via BroadcastExchange "
        "into BroadcastHashJoins (no count literals; the "
        "log-prob/log-ratio arithmetic is whole-stage codegen, no "
        "UDF), and BOTH per-doc aggregates (ppl + dsir) ride the SAME "
        "single partial-aggregated Exchange carrying (id, double, "
        "double); the two training subtrees are each one explode + ONE "
        "partial-aggregated groupBy bounded by distinct-bigram count, "
        "both persisted (InMemoryTableScan) — document text never "
        "crosses an Exchange anywhere. The CCNet tercile fold adds "
        "only grid-bounded work: the (lang, ppl) histogram is one "
        "partial-aggregated HashAggregate, its cumulative Window "
        "partitions by language over DISTINCT rounded scores (never "
        "corpus rows — a per-group ntile would sort the hot language "
        "in one partition), and the per-language thresholds rejoin "
        "via BroadcastExchange."),
    "text_repetition_stats": (
        "r4 ExactSubstr REMOVAL fold: the positional k-gram pass is ONE "
        "partial-aggregated HashAggregate on the 60-bit gram hash — the "
        "exploded rows carry (id, pos, hash), never text — and the "
        "duplicated positions return as ONE sorted int array per "
        "affected doc (collect_list groupBy keyed by doc_id), a table "
        "orders of magnitude under corpus size that AQE turns into a "
        "BroadcastHashJoin back onto the narrow scan; the window-union "
        "cut + word-grain reassembly (clean_md5) are higher-order array "
        "expressions in the SAME codegen projection — no UDF, and the "
        "document text never crosses an Exchange."),
    "ingest_drop_pipeline": (
        "the per-drop unit of plans/ingest_job.py (staged pages -> "
        "incremental dedup vs the fingerprint history -> extraction), "
        "for a history above spark.sql.autoBroadcastJoinThreshold "
        "(captured with the threshold at -1 while the dedup is built; a "
        "smaller history is one BroadcastHashJoin LeftAnti of the staged "
        "scan against the distinct _h, with no Python pass and no job "
        "before the drop's first action): the Bloom membership probe is "
        "an ArrowEvalPython "
        "NARROW on the staged scan (mask is a broadcast variable), the "
        "definite-new branch reaches the extraction UDF with NO join, "
        "only Bloom-positive rows enter the anti-join against the "
        "(_h)-only history scan (hash-sized Exchanges), the extraction "
        "UDF evaluates before the plan's single blob-free clustering "
        "Exchange — page bytes never shuffle anywhere, the history "
        "side never reads its payload (ReadSchema: _h only), and the "
        "hot-host skew stats come from the STAGED scan (url column), "
        "never a re-run of the dedup subtree (the r4 capture caught "
        "exactly that and run_ingest_job now passes hot= explicitly)."),
    "mor_pending_delete_scan": (
        "VersionedTable.read() with ONE PENDING merge-on-read delete "
        "(metadata-only takedown, not yet applied): a Union of exactly "
        "TWO whole-stage-codegen FileScans — the unaffected partitions' "
        "scan runs UNFILTERED (their stats proved no row can match at "
        "delete time, or their data postdates the delete), and only the "
        "affected partitions' scan pays one codegen'd "
        "Filter NOT(pred <=> true). No Exchange is added and no data "
        "file was rewritten. At 100 TB: scan-group count is bounded by "
        "the number of PENDING deletes (a handful between maintenance "
        "runs), never by partition count, so a takedown costs one "
        "manifest line at delete time and one trivial residual filter "
        "over the bounded affected subset at read time — until "
        "apply_deletes bakes it in and even that filter disappears."),
    "cdc_changes_scan": (
        "VersionedTable.read_changes(k) after one drop appended and one "
        "recrawl-merge rewrote a partition: a Union whose FileScans "
        "touch ONLY the changed partitions' directories — the appended "
        "partition feeds the insert branch scan-only (no join, no "
        "Exchange beyond the read), and the one REWRITTEN partition "
        "pays the row-level multiset diff (exceptAll each way: "
        "HashAggregate shuffles over that partition's rows alone). "
        "Unchanged partitions appear NOWHERE in the plan. At 100 TB "
        "the changelog for a daily drop costs the drop's own rows plus "
        "the recrawl-affected partitions — never a corpus scan, which "
        "is what lets a downstream tokenize/pack consumer reconcile a "
        "merge_latest recrawl instead of rebuilding."),
    "derived_keyed_reconcile": (
        "The reconcile frame sync_keyed commits after one drop appended "
        "to the source (the per-sync unit of run_shards_job, mirrored "
        "from plans/derived.py): a Union of (a) the AFFECTED derived "
        "buckets' rows anti-joined against the touched keys and (b) the "
        "re-derived chunks of the source changelog's inserted rows. "
        "FileScans touch ONLY the affected buckets' derived dirs plus "
        "the source's changed partitions — unchanged derived buckets "
        "and unchanged source partitions appear NOWHERE in the plan, "
        "so a daily sync of a 100 TB shard table costs the drop's own "
        "rows plus the touched buckets' rewrite, never a corpus or "
        "shard-table rescan. The anti-join's key side is the changelog "
        "keys (drop-sized): broadcast when small, degrading to a hash "
        "join on a giant drop without breaking the pruning."),
    "dedup_components_star_round": (
        "ONE large-star/small-star round (the per-iteration unit of the "
        "registered dedup_cluster_components query): state is the EDGE "
        "LIST only — every shuffle is either a partial-aggregated "
        "HashAggregate min keyed by src or an equi-join on src, so "
        "per-round traffic is O(|E|) with map-side combine and no "
        "(node, label) table rides along. High-degree hubs split by "
        "construction (large-star re-points all larger neighbors at the "
        "neighborhood min), so skew DECAYS round over round instead of "
        "recurring as it would in a per-round label join — but the "
        "FIRST round's equi-join on src still sees the raw hub degree "
        "(only the aggregate mins are skew-free via partial agg), so "
        "keep AQE skewJoin enabled for that stage. "
        "The INITIAL plan below shows the large-star subtree three times "
        "(feeding smins and both join sides) — verified NOT to "
        "re-execute: the final adaptive plan reuses the identical "
        "shuffle stages (3 ReusedExchange nodes, 7 distinct "
        "ShuffleQueryStages from the 11 static Exchanges)."),
}


def main() -> None:
    from ocr_spark.plans.extract_job import extract_pages
    from ocr_spark.queries import all_queries
    from ocr_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    specs = {s.name: s for s in all_queries()}
    slots = spark.sparkContext.defaultParallelism

    out = ["# Physical plans (captured by scripts/capture_plans.py)",
           "",
           "Each plan was iterated until it is the plan we would want on a "
           "1000-executor cluster; the property stated above each dump is "
           "the thing to re-check after any change.", ""]

    corpus = os.path.join(REPO, "BENCH", "corpus_5000_42")
    if not os.path.exists(os.path.join(corpus, "pages.parquet")):
        # self-sufficient on a fresh clone (BENCH/corpus_* is gitignored)
        from ocr_spark.synth import write_corpus
        write_corpus(corpus, 5000, seed=42)
    extra_note: dict[str, str] = {}
    threshold = spark.conf.get(THRESHOLD)
    for name, prop in CHECKS.items():
        if name in BLOOM_PATH:
            spark.conf.set(THRESHOLD, "-1")
        if name == "extract_flagship":
            # Size scan splits >= slots (bench.py _split_conf discipline):
            # otherwise extract_pages' tiny-input escape hatch pre-spreads
            # with a blob-shuffling round-robin Exchange and the captured
            # plan contradicts the narrow-UDF property it documents.
            pages_path = f"{corpus}/pages.parquet"
            mpb = max(1 << 20, min(32 << 20,
                                   os.path.getsize(pages_path)
                                   // (slots * 3)))
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
            df = extract_pages(
                spark.read.parquet(pages_path),
                n_buckets=64, salt_n=8)
        elif name == "ingest_drop_pipeline":
            # mirror run_ingest_job's per-drop unit over a staged pages
            # table + a fingerprint-only history (the job's real shapes)
            from ocr_spark.operators.dedup import (
                dedup_incremental_vs_hashes)
            from ocr_spark.operators.hashing import md5long
            from pyspark.sql import functions as F
            pages_path = f"{corpus}/pages.parquet"
            mpb = max(1 << 20, min(32 << 20,
                                   os.path.getsize(pages_path)
                                   // (slots * 3)))
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
            staged = spark.read.parquet(pages_path)
            hist_dir = os.path.join(REPO, "BENCH", "_plans_hist")
            if not os.path.exists(hist_dir):
                (staged.limit(500)
                 .select(md5long(F.col("html")).alias("_h"))
                 .write.mode("overwrite").parquet(hist_dir))
            hist_h = spark.read.parquet(hist_dir).select("_h")
            new_pages = dedup_incremental_vs_hashes(
                staged, hist_h, md5long(F.col("html")))
            from ocr_spark.functions.bucketing import (
                SKEW_FACTOR, hot_hosts)
            df = extract_pages(new_pages, n_buckets=64, salt_n=8,
                               hot=hot_hosts(staged, SKEW_FACTOR))
        elif name == "filestats_skipped_scan":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vtstats"))
            if not vt.snapshots():
                base = (spark.range(0, 20_000)
                        .select(F.col("id").alias("seq"),
                                (F.col("id") % 4).cast("int")
                                .alias("drop_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
                        .repartitionByRange(8, "seq")
                        .sortWithinPartitions("seq"))
                vt.commit(base, "drop_id", stats_cols=["seq"])
            skipped = vt.plan_files(
                where=[("seq", "between", (1000, 1999))])
            df = vt.read(where=[("seq", "between", (1000, 1999))])
            extra_note[name] = (
                f"plan_files: kept {len(skipped['files'])} of "
                f"{skipped['files_total']} files "
                f"({skipped['files_skipped']} skipped driver-side)")
        elif name == "sortorder_compacted_scan":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vtsort"))
            if not vt.snapshots():
                # hash-scattered small files: every file spans the
                # whole seq range, so pre-compaction the narrow scan
                # keeps everything
                base = (spark.range(0, 20_000)
                        .select(F.col("id").alias("seq"),
                                (F.col("id") % 2).cast("int")
                                .alias("drop_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
                        .repartition(8))
                vt.commit(base, "drop_id",
                          sort_order=["seq"], stats_cols=["seq"])
                pre = vt.plan_files(
                    where=[("seq", "between", (1000, 1999))])
                sid, st = vt.rewrite_files(target_bytes=120_000)
                extra_note[name] = (
                    f"pre-compaction (hash-scattered files): kept "
                    f"{len(pre['files'])} of {pre['files_total']}; ")
            else:
                extra_note[name] = ""
            skipped = vt.plan_files(
                where=[("seq", "between", (1000, 1999))])
            df = vt.read(where=[("seq", "between", (1000, 1999))])
            extra_note[name] = (extra_note.get(name, "") + (
                f"after a BARE rewrite_files() (sort order inherited): "
                f"kept {len(skipped['files'])} of "
                f"{skipped['files_total']} files "
                f"({skipped['files_skipped']} skipped driver-side)"))
        elif name == "merge_latest_probe":
            # the exact probe expression merge_into builds, over a real
            # VersionedTable holding a payload column — pruning must
            # keep the payload out of the probe's ReadSchema
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH", "_plans_vt"))
            if not vt.snapshots():
                base = (spark.read.parquet(f"{corpus}/pages.parquet")
                        .select("url", F.col("html").alias("payload"))
                        .limit(2000)
                        .withColumn("drop_id", F.pmod(
                            F.xxhash64("url"), F.lit(4)).cast("int")))
                vt.commit(base, "drop_id")
            keys = (vt.read().select("url").limit(50).distinct())
            df = (vt.read().join(keys, ["url"], "semi")
                  .select("drop_id").distinct())
        elif name == "mor_pending_delete_scan":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vtmor"))
            if not vt.snapshots():
                # url-range-clustered partitions (each drop a disjoint
                # url range) so the delete's stats probe bounds its
                # affected set to ONE partition of eight
                base = (spark.range(0, 20_000)
                        .select(F.format_string("u%07d", F.col("id"))
                                .alias("url"),
                                F.floor(F.col("id") * 8 / 20_000)
                                .cast("int").alias("drop_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
                        .repartitionByRange(4, "url")
                        .sortWithinPartitions("url"))
                vt.commit(base, "drop_id", stats_cols=["url"])
                vt.delete_where([("url", "==", "u0002500")],
                                mode="merge_on_read")
            dels = vt._deletes_upto(None)
            aff = dels[-1].get("affected") or []
            extra_note[name] = (
                f"1 pending merge-on-read delete, affected {len(aff)} "
                f"of 8 partitions (stats-bounded at delete time) — the "
                f"other {8 - len(aff)} partitions scan UNFILTERED")
            df = vt.read()
        elif name == "cdc_changes_scan":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vtcdc"))
            if not vt.snapshots():
                base = (spark.range(0, 16_000)
                        .select(F.format_string("u%07d", F.col("id"))
                                .alias("url"),
                                F.pmod(F.xxhash64("url"), F.lit(8))
                                .cast("int").alias("drop_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload")))
                vt.commit(base, "drop_id")
                # one appended partition + one recrawl-merge rewriting
                # a single existing partition
                vt.commit(base.limit(500)
                          .withColumn("drop_id", F.lit(8)), "drop_id")
                src = (vt.read(partitions=[3]).limit(40)
                       .withColumn("payload", F.lit("recrawled")))
                vt.merge_into(src, ["url"])
            ch = vt.read_changes(1)
            touched = {f.split("/_pv=")[-1].split("/")[0]
                       for f in ch.inputFiles() if "/_pv=" in f}
            extra_note[name] = (
                f"partitions scanned: {sorted(touched)} of 9 live — "
                f"the appended drop (8), the rewritten partition (3) "
                f"at both endpoints, and nothing else")
            df = ch
        elif name == "derived_keyed_reconcile":
            import shutil
            from pyspark.sql import functions as F
            from ocr_spark.operators.textstats import chunk_documents
            from ocr_spark.plans.derived import run_shards_job
            from ocr_spark.sources.io import VersionedTable
            droot = os.path.join(REPO, "BENCH", "_plans_vtderived")
            sroot, shroot = (os.path.join(droot, "src"),
                             os.path.join(droot, "shards"))
            if os.path.exists(droot):
                shutil.rmtree(droot)
            vt = VersionedTable(spark, sroot)
            base = (spark.range(0, 8_000)
                    .select(F.format_string("u%07d", F.col("id"))
                            .alias("url"),
                            F.pmod(F.xxhash64("url"), F.lit(8))
                            .cast("int").alias("drop_id"),
                            F.concat_ws(" ", *[
                                F.md5(F.concat_ws("-", "id", F.lit(i)))
                                for i in range(20)])
                            .alias("extracted_text")))
            vt.commit(base, "drop_id")
            run_shards_job(spark, sroot, shroot, chunk_tokens=8,
                           n_buckets=16)
            vt.commit(base.limit(10).withColumn("drop_id", F.lit(8))
                      .withColumn("url", F.concat(F.lit("new-"),
                                                  "url")),
                      "drop_id")
            # mirror sync_keyed's reconcile frame (plans/derived.py)
            dst = VersionedTable(spark, shroot)
            ch = vt.read_changes(1)
            ins = (ch.where(F.col("_change_type") == "insert")
                   .drop("_change_type"))
            touched = ch.select("url").distinct()
            bucket = F.pmod(F.xxhash64("url"), F.lit(16)).cast("int")
            buckets = sorted({r[0] for r in touched
                              .select(bucket.alias("b"))
                              .distinct().collect()})
            keep = (dst.read(partitions=buckets)
                    .join(touched, "url", "left_anti"))
            new_rows = (chunk_documents(
                ins.select("url", "extracted_text"), "url",
                "extracted_text", 8, None)
                .withColumn("shard_bucket", bucket))
            df = keep.unionByName(new_rows)
            src_parts = {f.split("/_pv=")[-1].split("/")[0]
                         for f in ins.inputFiles() if "/_pv=" in f}
            shard_parts = {f.split("/_pv=")[-1].split("/")[0]
                           for f in keep.inputFiles() if "/_pv=" in f}
            extra_note[name] = (
                f"source partitions read: {sorted(src_parts)} of 9 "
                f"live (the appended drop only); derived buckets "
                f"read: {len(shard_parts)} of 16 (the touched keys' "
                f"buckets only)")
        elif name == "hidden_partition_lookup":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vthidden"))
            if not vt.snapshots():
                base = (spark.range(0, 40_000)
                        .select(F.format_string("https://h%03d.example"
                                                "/p%07d",
                                                F.pmod(F.col("id"),
                                                       F.lit(199)),
                                                F.col("id"))
                                .alias("url"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
                        .repartition(4))
                vt.commit(base, "url",
                          partition_transform=("bucket", 16),
                          bloom_cols=["url"])
            u = "https://h192.example/p0030042"  # id 30042: 30042%199
            skipped = vt.plan_files(where=[("url", "==", u)])
            df = vt.read(where=[("url", "==", u)])
            extra_note[name] = (
                f"spec pruned {skipped['partitions_pruned']} of 16 "
                f"buckets driver-side; inside the surviving bucket the "
                f"url bloom kept {len(skipped['files'])} of "
                f"{skipped['files_total']} files")
        elif name == "spec_evolution_pinned_prune":
            from pyspark.sql import functions as F
            from ocr_spark.sources.io import VersionedTable
            vt = VersionedTable(spark,
                                os.path.join(REPO, "BENCH",
                                             "_plans_vtevolve"))
            if not vt.snapshots():
                base = (spark.range(0, 20_000)
                        .select(F.format_string("https://e%03d.example"
                                                "/p%06d",
                                                F.pmod(F.col("id"),
                                                       F.lit(97)),
                                                F.col("id"))
                                .alias("url"),
                                F.pmod(F.col("id"), F.lit(8))
                                .cast("int").alias("drop_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
                        .repartition(4))
                vt.commit(base, "drop_id", bloom_cols=["url"])
                vt.evolve_partition_spec("url", ("bucket", 8),
                                         layout_partitions=8)
            u = vt.read().agg(F.min("url")).collect()[0][0]
            pre = vt.plan_files(snapshot_id=1,
                                where=[("drop_id", "==", 3)])
            post = vt.plan_files(where=[("url", "==", u)])
            extra_note[name] = (
                f"pre-evolution pin pruned {pre['partitions_pruned']} "
                f"of 8 identity partitions on drop_id; post-evolution "
                f"latest pruned {post['partitions_pruned']} of 8 "
                f"buckets on url and kept {len(post['files'])} of "
                f"{post['files_total']} files via the bloom")
            df = vt.read(where=[("url", "==", u)])
        elif name == "ivfpq_search_scan":
            from pyspark.sql import functions as F
            from ocr_spark.operators import similarity as S2
            from ocr_spark.queries import load
            from ocr_spark.queries.similarity_q import (
                _PQ_CB, _centroids, _query_vec)
            emb = load(spark, SF, "embeddings")
            cents = _centroids(spark, SF)
            qv = _query_vec(spark, SF)
            enc = S2.ivf_pq_encode(emb.where(F.col("vec_id") != 0),
                                   "vec_id", "embedding", cents, _PQ_CB)
            # capture the SEARCH over a materialized index (the
            # production shape: encode once, query many) — explain on
            # the composed frame would inline the encode pass
            idx_dir = os.path.join(REPO, "BENCH", "_plans_ivfpq")
            if not os.path.exists(idx_dir):
                enc.write.parquet(idx_dir)
            idx = spark.read.parquet(idx_dir)
            df = S2.ivf_pq_search(idx, "vec_id", qv, cents, _PQ_CB,
                                  k=5, nprobe=2)
        elif name == "ivfpq_batch_search":
            from pyspark.sql import functions as F
            from ocr_spark.operators import similarity as S2
            from ocr_spark.queries import load
            from ocr_spark.queries.similarity_q import (
                _PQ_CB, _centroids)
            emb = load(spark, SF, "embeddings")
            cents = _centroids(spark, SF)
            idx_dir = os.path.join(REPO, "BENCH", "_plans_ivfpq")
            if not os.path.exists(idx_dir):
                S2.ivf_pq_encode(emb.where(F.col("vec_id") != 0),
                                 "vec_id", "embedding", cents,
                                 _PQ_CB).write.parquet(idx_dir)
            idx = spark.read.parquet(idx_dir)
            qdf = spark.createDataFrame(
                [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                 for r in emb.orderBy("vec_id").limit(8).collect()],
                "qid int, qvec array<double>")
            df = S2.ivf_pq_search_batch(idx, "vec_id", qdf, "qid",
                                        "qvec", cents, _PQ_CB, k=5,
                                        nprobe=2)
        elif name == "ann_index_encode":
            from pyspark.sql import functions as F
            from ocr_spark.operators import embedding as E2
            from ocr_spark.operators import similarity as S2
            from ocr_spark.queries import load
            docs = load(spark, SF, "documents").select(
                F.col("doc_id").cast("string").alias("url"),
                F.col("text").alias("extracted_text"))
            feat = E2.MLPFeaturizer()
            T = [r["extracted_text"] or ""
                 for r in docs.limit(6).collect()]
            Emat = feat.embed(T)
            cents8 = [row.tolist() for row in Emat[:4]]
            cb8 = [[Emat[i][sub * 2:(sub + 1) * 2].tolist()
                    for i in range(4)] for sub in range(4)]
            emb8 = E2.embed_text(docs, "url", "extracted_text")
            df = S2.ivf_pq_encode(emb8, "url", "emb", cents8, cb8)
        elif name == "dedup_components_star_round":
            # The registered dedup_cluster_components query is iterative
            # (eager checkpoints between rounds), so its final plan is a
            # union over checkpointed RDD scans — capture the ROUND
            # transformation instead, over the same candidate pairs the
            # query feeds it.
            from ocr_spark.operators import dedup as D
            from ocr_spark.queries.dedup_q import BAND_SIZE, N_HASHES
            from ocr_spark.queries import load
            d = load(spark, SF, "documents")
            sig = D.minhash_signatures(d, "doc_id", "text", N_HASHES)
            buckets = D.lsh_band_buckets(sig, "doc_id", BAND_SIZE)
            pairs = D.lsh_candidate_pairs(buckets, "doc_id")
            # Rounds execute over the PREVIOUS round's eager checkpoint
            # (lineage truncated), so the per-round plan as actually run
            # starts from the checkpoint scan — mirror that here, or the
            # dump inlines the whole minhash pipeline several times over.
            edges = D._canonical_edges(pairs).localCheckpoint(eager=True)
            df = D._star_round(edges)
        else:
            df = specs[name].spark(spark, SF)
        spark.conf.set(THRESHOLD, threshold)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"**Must hold at scale:** {prop}", ""]
        if name in extra_note:
            out += [f"**Measured:** {extra_note[name]}", ""]
        out += ["```", buf.getvalue().rstrip(), "```", ""]

    path = os.path.join(REPO, "docs", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
