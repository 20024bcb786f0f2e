"""The workloads. Each is a closed loop with one client: the next job,
drop or lookup starts when the previous one has finished.

A workload object owns its inputs and output directory. ``synthesize``
(pure Python) and ``prepare`` (Spark) make up its set-up; ``unit`` is
one timed unit of work (an extraction job or one WARC drop); ``verify``
checks every output against the oracle; ``lookup`` is one point lookup.
Correctness counts go through ``self.check``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

import inputs


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def data_files(path: str) -> dict[str, int]:
    """parquet data file -> size, under ``path``."""
    return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")}


class Workload:
    name = ""
    LOOKUPS = 0         # timed point lookups of a traced run
    WARM_LOOKUPS = 0    # checked, untimed lookups before them
    TINY: dict = {}     # input sizes of the self-test

    def __init__(self, spark, work: str, seed: int, cores: int) -> None:
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.takedown_s = 0.0
        self.corrupt = False      # self-test: one oracle text is wrong
        self.corrupted = None
        # per timed unit: data files and bytes the unit wrote to the
        # results table, and the bytes it rewrote in partitions other
        # than its own
        self.unit_stats: list[dict] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def expect(self, key, text: str) -> str:
        """The oracle text a check compares against; with ``corrupt``
        set, the first key checked gets a wrong one."""
        if self.corrupt and self.corrupted is None:
            self.corrupted = key
        return text + " [corrupted]" if key == self.corrupted else text

    def lookup_keys(self) -> list[str]:
        rng = random.Random(self.seed * 7919 + 1)
        return inputs.lookup_keys(rng, sorted(self.expected_rows()),
                                  self.WARM_LOOKUPS + self.LOOKUPS)

    def lookup(self, url: str) -> list[str]:
        return [r[0] for r in
                self.point_read(url).select("extracted_text").collect()]

    def check_lookup(self, url: str, got: list[str],
                     want: dict[str, str]) -> None:
        self.check(got == ([want[url]] if url in want else []),
                   f"lookup {url}: {len(got)} rows")


class BulkExtract(Workload):
    """``run_extract_job`` with the plain sink over a stored pages table,
    a fresh ``out_dir`` per job."""

    name = "bulk_extract"
    N_PAGES = 2000
    WARM_PAGES = 100
    TINY = {"N_PAGES": 120, "WARM_PAGES": 20}

    def synthesize(self) -> None:
        self.pages, self.oracle = inputs.bulk_corpus(self.seed, self.N_PAGES)

    def prepare(self) -> None:
        from ocr_spark.plans.extract_job import run_extract_job

        self.table = os.path.join(self.work, "pages")
        inputs.write_pages_table(self.pages, self.table, 2 * self.cores)
        self.in_bytes = sum(len(p["html"] or b"") for p in self.pages)
        self.jobs = 0
        # Python worker start-up and plan warm-up, on a small table
        warm = os.path.join(self.work, "warm")
        inputs.write_pages_table(self.pages[:self.WARM_PAGES], warm,
                                 2 * self.cores)
        run_extract_job(self.spark, warm, os.path.join(self.work, "warm-out"))

    def unit(self) -> tuple[int, int]:
        from ocr_spark.plans.extract_job import run_extract_job

        self.out = os.path.join(self.work, f"out-{self.jobs}")
        self.jobs += 1
        st = run_extract_job(self.spark, self.table, self.out)
        self.check(st["completed"], f"job {self.out} incomplete")
        return len(self.pages), self.in_bytes

    def between_units(self) -> None:
        """Check the job's output, record what it wrote, and delete the
        output of the job before it (the last one stays for lookups)."""
        self.verify_job()
        new = data_files(os.path.join(self.out, "results"))
        self.unit_stats.append({"commit.files_written": len(new),
                                "commit.bytes_written": sum(new.values()),
                                "merge.bytes_rewritten": 0})
        if self.jobs > 1:
            shutil.rmtree(os.path.join(self.work, f"out-{self.jobs - 2}"))

    def verify(self) -> None:
        """Each job's output was checked as it finished."""

    def verify_job(self) -> None:
        from ocr_spark.sources.io import TableIO

        rows = TableIO(self.spark, self.out).read("results").select(
            "url", "extracted_text").collect()
        got = dict(rows)
        for url, want in self.oracle.items():
            self.check(got.get(url) == self.expect(url, want),
                       f"text differs: {url}")
        self.check(len(rows) == len(got) == len(self.oracle),
                   f"{len(rows)} result rows, {len(got)} urls, for "
                   f"{len(self.oracle)} pages")

    def expected_rows(self) -> dict[str, str]:
        return self.oracle

    def out_bytes(self) -> int:
        return tree_bytes(self.out)

    def input_bytes(self) -> int:
        return self.in_bytes

    def unit_pages(self) -> list[dict]:
        return self.pages


class RecrawlMerge(Workload):
    """WARC drops that recapture the same urls with changed content go
    through ``run_ingest_job(recrawl="merge_latest")`` with the near-dup
    gate off; then point lookups and one merge-on-read takedown. The
    bootstrap drop is set-up."""

    name = "recrawl_merge"
    UNIVERSE = 500
    DROP_PAGES = 250
    LOOKUPS = 40
    WARM_LOOKUPS = 5
    TINY = {"UNIVERSE": 60, "DROP_PAGES": 40, "LOOKUPS": 12}
    # Unverified placeholders, not measured recrawl statistics: per drop,
    # 60% changed recaptures, 20% byte-identical recaptures, the rest new
    # urls (see README.md, "The recrawl traffic shares").
    CHANGED_FRAC = 0.6
    EXACT_FRAC = 0.2

    def synthesize(self) -> None:
        self.drops = inputs.RecrawlDrops(self.seed, self.UNIVERSE,
                                         self.DROP_PAGES, self.CHANGED_FRAC,
                                         self.EXACT_FRAC, self.cores)
        # the bootstrap and the first timed drop are made in set-up;
        # later ones are made between drops, outside the timed region
        self.pending = [self.drops.make(k) for k in range(2)]
        self.taken_down: list[str] = []

    def prepare(self) -> None:
        self.warc = os.path.join(self.work, "warc")
        self.out = os.path.join(self.work, "out")
        os.makedirs(self.warc)
        self.placed: list = []
        self.files: dict[str, int] = {}
        self.unit()   # the bootstrap drop (worker warm-up included)
        self.between_units()

    def unit(self) -> tuple[int, int]:
        from ocr_spark.plans.ingest_job import run_ingest_job

        drop = self.pending.pop(0)
        drop.place(self.warc)
        self.placed.append(drop)
        st = run_ingest_job(self.spark, self.warc, self.out, n_buckets=8,
                            recrawl="merge_latest")
        self.check(st["completed"] and st["drops_run"] == 1,
                   f"{drop.name}: {st}")
        return len(drop.pages), drop.html_bytes

    def between_units(self) -> None:
        """Record the data files the drop added to the results table, and
        make the next drop, outside the timed region."""
        files = data_files(os.path.join(self.out, "results", "data"))
        new = {f: n for f, n in files.items() if f not in self.files}
        self.files = files
        own = "=" + self.placed[-1].name   # the drop's own partition dir
        self.unit_stats.append({
            "commit.files_written": len(new),
            "commit.bytes_written": sum(new.values()),
            "merge.bytes_rewritten": sum(
                n for f, n in new.items()
                if not os.path.dirname(f).endswith(own))})
        if not self.pending:
            self.pending.append(self.drops.make(len(self.placed)))

    def results(self):
        from ocr_spark.sources.io import VersionedTable

        return VersionedTable(self.spark, os.path.join(self.out, "results"))

    def point_read(self, url: str):
        return self.results().read(where=[("url", "==", url)])

    def out_bytes(self) -> int:
        return tree_bytes(self.out)

    def input_bytes(self) -> int:
        return sum(d.html_bytes for d in self.placed)

    def unit_pages(self) -> list[dict]:
        return [p for d in self.placed[1:] for p in d.pages]

    def expected_rows(self) -> dict[str, str]:
        want = self.drops.expected(self.placed)
        for url in self.taken_down:
            want.pop(url)
        return want

    def verify(self) -> None:
        want = self.expected_rows()
        rows = self.results().read().select("url", "extracted_text").collect()
        got: dict[str, list[str]] = {}
        for url, text in rows:
            got.setdefault(url, []).append(text)
        for url, text in want.items():
            self.check(got.get(url) == [self.expect(url, text)],
                       f"row of {url}: {got.get(url)}")
        self.check(len(got) == len(want) and len(rows) == len(want),
                   f"{len(rows)} rows, {len(got)} urls, want {len(want)}")

    def takedown(self) -> None:
        """One merge-on-read takedown of a present url, then check it
        is gone from a point lookup and from the full read."""
        want = sorted(self.expected_rows())
        url = want[self.seed % len(want)]
        t0 = time.perf_counter()
        sid, _ = self.results().delete_where([("url", "==", url)],
                                             mode="merge_on_read")
        self.takedown_s = time.perf_counter() - t0
        self.taken_down.append(url)
        self.check(sid is not None, "takedown committed nothing")
        self.check(self.point_read(url).count() == 0,
                   f"{url} visible after takedown")
        self.check(self.results().read().where(F.col("url") == url).count()
                   == 0, f"{url} in the full read after takedown")


WORKLOADS = {w.name: w for w in (BulkExtract, RecrawlMerge)}
