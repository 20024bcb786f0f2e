"""Seeded inputs for the workloads, and the oracle text they are
checked against.

Every input is a function of the ``--seed`` argument only. The program
under test sees the generated pages table and WARC files, never the
seed. The oracle is ``ocr_spark.core.extract.extract`` run in this
process, one page at a time.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.core.extract import extract
from ocr_spark.sources.warc import build_warc_bytes
from ocr_spark.synth import make_pages

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def oracle(html: bytes | None) -> str:
    return extract(html, None).text


def digest(html: bytes) -> bytes:
    return hashlib.md5(html).digest()


def _host(url: str) -> str:
    return url.split("/")[2]


def fresh_pages(rng: random.Random, n: int, prefix: str) -> list[dict]:
    """``n`` pages of make_pages' mix without its 5 MB page, under urls
    unique to ``prefix``."""
    rows = make_pages(n + 1, seed=rng.randrange(1 << 30))[1:]
    for i, p in enumerate(rows):
        p["url"] = f"https://{_host(p['url'])}/{prefix}/p{i:05d}"
    return rows


# ------------------------------------------------------------ bulk_extract

def bulk_corpus(seed: int, n_pages: int) -> tuple[list[dict], dict[str, str]]:
    """make_pages' full mix (articles, link farms, misnested and
    script-heavy pages, tables, ~5% PDFs, degenerate pages, one 5 MB
    page) and the oracle text per url."""
    pages = make_pages(n_pages, seed=seed)
    return pages, {p["url"]: oracle(p["html"]) for p in pages}


def write_pages_table(pages: list[dict], path: str, n_files: int) -> None:
    """A flat parquet pages table split over ``n_files`` files."""
    os.makedirs(path, exist_ok=True)
    for j in range(n_files):
        pq.write_table(pa.Table.from_pylist(pages[j::n_files],
                                            schema=PAGES_SCHEMA),
                       os.path.join(path, f"part-{j:03d}.parquet"),
                       row_group_size=256)


# ------------------------------------------------------------ WARC drops

class Drop:
    """One WARC drop: its pages and the WARC file bytes that carry them."""

    def __init__(self, name: str, pages: list[dict], n_files: int,
                 day: int) -> None:
        self.name = name
        self.pages = pages
        iso = (datetime(2025, 1, 1) + timedelta(days=day)).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        self.files = [build_warc_bytes([(p["url"], iso, p["html"])
                                        for p in pages[j::n_files]])
                      for j in range(n_files)]
        self.html_bytes = sum(len(p["html"]) for p in pages)

    def place(self, warc_dir: str) -> None:
        """Write the drop's files into a directory of its own; the ingest
        job sees it from then on."""
        tmp = os.path.join(warc_dir, "." + self.name)
        os.makedirs(tmp)
        for j, data in enumerate(self.files):
            with open(os.path.join(tmp, f"part-{j:03d}.warc.gz"), "wb") as f:
                f.write(data)
        os.rename(tmp, os.path.join(warc_dir, self.name))


class RecrawlDrops:
    """Drops for ``recrawl_merge``: a url universe recaptured with
    changed content, plus exact recaptures and a few new urls."""

    def __init__(self, seed: int, universe: int, drop_pages: int,
                 changed_frac: float, exact_frac: float, n_files: int) -> None:
        self.rng = random.Random(seed)
        self.universe, self.drop_pages, self.n_files = (
            universe, drop_pages, n_files)
        self.changed_frac, self.exact_frac = changed_frac, exact_frac
        self.current: dict[str, dict] = {}   # url -> its last capture
        self.oracle: dict[bytes, str] = {}

    def make(self, k: int) -> Drop:
        rng = self.rng
        name = f"drop-{k:04d}"
        if k == 0:
            pages = fresh_pages(rng, self.universe, "u")
        else:
            n_changed = int(self.drop_pages * self.changed_frac)
            n_exact = int(self.drop_pages * self.exact_frac)
            n_new = self.drop_pages - n_changed - n_exact
            urls = rng.sample(sorted(self.current), n_changed + n_exact)
            bodies = fresh_pages(rng, n_changed + n_new, name)
            pages = [{"url": u, "html": b["html"]}
                     for u, b in zip(urls[:n_changed], bodies)]
            pages += [dict(self.current[u]) for u in urls[n_changed:]]
            pages += bodies[n_changed:]
            rng.shuffle(pages)
        for p in pages:
            self.current[p["url"]] = p
            d = digest(p["html"])
            if d not in self.oracle:
                self.oracle[d] = oracle(p["html"])
        return Drop(name, pages, self.n_files, k)

    def expected(self, placed: list[Drop]) -> dict[str, str]:
        """The table ``merge_latest`` should hold after ``placed``: per
        url, the text of its newest capture whose bytes no earlier drop
        carried."""
        latest: dict[str, str] = {}
        seen: set[bytes] = set()
        for drop in placed:
            ds = [digest(p["html"]) for p in drop.pages]
            for p, d in zip(drop.pages, ds):
                if d not in seen:
                    latest[p["url"]] = self.oracle[d]
            seen.update(ds)
        return latest


def lookup_keys(rng: random.Random, present: list[str], n: int,
                absent_frac: float = 0.25) -> list[str]:
    """A seeded mix of urls in the table and urls never placed. The
    absent share is an unverified placeholder (see README.md)."""
    n_absent = int(n * absent_frac)
    keys = rng.sample(present, n - n_absent)
    keys += [f"https://absent.example.org/q{rng.randrange(1 << 30)}"
             for _ in range(n_absent)]
    rng.shuffle(keys)
    return keys
