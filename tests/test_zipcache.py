"""The stamp-checked ``zipimporter.invalidate_caches``
(``ocr_spark/zipcache.py``): an unchanged archive is not re-read, a
replaced one is, and its new modules import; installing again is a
no-op. The Spark test checks a Python worker that imported the package.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write the archive beside ``path`` and rename it over: a new
    file, as a package install replaces one."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` is called with."""
    seen: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, {"zc_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    import zc_first
    assert zc_first.X == 1
    assert isinstance(sys.path_importer_cache[zip_on_path],
                      zipimport.zipimporter)
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0


def test_replaced_archive_is_reread(zip_on_path, reads):
    import zc_first  # noqa: F401
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zc_first.py": "X = 1\n",
                             "zc_second.py": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    import zc_second
    assert zc_second.Y == 2


def test_install_twice_wraps_once():
    zipcache.install()  # the package import installed it already
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped._stamp_checked
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_worker_invalidate_reads_no_archive(spark):
    # nested, so it pickles by value: a worker cannot import this module
    def probe(s: pd.Series) -> pd.Series:
        """In a worker, after ``import ocr_spark``: the archives one
        ``invalidate_caches()`` reads (each at most once, however many
        importers share it), then the archives a second call reads."""
        import importlib
        import zipimport

        import ocr_spark  # noqa: F401

        seen: list[str] = []
        orig = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = list(seen)
            del seen[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        out = f"{len(first)},{len(set(first))},{len(seen)}"
        return pd.Series([out] * len(s))

    udf = F.pandas_udf(probe, "string")
    got = {r[0] for r in spark.range(8).repartition(4)
           .select(udf(F.col("id").cast("string"))).collect()}
    for row in got:
        first, first_distinct, second = map(int, row.split(","))
        assert first == first_distinct, row
        assert second == 0, row
