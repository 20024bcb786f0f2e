"""The attempt counter both checkpoint manifests share: a counter write
that fails part-way must leave the previous count readable, or the next
attempt reuses an earlier number and ``latest_metrics`` keeps both
attempts' rows. It must not leave its temp file behind either."""

from __future__ import annotations

import builtins
import errno
import os

import pytest

from ocr_spark.plans.ingest_job import DropManifest
from ocr_spark.sources.io import CheckpointManifest


class _FullDisk:
    """A file opened for writing whose every write fails (ENOSPC)."""

    def __init__(self, f) -> None:
        self.f = f

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.f.close()

    def write(self, data) -> int:
        raise OSError(errno.ENOSPC, "No space left on device")


@pytest.mark.parametrize("manifest,key,name", [
    (CheckpointManifest, 3, "bucket-3.attempts"),
    (DropManifest, "day1", "drop-day1.attempts")])
def test_failed_counter_write_keeps_previous_count(tmp_path, monkeypatch,
                                                   manifest, key, name):
    m = manifest(str(tmp_path))
    assert [m.attempt_of(key), m.attempt_of(key)] == [1, 2]

    real_open = builtins.open

    def full_disk_open(path, mode="r", *a, **kw):
        f = real_open(path, mode, *a, **kw)
        return _FullDisk(f) if "w" in mode else f

    monkeypatch.setattr(builtins, "open", full_disk_open)
    with pytest.raises(OSError):
        m.attempt_of(key)
    monkeypatch.setattr(builtins, "open", real_open)

    with open(os.path.join(str(tmp_path), name)) as f:
        assert f.read() == "2"
    # the failed write removed its temp file
    assert not [n for n in os.listdir(str(tmp_path))
                if n.startswith(".tmp-")]
    assert m.attempt_of(key) == 3
