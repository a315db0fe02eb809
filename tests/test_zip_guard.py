"""The worker-side zip guard in ``functions/shipping.py``.

Every Python task starts with ``importlib.invalidate_caches()``, and
through CPython 3.12 each ``zipimporter`` then re-reads its archive's
whole zip directory. The guard re-reads only an archive whose
``(st_mtime_ns, st_size, st_ino)`` stamp changed. The first three tests
drive it on a zip of our own in this process; the last one checks, from
inside a Python worker, that the guard a first task installed is still
in place for the next task and saves the re-read there."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from video_streamer_spark.functions import shipping


@pytest.fixture
def fresh_guard(monkeypatch):
    """Let a test install the guard and take it out again afterwards."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "zip_guarded", False, raising=False)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, imported through a ``zipimporter``."""
    archive = str(tmp_path / "probe.zip")

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\n")

    write("zg_probe_a")
    monkeypatch.syspath_prepend(archive)
    for n in ("zg_probe_a", "zg_probe_b"):
        monkeypatch.delitem(sys.modules, n, raising=False)
    importlib.import_module("zg_probe_a")
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    yield write
    sys.path_importer_cache.pop(archive, None)
    for n in ("zg_probe_a", "zg_probe_b"):
        sys.modules.pop(n, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Counts the zip-directory reads ``zipimporter`` makes."""
    calls = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_zip_is_not_reread(fresh_guard, zip_on_path, directory_reads):
    shipping.install_zip_guard()
    importlib.invalidate_caches()  # stamps every importer
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == []


def test_rewritten_zip_is_reread(fresh_guard, zip_on_path):
    shipping.install_zip_guard()
    importlib.invalidate_caches()
    zip_on_path("zg_probe_a", "zg_probe_b")
    importlib.invalidate_caches()
    assert importlib.import_module("zg_probe_b").NAME == "zg_probe_b"


def test_second_install_is_a_no_op(fresh_guard):
    shipping.install_zip_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    shipping.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_guard_outlives_the_task_that_installed_it(spark):
    """Two 1-task ``mapInPandas`` jobs: the first goes through
    ``on_worker``; the second, a plain function run in the same worker,
    reports that the guard is installed and that a further
    ``importlib.invalidate_caches()`` re-reads none of the worker's zip
    directories."""
    import pandas as pd

    @shipping.on_worker
    def first(batches):
        import os

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()]})

    def second(batches):
        import importlib as il
        import os
        import zipimport as zi

        for _ in batches:
            pass
        reads = []
        read = zi._read_directory
        zi._read_directory = lambda archive: reads.append(archive) or read(
            archive
        )
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "guarded": [bool(getattr(zi.zipimporter, "zip_guarded", False))],
                "zips": [
                    sum(
                        isinstance(f, zi.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
                "reads": [len(reads)],
            }
        )

    one = spark.range(1, numPartitions=1)
    (first_pid,) = [r.pid for r in one.mapInPandas(first, "pid long").collect()]
    # idle workers are reused first in, first out: workers that earlier
    # tests left idle come before the first job's own
    for _ in range(32):
        (row,) = one.mapInPandas(
            second, "pid long, guarded boolean, zips int, reads int"
        ).collect()
        if row.pid == first_pid:
            break
    assert row.pid == first_pid, "the first job's worker was not reused"
    assert row.guarded and row.zips > 0 and row.reads == 0, row
