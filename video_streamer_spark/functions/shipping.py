"""What a Python worker needs: UDF shipping and the worker-side zip guard.

**Shipping.** Spark serializes Python UDFs with cloudpickle. A function
defined at module level is pickled *by reference* (module + qualname),
which requires every executor's Python worker to be able to ``import
video_streamer_spark`` — true in our tests (cwd = repo root) but NOT
when an external driver imports the engine from elsewhere. Registering
the defining module for by-value pickling embeds the function body in
the task closure instead, so UDFs run on workers that have only
pyspark/numpy/pandas installed. Call ``ship_module(sys.modules[__name__])``
in any module that defines functions referenced from inside
UDFs/mapInPandas closures. This module ships itself, so ``on_worker``
reaches workers that cannot import the package.

**The per-task zip re-read.** Before every Python task the worker calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``).
Through CPython 3.12 ``zipimporter.invalidate_caches`` eagerly re-reads
the archive's whole zip directory, once per importer: the worker's path
holds a dozen importers over ``pyspark.zip`` (1,328 entries) and two over
the spark-core jar (5,359), so every task paid about 0.2 s (up to 0.7 s
under load) before the UDF body ran. ``on_worker`` wraps every function
the package hands to ``mapInPandas`` / ``applyInPandas`` / ``pandas_udf``;
its first call in a worker process installs ``install_zip_guard``, which
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
stamp changed — the lazy semantics CPython 3.13 adopted, so an archive
that changed is still re-read. The worker's next task re-reads once more
to stamp each importer; from then on the call costs a ``stat`` per
importer.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport
from types import ModuleType

_shipped: set[str] = set()


def ship_module(mod: ModuleType) -> None:
    if mod.__name__ in _shipped:
        return
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(mod)
        _shipped.add(mod.__name__)
    except Exception:
        # older cloudpickle without register_pickle_by_value: fall back to
        # requiring the package on the worker path (test environments)
        pass


ship_module(sys.modules[__name__])


def _archive_stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed since this importer last read it (or cannot be stat'ed).
    Process-wide and idempotent: the class attribute ``zip_guarded``
    marks the install, because a by-value shipped copy of this module
    gets fresh globals in every task."""
    cls = zipimport.zipimporter
    if getattr(cls, "zip_guarded", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _archive_stamp(self.archive)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    cls.invalidate_caches = invalidate_caches
    cls.zip_guarded = True


def on_worker(fn):
    """Route a function handed to a Python worker through the zip guard.
    ``functools.wraps`` plus ``__signature__`` keep what pyspark inspects
    (pandas_udf type hints, applyInPandas's key/no-key arity)."""

    @functools.wraps(fn)
    def guarded(*args, **kwargs):
        install_zip_guard()
        return fn(*args, **kwargs)

    guarded.__signature__ = inspect.signature(fn)
    return guarded
