"""Per-session scratch directories: where queries put the tables, indexes,
journals and stream-source dirs they build, how those are named, and
when they are deleted. No other package module names a scratch location
(``tests/test_atomic_visibility.py`` pins it).

Layout: one root under ``tempfile.gettempdir()``, one directory per Spark
application id, and in it one slot per ``(kind, sf_dir)``. A slot name
carries ``basename(sf_dir)`` for the reader and a digest of the absolute
``sf_dir``, so two data dirs with the same basename never share a slot.

Two lifecycles, the two a Structured Streaming job needs (a source that
stays put for the life of a query, a sink or checkpoint that a new run
does not share):

- :func:`run_dir` — a fresh directory for one invocation. The slot's
  earlier runs are deleted first, so a session holds at most one run per
  slot. Safe because a lifecycle query's invocations run one after
  another in a session: when run N+1 is allocated, run N's DataFrame has
  been consumed.
- :func:`built_dir` — built once per session into a staging dir, then
  renamed into place. A build that fails leaves nothing behind; a
  builder that loses the rename race discards its copy and reads the
  winner's.

Every call refreshes its app dir's mtime and removes other sessions' app
dirs older than :data:`STALE_SECS`. A session idle for longer than that
may lose its scratch to a sibling's sweep; everything here is rebuilt on
next use.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import SparkSession

STALE_SECS = 24 * 3600

_runs = itertools.count()


def root() -> str:
    """The one scratch root (looked up on use: finding the temp dir
    writes a probe file, which an import must not do)."""
    return os.path.join(tempfile.gettempdir(), "vss-scratch")


def _sweep(keep: str) -> None:
    """Remove app dirs under the root, other than ``keep``, whose mtime
    is older than STALE_SECS. Reads alone do not move a directory's
    mtime, so every live session touches its own app dir on each call."""
    base = os.path.dirname(keep)
    try:
        entries = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for name in entries:
        p = os.path.join(base, name)
        if p == keep:
            continue
        try:
            if now - os.path.getmtime(p) > STALE_SECS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def slot(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """This session's slot for ``(kind, sf_dir)``: the directory
    :func:`built_dir` builds, or the parent of :func:`run_dir`'s runs.
    Steps that act on what a query already built find it here."""
    sf = os.path.abspath(sf_dir)
    digest = hashlib.sha1(sf.encode()).hexdigest()[:10]
    tag = os.path.basename(sf) or "root"
    app_dir = os.path.join(root(), spark.sparkContext.applicationId)
    os.makedirs(app_dir, exist_ok=True)
    try:
        os.utime(app_dir)
    except OSError:
        pass
    _sweep(keep=app_dir)
    return os.path.join(app_dir, f"{kind}-{tag}-{digest}")


def run_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """A fresh, not yet created ``run-<n>`` directory for one invocation;
    the slot's earlier runs are deleted."""
    parent = slot(spark, sf_dir, kind)
    try:
        for name in os.listdir(parent):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    except OSError:
        pass
    return os.path.join(parent, f"run-{next(_runs)}")


def built_dir(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    """The session's ``kind`` directory for ``sf_dir``; on first use
    ``build(stage)`` fills a private staging path that is then renamed
    into place, so readers never see a half-built directory and a failed
    build can be retried."""
    path = slot(spark, sf_dir, kind)
    if not os.path.exists(path):
        stage = f"{path}.building-{uuid.uuid4().hex}"
        try:
            build(stage)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        try:
            os.rename(stage, path)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)  # another builder won
    return path


def link_dir(path: str, files) -> str:
    """Create ``path`` as a flat directory of symlinks to ``files`` (the
    streaming file source lists directories, not single files)."""
    os.makedirs(path)
    for f in files:
        os.symlink(os.path.abspath(f), os.path.join(path, os.path.basename(f)))
    return path
