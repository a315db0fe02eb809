"""bench.splittable_mirror integrity: the mirror must never serve rows
from a source that has since been regenerated — including after a
CRASHED build (tables completed, _READY never stamped), where resuming
around existing table dirs would stamp the new fingerprint over old
data."""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import bench


def _write_source(sf_dir: str, seed: int) -> int:
    """A >4MB single-row-group table of random int64 (incompressible
    enough to stay above the split threshold); returns the sum."""
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**62, 700_000)
    pq.write_table(
        pa.table({"v": vals}), os.path.join(sf_dir, "orders.parquet")
    )
    return int(vals.sum())


def test_splittable_mirror_rebuilds_after_crashed_build(tmp_path):
    sf_dir = str(tmp_path / f"sf-mirror-{uuid.uuid4().hex[:8]}")
    os.makedirs(sf_dir)
    _write_source(sf_dir, seed=1)
    mirror = bench.splittable_mirror(sf_dir)
    try:
        assert mirror != sf_dir
        split_dir = os.path.join(mirror, "orders.parquet")
        assert os.path.isdir(split_dir)  # rewritten, not symlinked
        assert len(os.listdir(split_dir)) >= 2  # actually split

        # crash scenario: the build completed this table but died before
        # stamping _READY, and the source was then regenerated
        os.remove(os.path.join(mirror, "_READY"))
        want = _write_source(sf_dir, seed=2)

        mirror2 = bench.splittable_mirror(sf_dir)
        assert mirror2 == mirror
        got = int(
            pq.read_table(os.path.join(mirror2, "orders.parquet"))
            .column("v")
            .to_numpy()
            .sum()
        )
        assert got == want  # new rows, not the seed-1 leftovers

        # idempotent fast path: same fingerprint, no rebuild needed
        assert bench.splittable_mirror(sf_dir) == mirror
    finally:
        shutil.rmtree(mirror, ignore_errors=True)


def test_stream_bench_source_lists_the_mirrors_current_files(spark, tmp_path):
    """The stream micro-bench drains a dir of symlinks to the mirror's
    events files. A link left from an older mirror (here planted where a
    per-mirror dir reused across runs would find it) must not reach the
    drain, and a second call sees the files as they are then."""
    import hashlib
    import tempfile

    ev = tmp_path / "mirror" / "events.parquet"
    ev.mkdir(parents=True)
    for i in range(2):
        (ev / f"part-{i}.parquet").write_bytes(b"")
    reused = os.path.join(
        tempfile.gettempdir(),
        "vss-stream-bench",
        f"src-{hashlib.md5(str(ev).encode()).hexdigest()[:10]}",
    )
    os.makedirs(reused, exist_ok=True)
    stale = os.path.join(reused, "part-9.parquet")
    if not os.path.lexists(stale):
        os.symlink(str(tmp_path / "deleted.parquet"), stale)
    try:

        def listing(src):
            return {f: os.readlink(os.path.join(src, f)) for f in os.listdir(src)}

        src, files = bench.stream_source_dir(spark, str(ev.parent))
        assert listing(src) == {os.path.basename(f): f for f in files}
        assert sorted(listing(src)) == ["part-0.parquet", "part-1.parquet"]

        (ev / "part-0.parquet").unlink()
        (ev / "part-2.parquet").write_bytes(b"")
        src2, _ = bench.stream_source_dir(spark, str(ev.parent))
        assert sorted(listing(src2)) == ["part-1.parquet", "part-2.parquet"]
        assert all(os.path.exists(t) for t in listing(src2).values())
        assert not os.path.exists(src)  # the earlier run is gone
    finally:
        shutil.rmtree(reused, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(reused))
        except OSError:
            pass  # other entries: not this test's to remove
