"""External-cwd drive of the table format's Python DataSources.

Every DataSource method runs in Spark's Python data-source RUNNER
process, which does not inherit the driver's ``sys.path``: a consumer
that imports this package from elsewhere leaves the runner unable to
import ``video_streamer_spark``. In-process tests cannot see that
(their cwd is the repo root), so each drive here runs in a subprocess
whose cwd is a temp dir, whose ``PYTHONPATH`` carries no repo entry,
and whose session is a plain ``SparkSession`` — the repo is only on the
driver's own ``sys.path``. Each source gets its OWN process: shipping
is process-global, so one source shipping a module would mask the
other forgetting to."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

DRIVE = textwrap.dedent(
    '''
    import os
    import sys
    import time

    repo, source = sys.argv[1], sys.argv[2]
    sys.path.insert(0, repo)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_into,
        read_table,
        table_changes,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    path = os.path.abspath("t")  # under the external cwd

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    create_table(
        spark.range(0, 24).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("val")
        ),
        path,
        ["k"],
        n_buckets=4,
    )  # v1
    t_v1 = time.time()
    time.sleep(0.05)
    merge_into(
        spark,
        path,
        spark.range(20, 28).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("val")
        ),
        when_matched_update="all",
    )  # v2: 20..23 update, 24..27 insert
    delete_keys(
        spark, path, spark.range(0, 6).select(F.col("id").alias("k"))
    )  # v3: merge-on-read tombstones

    if source == "snapshot":
        from video_streamer_spark.sources.snapshot_source import (
            register_snapshot_source,
        )

        register_snapshot_source(spark)
        snap = spark.read.format("table_snapshot").option("path", path)
        assert rows(snap.load()) == rows(read_table(spark, path))
        pinned = snap.option("timestamp", str(t_v1)).load()
        assert rows(pinned) == rows(read_table(spark, path, version=1))
    else:
        from video_streamer_spark.sources.cdf_source import (
            register_cdf_source,
        )

        register_cdf_source(spark)
        q = (
            spark.readStream.format("table_cdf")
            .option("path", path)
            .option("startingVersion", 1)
            .load()
            .writeStream.format("memory")
            .queryName("feed")
            .option("checkpointLocation", os.path.abspath("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.exception() is None, q.exception()
        cols = ["k", "val", "_change_type"]
        got = rows(spark.table("feed").select(cols))
        assert {r[2] for r in got} == {
            "insert", "update_postimage", "delete"
        }, got
        assert got == rows(table_changes(spark, path, 1, 3).select(cols))
    spark.stop()
    print("DRIVE-OK")
    '''
)


def _env_without_repo() -> dict[str, str]:
    env = dict(os.environ)
    kept = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and not pathlib.Path(p).resolve().is_relative_to(REPO)
    ]
    if kept:
        env["PYTHONPATH"] = os.pathsep.join(kept)
    else:
        env.pop("PYTHONPATH", None)
    return env


@pytest.mark.parametrize("source", ["snapshot", "cdf"])
def test_datasource_serves_from_external_cwd(tmp_path, source):
    """table_snapshot equals read_table at the current version and at
    a timestamp pin; a drained table_cdf carries insert, update and
    delete rows equal to the batch table_changes — all through a
    merge_into and a tombstoning delete_keys, with the runner unable to
    import the package."""
    script = tmp_path / "drive.py"
    script.write_text(DRIVE)
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO), source],
        cwd=tmp_path,
        env=_env_without_repo(),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "DRIVE-OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-6000:]
    )


INFER_DRIVE = textwrap.dedent(
    '''
    import sys

    sys.path.insert(0, sys.argv[1])

    from pyspark.sql import SparkSession

    from video_streamer_spark.operators import npmodel
    from video_streamer_spark.operators.inference import infer_detections

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    frames = spark.createDataFrame(
        [(i, npmodel.render_frame(i)) for i in range(8)],
        "frame_id long, payload binary",
    )
    got = sorted(
        tuple(r)
        for r in infer_detections(
            frames, model_loader=npmodel.load_tiny_conv
        ).collect()
    )
    want = sorted(
        (i, k, *box)
        for i in range(8)
        for k, box in enumerate(
            npmodel.tiny_conv_model(npmodel.render_frame(i), i)
        )
    )
    assert got == want and len(got) == 8, (got, want)
    spark.stop()
    print("DRIVE-OK")
    '''
)


def test_inference_ships_the_model_loaders_module(tmp_path):
    """``infer_detections(model_loader=npmodel.load_tiny_conv)`` from an
    external cwd, with no caller shipping ``npmodel``: the operator
    ships the loader's in-package module, so the workers can run it."""
    script = tmp_path / "drive.py"
    script.write_text(INFER_DRIVE)
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO)],
        cwd=tmp_path,
        env=_env_without_repo(),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "DRIVE-OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-6000:]
    )
