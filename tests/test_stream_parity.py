"""Default-tier streaming gate: batch↔stream parity for q14 and q15,
the end-to-end ingest into the versioned table through its one
streaming sink, and ``run_available_now``'s state-partition rule. The
rest of the streaming suite (chaos, CDF feed, views) is the slow tier
in ``test_streaming.py``.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from video_streamer_spark.queries import QUERIES
from video_streamer_spark.streaming import pipeline as sp
from video_streamer_spark.streaming.metrics import PipelineMetricsListener

SHUFFLE = "spark.sql.shuffle.partitions"
SPLIT = "spark.sql.files.maxPartitionBytes"


def rows_set(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark):
    """Q14 through Structured Streaming (AvailableNow) must produce the
    byte-identical result of the batch query."""
    stream = sp.tumbling_stream(sp.events_stream(spark, SF_ORACLE))
    name = sp.run_available_now(stream, "tumbling_sink", "complete")
    got = spark.sql(
        f"SELECT hour_start, event_type, n_events, sum_value FROM {name}"
    )
    want = QUERIES["q14_tumbling_hourly"](spark, SF_ORACLE)
    assert rows_set(got) == rows_set(want)


def test_session_stream_matches_lag_sessionization(spark):
    """Native session_window sessions must equal the LAG-based batch
    sessionization (Q15): same per-user session-size multisets."""
    stream = sp.session_stream(sp.events_stream(spark, SF_ORACLE))
    name = sp.run_available_now(stream, "session_sink", "complete")
    got = spark.sql(f"SELECT user_id, n_events FROM {name}")
    want = QUERIES["q15_sessionization"](spark, SF_ORACLE).select(
        "user_id", "n_events"
    )
    assert rows_set(got) == rows_set(want)


def test_end_to_end_ingest_dedup_acid_replicate(spark, tmp_path):
    """The whole pipeline a real deployment composes, end to end:
    event files → ``stream_dir`` → streaming CDC upsert into the
    versioned ACID table (compacted per epoch, idempotent commits) →
    table_cdf change feed → CDC replication into a second table. The
    replica's final snapshot must equal the batch events relation —
    every stage is someone else's tested unit; this pins that they
    COMPOSE."""
    from video_streamer_spark.catalog import table as btable
    from video_streamer_spark.operators.table_format import (
        create_table,
        read_table,
        run_acid_merge_sink,
    )
    from video_streamer_spark.sources.cdf_source import (
        register_cdf_source,
        replicate_table,
    )

    sf = SF_SMOKE
    tbl = str(tmp_path / "tbl")
    replica = str(tmp_path / "replica")
    cols = ["event_id", "user_id", "event_type", "ts", "value"]
    events = btable(spark, sf, "events").select(*cols)
    # 1) ingest: the events land as three parquet files, streamed one
    # file per trigger so the sink commits one version per epoch
    src = str(tmp_path / "events_src")
    events.repartition(3, "event_id").write.parquet(src)
    # seq_col is CONSUMED by the per-epoch compaction (metadata, like a
    # Kafka offset/LSN) — derive one so the ts DATA column survives
    typed = sp.stream_dir(
        spark, src, events.schema, max_files_per_trigger=1
    ).withColumn("__seq", F.unix_micros("ts"))
    # 2) CDC upsert into the ACID table (event_id key, ts as seq)
    seed = events.limit(0)
    create_table(seed, tbl, ["event_id"], n_buckets=4)
    run_acid_merge_sink(
        typed,
        tbl,
        key_cols=["event_id"],
        seq_col="__seq",
        checkpoint_dir=str(tmp_path / "ckpt_ingest"),
    )
    # 3) replicate through the change feed
    register_cdf_source(spark)
    create_table(seed, replica, ["event_id"], n_buckets=4)
    replicate_table(
        spark, tbl, replica, checkpoint_dir=str(tmp_path / "ckpt_repl")
    )
    want = rows_set(events)
    assert rows_set(read_table(spark, tbl)) == want
    assert rows_set(read_table(spark, replica)) == want


def _drain_traced(spark, stream, sink: str) -> dict:
    """run_available_now under a PipelineMetricsListener; its summary
    once the query's terminated event has arrived."""
    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        sp.run_available_now(stream, sink, "complete")
        deadline = time.monotonic() + 60
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.terminated
    return listener.summary()


def test_state_partitions_follow_the_backlog(spark):
    """A 0.2 MB backlog is one scan split, so the tumbling stream keeps
    ONE state-store instance, not one per session shuffle partition; the
    caller's session keeps its count."""
    before = spark.conf.get(SHUFFLE)
    assert int(before) > 1
    stream = sp.tumbling_stream(sp.events_stream(spark, SF_ORACLE))
    s = _drain_traced(spark, stream, "state_rule_sink")
    assert s["state_instances"] == 1
    assert s["state_rows_total"] > 0 and s["frames"] > 0
    assert all(s[f"{k}_s"] >= 0 for k in PipelineMetricsListener.PHASES)
    assert spark.conf.get(SHUFFLE) == before


def test_state_partitions_restored_when_start_raises(spark):
    """complete mode without an aggregation fails inside start(), after
    the rule has set its count: the session still gets its value back."""
    before = spark.conf.get(SHUFFLE)
    stream = sp.events_stream(spark, SF_ORACLE)
    assert sp._state_partitions(stream) == 1 != int(before)
    with pytest.raises(Exception, match="(?i)complete"):
        sp.run_available_now(stream, "state_rule_raises", "complete")
    assert spark.conf.get(SHUFFLE) == before


def test_state_partitions_arithmetic():
    """One partition per scan split, clamped to [1, ceiling]: a backlog
    of ten splits hits a ceiling of 8 (no data is built for it)."""
    split = 128 * 2**20
    assert sp._scan_splits(10 * split, split, 8) == 8
    assert sp._scan_splits(3 * split, split, 8) == 3
    assert sp._scan_splits(3 * split + 1, split, 8) == 4
    assert sp._scan_splits(1, split, 8) == 1
    assert sp._scan_splits(10 * split, split, 1) == 1


def test_state_partitions_read_the_split_size(spark):
    """The rule divides by the session's maxPartitionBytes: shrinking the
    split to a third of the backlog gives three partitions."""
    from video_streamer_spark import scratch

    stream = sp.tumbling_stream(sp.events_stream(spark, SF_ORACLE))
    # the stream dir holds a symlink to the table file; the walk follows it
    backlog = sp._backlog_bytes(scratch.slot(spark, SF_ORACLE, "stream-events"))
    assert backlog == os.path.getsize(f"{SF_ORACLE}/events.parquet")
    prior = spark.conf.get(SPLIT)
    spark.conf.set(SPLIT, str(-(-backlog // 3)))
    try:
        assert sp._state_partitions(stream) == 3
    finally:
        spark.conf.set(SPLIT, prior)


def test_restart_keeps_the_checkpointed_count(spark, tmp_path):
    """Spark pins the state-partition count in the checkpoint: a restart
    runs on the count of its first start, whatever the rule says by then."""
    import glob
    import shutil

    from video_streamer_spark.catalog import table as btable

    events = btable(spark, SF_ORACLE, "events")
    src = tmp_path / "src"
    src.mkdir()

    def land(i: int) -> None:
        stage = str(tmp_path / f"stage{i}")
        events.where(f"event_id % 2 = {i}").coalesce(1).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        shutil.move(part, src / f"events{i}.parquet")

    def stream():
        return sp.tumbling_stream(sp.stream_dir(spark, str(src), events.schema))

    ckpt_key = "spark.sql.streaming.checkpointLocation"
    prior = spark.conf.get(SPLIT)
    spark.conf.set(ckpt_key, str(tmp_path / "ckpt"))
    try:
        land(0)
        assert _drain_traced(spark, stream(), "restart_sink")["state_instances"] == 1
        land(1)
        spark.conf.set(SPLIT, str(-(-sp._backlog_bytes(str(src)) // 3)))
        assert sp._state_partitions(stream()) == 3
        s = _drain_traced(spark, stream(), "restart_sink")
    finally:
        spark.conf.unset(ckpt_key)
        spark.conf.set(SPLIT, prior)
    assert s["frames"] > 0 and s["state_instances"] == 1
    got = spark.sql("SELECT hour_start, event_type, n_events, sum_value FROM restart_sink")
    assert rows_set(got) == rows_set(QUERIES["q14_tumbling_hourly"](spark, SF_ORACLE))


def test_unobservable_source_keeps_the_session_value(spark):
    """A rate source has no files to size from: the stream keeps the
    session's count, also when unioned with a file stream."""
    want = int(spark.conf.get(SHUFFLE))
    rate = spark.readStream.format("rate").load()
    assert sp._state_partitions(rate.groupBy("value").count()) == want
    events = sp.events_stream(spark, SF_ORACLE).select(
        F.col("event_id").alias("value")
    )
    mixed = events.unionByName(rate.select("value"))
    assert sp._state_partitions(mixed.groupBy("value").count()) == want
