"""Default-tier streaming gate: batch↔stream parity for q14 and q15,
and the end-to-end ingest into the versioned table through its one
streaming sink. The rest of the streaming suite (chaos, CDF feed,
views) is the slow tier in ``test_streaming.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE
from video_streamer_spark.queries import QUERIES
from video_streamer_spark.streaming import pipeline as sp


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
