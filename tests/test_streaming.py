"""Streaming ↔ batch equivalence (SURVEY.md §5.2 strategy 2) and the
end-to-end streaming detection pipeline with the idempotent sink.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from video_streamer_spark.operators import detections as D
from video_streamer_spark.operators.inference import infer_detections
from video_streamer_spark.operators.multimodal import documents_as_payloads
from video_streamer_spark.catalog import table
from video_streamer_spark.queries import QUERIES
from video_streamer_spark.streaming.metrics import PipelineMetricsListener
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


def test_streaming_dedup_equals_batch_distinct(spark):
    stream = sp.events_stream(spark, SF_ORACLE).select("user_id").dropDuplicates()
    name = sp.run_available_now(stream, "dedup_sink", "append")
    got = spark.sql(f"SELECT user_id FROM {name}")
    want = table(spark, SF_ORACLE, "events").select("user_id").distinct()
    assert rows_set(got) == rows_set(want)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two files arriving strictly in order (file mtimes control the
    FileStreamSource ordering): batch 1 is on-time data, batch 2 carries
    rows 60 days older — far behind the watermark. Those late rows must
    be dropped: no stale window may appear, and emitted window counts
    must equal the on-time-only aggregation."""
    import os
    import time

    base = table(spark, SF_ORACLE, "events")
    # watermark note: Spark applies the late-data filter with the
    # watermark of the PREVIOUS trigger, so the late file must arrive at
    # batch >= 2 for the on-time files to have established the horizon
    on_time = base.where(F.col("event_id") % 3 < 2)
    parts = [
        on_time.where(F.col("event_id") % 3 == 0),
        on_time.where(F.col("event_id") % 3 == 1),
        base.where(F.col("event_id") % 3 == 2).withColumn(
            "ts", F.col("ts") - F.expr("INTERVAL 60 DAYS")
        ),
    ]
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    now = time.time()
    for i, df in enumerate(parts):
        d = str(tmp_path / f"f{i}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:02d}.parquet")
        os.rename(os.path.join(d, part), dst)
        os.utime(dst, (now - 1000 + i * 300, now - 1000 + i * 300))

    stream = sp.stream_dir(spark, src, base.schema, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.sql("SELECT w.start AS start, n FROM late_sink").collect()
    assert emitted, "no windows finalized"
    on_time_counts = {
        r["w"]["start"]: r["n"]
        for r in on_time.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    min_on_time = min(on_time_counts)
    for r in emitted:
        # no window from the 60-day-late half may surface
        assert r["start"] >= min_on_time, f"stale window {r['start']} emitted"
        # and on-time windows are unpolluted by late rows
        assert on_time_counts[r["start"]] == r["n"]


def test_streaming_inference_pipeline_idempotent_sink(spark, tmp_path):
    """The reference's whole pipeline as a stream: payload files →
    mapInPandas inference → threshold → scale → label join → idempotent
    foreachBatch sink; result must equal the batch run of the same ops.
    """
    from video_streamer_spark.sources.labels import labels

    docs = table(spark, SF_SMOKE, "documents")
    frames = documents_as_payloads(docs).withColumnRenamed("doc_id", "frame_id")
    src = str(tmp_path / "frames_src")
    frames.coalesce(2).write.mode("overwrite").parquet(src)

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = sp.stream_dir(spark, src, frames.schema)
        det = D.scale_boxes(D.threshold_filter(infer_detections(stream)))
        out = str(tmp_path / "det_sink")
        sp.run_foreach_batch_sink(det, out, ["frame_id", "box_idx"])
    finally:
        spark.streams.removeListener(listener)

    got = spark.read.parquet(f"{out}/batch-*")
    want = D.scale_boxes(D.threshold_filter(infer_detections(frames)))
    assert rows_set(got) == rows_set(want)
    # sink rows keep real (frame_id, box_idx) lineage — unique keys
    assert got.groupBy("frame_id", "box_idx").count().where("count > 1").count() == 0
    # label join on the sink output (reference O16→O18 tail)
    labeled = D.with_labels(got, labels(spark))
    assert labeled.count() == got.count()
    # metrics listener saw the work (reference metrics dict analog)
    s = listener.summary()
    assert s["frames"] > 0 and s["total"] > 0


def test_stateful_sessions_match_batch(spark):
    """applyInPandasWithState sessionizer: closed sessions from the
    stream is sandwiched by batch sessionization: every session closed
    in-batch (a newer event followed it) MUST be emitted; sessions only
    closable by the event-time timeout MAY be emitted (AvailableNow's
    final empty batch advances the watermark and fires timeouts for
    sessions ending before watermark − gap); each user's true final
    session within the watermark horizon must NOT be emitted; and every
    emitted session must be a real batch session, values identical."""
    from video_streamer_spark.streaming.stateful import stateful_sessions
    from video_streamer_spark.queries.temporal import SESSION_GAP_SECONDS

    stream = stateful_sessions(
        sp.events_stream(spark, SF_ORACLE), gap_seconds=SESSION_GAP_SECONDS
    )
    name = sp.run_available_now(stream, "stateful_sessions_sink", "append")
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )

    # batch expectation: Q15's per-event session ids → session bounds,
    # dropping the last session of each user
    from pyspark.sql.window import Window

    e = table(spark, SF_ORACLE, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_lag).isNull()
            | (
                (F.col("ts").cast("double") - F.lag("ts").over(w_lag).cast("double"))
                > SESSION_GAP_SECONDS
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = flagged.select(
        "user_id", "ts", F.sum("is_new").over(w_run).alias("session_id")
    )
    bounds = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )
    last = bounds.groupBy("user_id").agg(F.max("session_id").alias("last_id"))
    as_tuple = lambda r: (  # noqa: E731
        r["user_id"], r["session_start"], r["session_end"], r["n_events"]
    )
    all_sessions = {as_tuple(r) for r in bounds.collect()}
    required = {
        as_tuple(r)
        for r in bounds.join(
            last,
            (bounds.user_id == last.user_id)
            & (bounds.session_id == last.last_id),
            "left_anti",
        ).collect()
    }
    got_set = set(got)
    assert len(got) == len(got_set) > 0
    assert required <= got_set <= all_sessions


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream windowed join (AvailableNow) must equal the batch
    theta-join over the same window."""
    stream = sp.purchase_click_stream_join(spark, SF_ORACLE)
    name = sp.run_available_now(stream, "ssjoin_sink", "append")
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )

    e = table(spark, SF_ORACLE, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    expected = sorted(
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7200 SECONDS")),
        ).collect()
    )
    assert len(got) > 0
    assert got == expected


def test_synthetic_rate_stream_drives_inference(spark, tmp_path):
    """Load-generator path: rate source → deterministic payloads →
    mapInPandas inference → idempotent sink. Runs for a few seconds of
    wall clock and must produce unique (frame_id, box_idx) detections."""
    from video_streamer_spark.streaming.pipeline import synthetic_frame_stream

    stream = synthetic_frame_stream(spark, rows_per_second=500, n_partitions=2)
    det = D.scale_boxes(D.threshold_filter(infer_detections(stream)))
    out = str(tmp_path / "load_sink")

    def write_batch(batch_df, epoch_id):
        batch_df.dropDuplicates(["frame_id", "box_idx"]).write.mode(
            "overwrite"
        ).parquet(f"{out}/batch-{epoch_id}")

    q = (
        det.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 20
    rows = 0
    try:
        while time.time() < deadline:
            time.sleep(2)
            try:
                got = spark.read.parquet(f"{out}/batch-*")
                rows = got.count()
                if rows > 0:
                    break
            except Exception:
                continue
    finally:
        q.stop()
    assert rows > 0, "no detections produced under synthetic load"
    got = spark.read.parquet(f"{out}/batch-*")
    dupes = (
        got.groupBy("frame_id", "box_idx").count().where("count > 1").count()
    )
    assert dupes == 0


def test_stream_stream_left_outer_join(spark):
    """Left-outer stream-stream join: matched rows equal the inner
    batch join; unmatched purchases surface with null click_id once the
    watermark passes (AvailableNow's final batch), and every emitted
    null-row is a purchase the batch join really leaves unmatched."""
    stream = sp.purchase_click_stream_join(spark, SF_ORACLE, how="left_outer")
    name = sp.run_available_now(stream, "ssjoin_outer_sink", "append")
    got = spark.sql(f"SELECT purchase_id, click_id FROM {name}").collect()
    got_matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in got if r["click_id"] is not None
    )
    got_null = {r["purchase_id"] for r in got if r["click_id"] is None}

    e = table(spark, SF_ORACLE, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7200 SECONDS"))
    )
    want_matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in p.join(c, cond).collect()
    )
    batch_unmatched = {
        r["purchase_id"]
        for r in p.join(c, cond, "left_anti").collect()
    }
    assert got_matched == want_matched
    assert got_null, "no unmatched purchases emitted"
    assert got_null <= batch_unmatched


def test_drop_duplicates_within_watermark(spark):
    """dropDuplicatesWithinWatermark: same distinct result as batch on
    this in-order corpus, but dedup state is evictable past the
    watermark (unbounded-state-safe, unlike plain dropDuplicates)."""
    ev = sp.events_stream(spark, SF_ORACLE)
    stream = (
        ev.select("user_id", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    name = sp.run_available_now(stream, "dedup_wm_sink", "append")
    got = {r["user_id"] for r in spark.sql(f"SELECT user_id FROM {name}").collect()}
    want = {
        r["user_id"]
        for r in table(spark, SF_ORACLE, "events").select("user_id").distinct().collect()
    }
    # every user appears; watermark-based eviction may re-emit a user
    # whose duplicates arrive further apart than the watermark, so got
    # is a superset in general and equal on this in-order corpus
    assert want <= got


def test_bucketed_table_streaming_sink(spark, tmp_path):
    """Streamed events land in a bucketed catalog table; row set equals
    the batch input, and a join on the bucket key against a co-bucketed
    table plans with zero Exchanges."""
    from video_streamer_spark.plans import plan_report
    from video_streamer_spark.sources.bucketing import write_bucketed

    spark.sql("DROP TABLE IF EXISTS stream_events_bucketed")
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    shutil.rmtree(f"{wh}/stream_events_bucketed", ignore_errors=True)

    stream = sp.events_stream(spark, SF_ORACLE, max_files_per_trigger=1).select(
        "event_id", "user_id", "value"
    )
    sp.run_bucketed_table_sink(
        stream, "stream_events_bucketed", ["user_id"], n_buckets=8
    )
    got = spark.table("stream_events_bucketed")
    want = table(spark, SF_ORACLE, "events").select("event_id", "user_id", "value")
    assert got.count() == want.count()
    assert sorted(r["event_id"] for r in got.select("event_id").collect()) == sorted(
        r["event_id"] for r in want.select("event_id").collect()
    )

    dim = want.groupBy("user_id").count()
    write_bucketed(dim, "bt_user_dim", ["user_id"], n_buckets=8,
                   sort_cols=["user_id"])
    joined = got.join(spark.table("bt_user_dim"), "user_id")
    r = plan_report(joined)
    assert r.n_exchanges == 0, r.text


def test_kafka_shaped_source_round_trips_events(spark):
    """The Kafka-wire stand-in (§1.4 ingest): streaming the events table
    through the wire encode (key/value bytes, topic, partition, offset,
    timestamp) and the REAL consumer-side parse must reproduce the batch
    events table exactly, and the wire schema must be byte-for-byte the
    spark-sql-kafka source shape."""
    from video_streamer_spark.catalog import table
    from video_streamer_spark.streaming import kafka_shim

    wire = kafka_shim.kafka_shaped_events(spark, SF_ORACLE)
    # names+types must match the spark-sql-kafka shape (nullability is
    # tighter here: literal-derived columns are provably non-null)
    assert [(f.name, f.dataType) for f in wire.schema.fields] == [
        (f.name, f.dataType) for f in kafka_shim.KAFKA_WIRE_SCHEMA.fields
    ]
    parsed = kafka_shim.parse_events_from_kafka(wire)
    name = sp.run_available_now(parsed, "kafka_shim_sink", "append")
    got = spark.sql(f"SELECT * FROM {name}")
    want = table(spark, SF_ORACLE, "events").select(
        "event_id", "user_id", "event_type", "ts", "value", "props"
    )
    assert rows_set(got) == rows_set(want)

    # partition derivation: bounded range, stable per key
    batch_wire = kafka_shim.to_kafka_wire(
        table(spark, SF_ORACLE, "events"), n_partitions=8
    )
    parts = batch_wire.select("partition").distinct().collect()
    assert all(0 <= r["partition"] < 8 for r in parts)
    per_key = (
        batch_wire.select(F.decode("key", "UTF-8").alias("k"), "partition")
        .distinct()
        .groupBy("k")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_key == 1, "a key landed in two partitions"


def test_sliding_stream_equals_batch(spark):
    """x48 sliding windows through Structured Streaming (AvailableNow)
    must match the batch result — overlapping windows exercise
    multi-assignment state the tumbling test can't."""
    from video_streamer_spark.queries.temporal import sliding_agg

    stream = sliding_agg(
        sp.events_stream(spark, SF_ORACLE).withWatermark("ts", "1 hour")
    )
    name = sp.run_available_now(stream, "sliding_sink", "complete")
    got = spark.sql(
        f"SELECT window_start, event_type, n_events, sum_value FROM {name}"
    )
    want = QUERIES["x48_sliding_window_agg"](spark, SF_ORACLE)
    assert rows_set(got) == rows_set(want)


def test_rowwise_signatures_equal_batch_signatures(spark):
    """The shuffle-free (streaming-shape) minhash signatures must be
    bit-identical to the exploded+partial-agg batch form."""
    from video_streamer_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_rowwise,
    )

    docs = table(spark, SF_ORACLE, "documents")
    a = sorted(map(tuple, minhash_signatures(docs).collect()))
    b = sorted(map(tuple, minhash_signatures_rowwise(docs).collect()))
    assert a == b


def test_streaming_near_dup_marks_match_sequential_reference(spark, tmp_path):
    """Streaming MinHash-LSH dedup: feed the corpus as two ordered files
    (one per micro-batch) and check every emitted (band, doc, keeper)
    mark against a sequential reference that replays the same batch
    order over the batch band table — keeper = min doc of the first
    batch touching the band."""
    import os
    import time

    from video_streamer_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )
    from video_streamer_spark.streaming.dedup_stream import streaming_band_marks

    docs = table(spark, SF_SMOKE, "documents")
    batches = [
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    ]
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    now = time.time()
    for i, df in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:02d}.parquet")
        os.rename(os.path.join(d, part), dst)
        os.utime(dst, (now - 1000 + i * 300, now - 1000 + i * 300))

    stream = sp.stream_dir(spark, src, docs.schema, max_files_per_trigger=1)
    marks = streaming_band_marks(stream)
    name = sp.run_available_now(marks, "dedup_marks_sink", "append")
    got = {
        (r["band_idx"], r["band_val"], r["doc_id"]): r["keeper_doc_id"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    # sequential reference over the batch band table
    band_rows = [
        (r["band_idx"], r["band_val"], r["doc_id"])
        for r in minhash_bands(minhash_signatures(docs)).collect()
    ]
    batch_of = {}  # doc -> batch index
    for r in docs.select("doc_id").collect():
        batch_of[r["doc_id"]] = r["doc_id"] % 2
    expected = {}
    keepers = {}
    for b in (0, 1):
        batch_docs = {
            (bi, bv): [] for (bi, bv, d) in band_rows if batch_of[d] == b
        }
        for bi, bv, d in band_rows:
            if batch_of[d] == b:
                batch_docs[(bi, bv)].append(d)
        for (bi, bv), ds in batch_docs.items():
            if (bi, bv) not in keepers:
                keepers[(bi, bv)] = min(ds)
            for d in ds:
                expected[(bi, bv, d)] = keepers[(bi, bv)]

    assert got == expected
    # and at least one cross-batch near-dup candidate was caught
    # (a doc marked against a keeper from the earlier batch)
    cross = [
        k for k, keeper in got.items() if batch_of[k[2]] == 1 and batch_of[keeper] == 0
    ]
    assert cross, "no cross-batch candidates — planted dupes missed"


def test_streaming_chunking_matches_batch(spark):
    """x63's chunker is stateless codegen, so the IDENTICAL operator must
    produce the identical chunk set when documents arrive as a stream —
    the stream↔batch equivalence contract extended to the curation ops."""
    from video_streamer_spark.operators.text import chunk_documents
    from video_streamer_spark.streaming.pipeline import (
        _as_stream_dir,
        stream_dir,
    )

    docs = table(spark, SF_ORACLE, "documents")
    batch = rows_set(chunk_documents(docs))

    src = _as_stream_dir(SF_ORACLE, "documents")
    stream = stream_dir(spark, src, docs.schema)
    name = sp.run_available_now(
        chunk_documents(stream), "chunk_sink", "append"
    )
    got = rows_set(spark.sql(f"SELECT * FROM {name}"))
    assert got == batch and len(got) > 0


def test_checkpointed_incremental_processing(spark, tmp_path):
    """Exactly-once across RESTARTS: two AvailableNow runs sharing one
    checkpointLocation must process each source file exactly once — the
    second run picks up only files added after the first. This is the
    recovery contract a production pipeline leans on (the reference has
    no equivalent; a crash re-reads the whole video)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def add_file(name, lo, hi):
        pq.write_table(
            pa.table({"v": pa.array(range(lo, hi), pa.int64())}),
            str(src / name),
        )

    def run_once():
        q = (
            spark.readStream.schema("v long")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    add_file("a.parquet", 0, 100)
    run_once()
    first = spark.read.parquet(out).count()
    assert first == 100

    add_file("b.parquet", 100, 150)
    run_once()
    back = spark.read.parquet(out)
    # each row exactly once: no re-processing of a.parquet on restart
    assert back.count() == 150
    assert back.agg(F.count_distinct("v")).first()[0] == 150


def test_stream_static_join_enrichment(spark):
    """Stream-STATIC join: a streaming fact enriched against a static
    dimension (the labels dim — reference O16) must produce exactly the
    batch join's rows. The static side needs no watermark and Spark
    plans it as a per-micro-batch broadcast — the standard dimension-
    enrichment shape for a streaming curation pipeline."""
    from video_streamer_spark.sources.labels import labels

    dim = labels(spark).withColumnRenamed("label_id", "lid")
    ev = sp.events_stream(spark, SF_ORACLE)
    enriched = (
        ev.withColumn("lid", (F.col("event_id") % 80 + 1).cast("int"))
        .join(dim, "lid")
        .select("event_id", "lid", "label_name")
    )
    name = sp.run_available_now(enriched, "enrich_sink", "append")
    got = rows_set(spark.sql(f"SELECT * FROM {name}"))

    batch = (
        table(spark, SF_ORACLE, "events")
        .withColumn("lid", (F.col("event_id") % 80 + 1).cast("int"))
        .join(dim, "lid")
        .select("event_id", "lid", "label_name")
    )
    assert got == rows_set(batch) and len(got) > 0


def test_streaming_video_files_decode_pipeline(spark, tmp_path):
    """The reference pipeline with REAL video input, as a stream: AVI
    FILES arrive in a directory (binaryFile source — one row per
    video), each micro-batch demuxes the RIFF container and decodes
    every MJPEG frame through the baseline-JPEG path, per-video stats
    land in the sink. The streaming result must equal the batch run of
    the identical operators over the same files — and both match the
    closed-form expectation from the frames' flat-block construction."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from video_streamer_spark.operators import video as V
    from video_streamer_spark.operators.jpeg import encode_jpeg_gray

    src = tmp_path / "videos"
    src.mkdir()
    rng = np.random.RandomState(21)
    want_sums = {}
    for vid in range(3):
        frames = []
        total = 0
        for _ in range(4):
            blocks = rng.randint(0, 256, (2, 2)).astype(np.uint8)
            total += int(blocks.sum()) * 64 * 3
            frames.append(
                encode_jpeg_gray(
                    np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1),
                    quant=1,
                )
            )
        (src / f"v{vid}.avi").write_bytes(V.mux_mjpeg_avi(frames, 16, 16))
        want_sums[vid] = total

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .load(str(src))
        .select(
            F.regexp_extract("path", r"v(\d+)\.avi", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    stats = V.decode_video_stats(stream)
    name = sp.run_available_now(stats, "video_sink", "append")
    got = {
        r["doc_id"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert set(got) == {0, 1, 2}
    for vid, r in got.items():
        assert r["n_frames"] == 4 and (r["width"], r["height"]) == (16, 16)
        assert r["pixel_sum"] == want_sums[vid]

    # streaming == batch over the same files (equivalence contract)
    batch = (
        spark.read.format("binaryFile")
        .load(str(src))
        .select(
            F.regexp_extract("path", r"v(\d+)\.avi", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    want = {r["doc_id"]: r for r in V.decode_video_stats(batch).collect()}
    for vid in got:
        assert tuple(got[vid]) == tuple(want[vid])


def test_stream_built_index_search_equals_batch_built(spark, tmp_path):
    """An IVF index built by STREAMING ingestion (multi-micro-batch,
    maxFilesPerTrigger=1 over a re-filed corpus) must answer searches
    identically to the batch-built index: same quantizer, same cells,
    same top-k."""
    from tests.conftest import SF_ORACLE
    from video_streamer_spark.catalog import table
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
    )
    from video_streamer_spark.streaming.index_stream import index_ingest_stream
    from video_streamer_spark.streaming.pipeline import stream_dir

    emb = table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    batch_path = str(tmp_path / "idx_batch")
    ivf_index_build(emb, batch_path, n_cells=16)
    want = sorted(
        tuple(r)
        for r in ivf_index_search(
            emb, batch_path, queries, k=3, n_cells=16, n_probe=4
        ).collect()
    )

    # re-file the corpus as multiple parquet files so availableNow
    # genuinely processes several micro-batches
    src = str(tmp_path / "vec_src")
    emb.repartition(4).write.parquet(src)
    stream = stream_dir(spark, src, emb.schema, max_files_per_trigger=1)
    stream_path = str(tmp_path / "idx_stream")
    index_ingest_stream(
        stream,
        stream_path,
        quantizer_corpus=emb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_cells=16,
    )
    got = sorted(
        tuple(r)
        for r in ivf_index_search(
            emb, stream_path, queries, k=3, n_cells=16, n_probe=4
        ).collect()
    )
    assert got == want


def test_streaming_cdc_upsert_converges_to_batch_upsert(spark, tmp_path):
    """Streaming CDC upsert (multi-micro-batch deltas) must leave the
    index identical to one batch upsert of the same delta set — last
    write wins per vec_id, cells consistent."""
    import pyspark.sql.functions as SF

    from tests.conftest import SF_ORACLE
    from video_streamer_spark.catalog import table
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_upsert,
    )
    from video_streamer_spark.streaming.index_stream import index_upsert_stream
    from video_streamer_spark.streaming.pipeline import stream_dir

    emb = table(spark, SF_ORACLE, "embeddings")
    delta = emb.where(SF.col("vec_id") < 20).select(
        "vec_id", SF.reverse("embedding").alias("embedding"), "label"
    )

    batch_path = str(tmp_path / "idx_b")
    ivf_index_build(emb, batch_path, n_cells=16)
    ivf_index_upsert(emb, batch_path, delta, n_cells=16)
    want = sorted(
        (r.vec_id, r.cell, tuple(r.c_vec))
        for r in spark.read.parquet(batch_path).collect()
    )

    stream_path = str(tmp_path / "idx_s")
    ivf_index_build(emb, stream_path, n_cells=16)
    src = str(tmp_path / "delta_src")
    delta.repartition(3).write.parquet(src)
    stream = stream_dir(spark, src, delta.schema, max_files_per_trigger=1)
    index_upsert_stream(
        stream,
        stream_path,
        quantizer_corpus=emb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_cells=16,
    )
    got = sorted(
        (r.vec_id, r.cell, tuple(r.c_vec))
        for r in spark.read.parquet(stream_path).collect()
    )
    assert got == want


# --------------------------------------------------------------------------
# Incremental materialized rollup (streaming/incremental.py)


def test_incremental_rollup_equals_batch(spark):
    """The journal-combined rollup must be indistinguishable from a full
    batch recompute regardless of micro-batch composition."""
    from pyspark.sql import functions as F

    from video_streamer_spark.catalog import table
    from video_streamer_spark.functions.parity import round2
    from video_streamer_spark.streaming.incremental import incremental_rollup

    got = sorted(
        tuple(r) for r in incremental_rollup(spark, SF_SMOKE, n_splits=5).collect()
    )
    e = table(spark, SF_SMOKE, "events")
    micros = F.floor(F.col("value").cast("double") * 1000000.0).cast("bigint")
    want = sorted(
        tuple(r)
        for r in (
            e.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
                "event_type",
            )
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                round2(F.sum(micros).cast("double") / 1000000.0).alias("sum_value"),
            )
        ).collect()
    )
    assert got == want
    assert len(got) > 1


def test_incremental_join_view_batch_composition_invariance(spark):
    """The maintained join view must equal itself under a different
    delta batching (3 vs 6 splits) — the IVM correctness property
    (maintained == recomputed holds for ANY batch composition)."""
    from video_streamer_spark.streaming.incremental import (
        incremental_join_rollup,
    )

    a = sorted(
        tuple(r)
        for r in incremental_join_rollup(spark, SF_SMOKE, n_splits=3).collect()
    )
    b = sorted(
        tuple(r)
        for r in incremental_join_rollup(spark, SF_SMOKE, n_splits=6).collect()
    )
    assert a == b
    assert len(a) > 0


def test_end_to_end_ingest_dedup_acid_replicate(spark, tmp_path):
    """The whole pipeline a real deployment composes, end to end:
    Kafka-wire ingest (encode → broker schema → decode) → streaming
    CDC upsert into the versioned ACID table (compacted per epoch,
    idempotent commits) → table_cdf change feed → CDC replication into
    a second table. The replica's final snapshot must equal the batch
    events relation — every stage is someone else's tested unit; this
    pins that they COMPOSE."""
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
    from video_streamer_spark.streaming.kafka_shim import (
        kafka_shaped_events,
        parse_events_from_kafka,
    )

    sf = SF_SMOKE
    tbl = str(tmp_path / "tbl")
    replica = str(tmp_path / "replica")
    # 1) ingest: wire-encoded stream, decoded back to typed rows
    # seq_col is CONSUMED by the per-epoch compaction (metadata, like a
    # Kafka offset/LSN) — derive one so the ts DATA column survives
    typed = parse_events_from_kafka(kafka_shaped_events(spark, sf)).select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).withColumn("__seq", F.unix_micros("ts"))
    # 2) CDC upsert into the ACID table (event_id key, ts as seq)
    seed = (
        btable(spark, sf, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .limit(0)
    )
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
    want = sorted(
        tuple(r)
        for r in btable(spark, sf, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .collect()
    )
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == want
    assert (
        sorted(tuple(r) for r in read_table(spark, replica).collect())
        == want
    )


# ---------------------------------------------------------------------------
# round 10: four-type streaming feed + maintained aggregate view


def test_cdf_stream_preimages_equal_batch_four_type_feed(spark, tmp_path):
    """option('preimages','true'): the streamed window equals the batch
    table_changes(include_preimages=True) row-for-row — updates carry
    both images, everything else is unchanged — and the default stream
    still emits the three-type feed."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        table_changes,
    )
    from video_streamer_spark.sources.cdf_source import register_cdf_source
    from video_streamer_spark.streaming.drain import drain_or_raise

    path = str(tmp_path / "t")
    base = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("val")
    )
    create_table(base, path, ["k"], n_buckets=4)
    register_cdf_source(spark)

    def drain(tag, start, **opts):
        out = str(tmp_path / f"feed-{tag}")
        reader = (
            spark.readStream.format("table_cdf")
            .option("path", path)
            .option("startingVersion", start)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, 120)
        return spark.read.parquet(out)

    changes = spark.createDataFrame(
        [(3, 99, "U"), (60, 1, "I"), (5, 0, "D"), (10, 10 % 5, "U")],
        ["k", "val", "__op"],
    ).withColumn("val", F.col("val").cast("long"))
    merge_table(spark, path, changes)

    four = drain("pre", 1, preimages="true").select(
        "k", "val", "_change_type"
    )
    batch = table_changes(spark, path, 1, 2, include_preimages=True)
    assert rows_set(four) == rows_set(
        batch.select("k", "val", "_change_type")
    )
    assert rows_set(
        four.where("_change_type = 'update_preimage'")
    ) == [(3, 3 % 5, "update_preimage")]
    three = drain("post", 1).select("k", "val", "_change_type")
    assert rows_set(three) == rows_set(
        table_changes(spark, path, 1, 2).select("k", "val", "_change_type")
    )


def test_cdf_stream_serves_nested_columns(spark, tmp_path):
    """array/struct/map payload columns flow through the table_cdf
    stream with exact values (null cells, null ELEMENTS, NaN) and
    correct change classification: a changed array is an update, an
    identical rewrite is carried-over (no event), NaN→NaN is unchanged
    (Spark equality semantics), and the four-type feed's pre-image
    carries the OLD nested value (r13 VERDICT item 2's cdf half)."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
    )
    from video_streamer_spark.sources.cdf_source import register_cdf_source
    from video_streamer_spark.streaming.drain import drain_or_raise

    path = str(tmp_path / "t")
    base = spark.sql(
        """
        SELECT id AS k,
          CASE WHEN id = 4 THEN NULL
               WHEN id = 5 THEN array(CAST(1.5 AS FLOAT), NULL)
               WHEN id = 6 THEN array(CAST('NaN' AS FLOAT))
               ELSE array(CAST(id AS FLOAT)) END AS emb,
          named_struct('a', CAST(id AS INT)) AS meta,
          map('m', id) AS props
        FROM range(0, 8)
        """
    )
    create_table(base, path, ["k"], n_buckets=2)
    register_cdf_source(spark)
    # v2: change k=0's array; rewrite k=6's NaN array IDENTICALLY
    # (must emit nothing); insert k=20 with a null element
    merge_table(
        spark,
        path,
        spark.sql(
            """
            SELECT 0 AS k, array(CAST(9.5 AS FLOAT)) AS emb,
                   named_struct('a', 0) AS meta, map('m', CAST(0 AS BIGINT)) AS props,
                   'U' AS __op
            UNION ALL
            SELECT 6, array(CAST('NaN' AS FLOAT)),
                   named_struct('a', 6), map('m', CAST(6 AS BIGINT)), 'U'
            UNION ALL
            SELECT 20, array(CAST(2.5 AS FLOAT), NULL),
                   named_struct('a', 20), map('m', CAST(20 AS BIGINT)), 'I'
            """
        ),
    )
    out = str(tmp_path / "feed")
    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("startingVersion", 1)
        .option("preimages", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, 120)
    feed = spark.read.parquet(out).collect()
    by = {(r["k"], r["_change_type"]): r for r in feed}
    assert set(by) == {
        (0, "update_preimage"),
        (0, "update_postimage"),
        (20, "insert"),
    }, f"got {sorted(by)}"
    assert by[(0, "update_preimage")]["emb"] == [0.0]
    assert by[(0, "update_postimage")]["emb"] == [9.5]
    ins = by[(20, "insert")]
    assert ins["emb"][1] is None and ins["meta"]["a"] == 20
    assert ins["props"] == {"m": 20}


def test_cdf_stream_null_double_cell_stays_null(spark, tmp_path):
    """A NULL double cell must stream as NULL, not NaN: numpy float
    scalars implement __array__, so a sequence check keyed on it would
    misroute every null float cell past the missing-value guard (r14
    review of the nested-cell work)."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
    )
    from video_streamer_spark.sources.cdf_source import register_cdf_source
    from video_streamer_spark.streaming.drain import drain_or_raise

    path = str(tmp_path / "t")
    create_table(
        spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(4)"),
        path,
        ["k"],
        n_buckets=2,
    )
    register_cdf_source(spark)
    merge_table(
        spark,
        path,
        spark.sql(
            "SELECT CAST(9 AS BIGINT) AS k, CAST(NULL AS DOUBLE) AS v, "
            "'I' AS __op"
        ),
    )
    out = str(tmp_path / "feed")
    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("startingVersion", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, 120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["k"] == 9
    assert rows[0]["v"] is None, f"NULL double leaked as {rows[0]['v']!r}"


def test_streaming_agg_view_tracks_recompute(spark, tmp_path):
    """The maintained view equals recompute-at-current after EVERY
    incremental pass — across the initial snapshot, group-moving
    updates, inserts-then-updated, tombstone deletes, a group emptied
    to zero (must vanish from the view), and a layout-only OPTIMIZE —
    and an idle pass is a no-op poll (no version churn)."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
        delete_keys,
        merge_table,
        optimize_table,
        read_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_agg_view,
        run_agg_view_pass,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 120).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 7).alias("val"),
    )
    create_table(base, src, ["k"], n_buckets=4)
    create_agg_view(view, ["grp"], ["val"], base, n_buckets=4)

    def recompute():
        return (
            read_table(spark, src)
            .groupBy("grp")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
            )
        )

    def check():
        run_agg_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
        assert rows_set(read_table(spark, view)) == rows_set(recompute())

    check()  # pass 1: initial snapshot folds in as inserts

    # pass 2: move k%3==0 to group 9, insert 120..129 (grp 1), delete k%5==1
    merge_table(
        spark,
        src,
        base.where("k % 3 = 0")
        .withColumn("grp", F.lit(9).cast("long"))
        .withColumn("__op", F.lit("U"))
        .unionByName(
            spark.range(120, 130).select(
                F.col("id").alias("k"),
                F.lit(1).cast("long").alias("grp"),
                (F.col("id") + 2).alias("val"),
                F.lit("I").alias("__op"),
            )
        )
        .unionByName(
            # disjoint from the k%3=0 move set: one key must appear at
            # most once in a changeset (apply_changeset's contract)
            base.where("k % 5 = 1 AND k % 3 != 0")
            .withColumn("__op", F.lit("D"))
            .select("k", "grp", "val", "__op"),
        ),
    )
    check()

    # pass 3: layout-only OPTIMIZE + tombstone deletes + bump inserts
    optimize_table(spark, src, "val", files_per_bucket=2)
    delete_keys(spark, src, spark.createDataFrame([(123,), (127,)], ["k"]))
    merge_table(
        spark,
        src,
        spark.range(120, 130)
        .where("id NOT IN (123, 127)")
        .select(
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("grp"),
            (F.col("id") + 3).alias("val"),
            F.lit("U").alias("__op"),
        ),
    )
    check()

    # pass 4: empty group 9 entirely — it must VANISH from the view
    dead = read_table(spark, src).where("grp = 9").select("k")
    delete_keys(spark, src, dead)
    check()
    assert read_table(spark, view).where("grp = 9").count() == 0

    # idle pass: nothing new — the view table must not churn versions
    v_before = current_version(view)
    run_agg_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
    assert current_version(view) == v_before


def test_agg_view_refuses_non_integral_sums(spark, tmp_path):
    from video_streamer_spark.streaming.agg_view import create_agg_view

    t = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("price")
    )
    with pytest.raises(ValueError, match="exact-integer"):
        create_agg_view(str(tmp_path / "v"), ["k"], ["price"], t)


def test_agg_view_refuses_null_group_values(spark, tmp_path):
    """A null group value would re-insert on every pass instead of
    updating (null never equals null in the keyed merge join) — the
    fold must refuse loudly rather than silently duplicate."""
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.streaming.agg_view import (
        create_agg_view,
        run_agg_view_pass,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, None, 20), (3, 1, 30)],
        "k bigint, grp bigint, val bigint",
    )
    create_table(base, src, ["k"], n_buckets=2)
    create_agg_view(view, ["grp"], ["val"], base, n_buckets=2)
    with pytest.raises(Exception, match="null.*group|group.*null"):
        run_agg_view_pass(
            spark, src, view, ["grp"], ["val"], str(tmp_path / "ckpt")
        )


def test_agg_view_chaos_tracks_recompute(spark, tmp_path):
    """CHAOS for the maintained view: a seeded-random interleaving of
    merges (upsert/insert/delete, sometimes group-moving), tombstone
    delete_keys, optimize_table, and a REBUCKET (the layout change
    that forces the CDF source's global-diff fallback), with an
    incremental pass after every few commits — each pass one
    availableNow drain on one checkpoint lineage (so each IS a
    restart). After every pass the view must equal the recompute at
    current, and the pass must be exactly-once under replay (version
    count grows by at most the number of non-empty windows)."""
    import random

    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_table,
        optimize_table,
        read_table,
        rebucket_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_agg_view,
        run_agg_view_pass,
    )

    rng = random.Random(0xA66A)
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    keys = list(range(90))
    base = spark.createDataFrame(
        [(k, k % 5, k * 3) for k in keys if k % 4 != 3],
        "k bigint, grp bigint, val bigint",
    )
    create_table(base, src, ["k"], n_buckets=4)
    create_agg_view(view, ["grp"], ["val"], base, n_buckets=4)
    n_buckets = 4

    def recompute():
        return rows_set(
            read_table(spark, src)
            .groupBy("grp")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
            )
        )

    for step in range(10):
        roll = rng.random()
        if roll < 0.55:
            rows = []
            for k in rng.sample(keys, rng.randint(2, 8)):
                op = rng.choice(["U", "I", "D"])
                # group-moving updates included: grp re-rolled freely
                rows.append(
                    (k, rng.randint(0, 5), rng.randint(0, 500), op)
                )
            merge_table(
                spark,
                src,
                spark.createDataFrame(
                    rows, "k bigint, grp bigint, val bigint, __op string"
                ),
                idempotency_key=f"chaos:{step}",
            )
        elif roll < 0.75:
            dead = rng.sample(keys, rng.randint(1, 4))
            delete_keys(
                spark,
                src,
                spark.createDataFrame([(k,) for k in dead], "k bigint"),
                idempotency_key=f"chaos-del:{step}",
            )
        elif roll < 0.9:
            optimize_table(spark, src, "val", files_per_bucket=2)
        else:
            n_buckets = 8 if n_buckets == 4 else 4
            rebucket_table(spark, src, n_buckets)
        if step % 3 == 2 or step == 9:
            run_agg_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
            assert rows_set(read_table(spark, view)) == recompute(), (
                f"view diverged from recompute after step {step}"
            )


def test_minmax_view_tracks_recompute(spark, tmp_path):
    """The min/max view (recompute-dirty-groups — the complementary
    operator to the signed-fold sum view, for aggregates with no
    inverse) equals recompute-at-current after EVERY pass — across the
    initial snapshot, a DELETE OF THE GROUP EXTREMUM (the exact
    mutation a signed fold cannot absorb), a group-moving update whose
    pre-image must dirty the OLD group, a group emptied to zero (must
    vanish from the view), and an idle pass (no version churn)."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
        delete_keys,
        merge_table,
        read_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_minmax_view,
        run_minmax_view_pass,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 120).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 7).alias("val"),
    )
    create_table(base, src, ["k"], n_buckets=4)
    create_minmax_view(view, ["grp"], ["val"], base, n_buckets=4)

    def recompute():
        return (
            read_table(spark, src)
            .groupBy("grp")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            )
        )

    def check(tag):
        run_minmax_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
        assert rows_set(read_table(spark, view)) == rows_set(recompute()), tag

    check("initial snapshot")

    # k=119 holds grp 3's max (833), k=0 holds grp 0's min (0): the
    # deletes remove BOTH extrema — the view's fresh values must come
    # from a re-read, not from any folded arithmetic
    delete_keys(spark, src, spark.createDataFrame([(119,), (0,)], ["k"]))
    check("extremum delete")

    # move k%10==5 into a NEW group 7: the update's pre-image must
    # dirty the old groups (their min/max may have moved with the row)
    merge_table(
        spark,
        src,
        base.where("k % 10 = 5")
        .withColumn("grp", F.lit(7).cast("long"))
        .withColumn("__op", F.lit("U")),
    )
    check("group-moving update")

    # empty group 7 entirely — it must VANISH from the view
    dead = read_table(spark, src).where("grp = 7").select("k")
    delete_keys(spark, src, dead)
    check("emptied group")
    assert read_table(spark, view).where("grp = 7").count() == 0

    v_before = current_version(view)
    run_minmax_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
    assert current_version(view) == v_before, "idle pass churned versions"


def test_minmax_view_refusals(spark, tmp_path):
    """create_minmax_view refuses empty group/minmax cols and nested
    (unorderable) tracked columns with named errors; the sum view's
    integral-only rule does NOT apply (min/max never accumulate)."""
    from video_streamer_spark.streaming.agg_view import create_minmax_view

    t = spark.range(3).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("price"),
        F.array(F.col("id")).alias("arr"),
    )
    with pytest.raises(ValueError, match="group_cols must be non-empty"):
        create_minmax_view(str(tmp_path / "v1"), [], ["price"], t)
    with pytest.raises(ValueError, match="minmax_cols must be non-empty"):
        create_minmax_view(str(tmp_path / "v2"), ["k"], [], t)
    with pytest.raises(ValueError, match="nested type"):
        create_minmax_view(str(tmp_path / "v3"), ["k"], ["arr"], t)
    with pytest.raises(ValueError, match="not in template"):
        create_minmax_view(str(tmp_path / "v4"), ["k"], ["ghost"], t)
    # DOUBLE is fine here (unlike create_agg_view): min/max select a
    # value, they never accumulate
    create_minmax_view(str(tmp_path / "v5"), ["k"], ["price"], t)


def test_agg_view_refuses_empty_group_cols(spark, tmp_path):
    from video_streamer_spark.streaming.agg_view import create_agg_view

    t = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="group_cols must be non-empty"):
        create_agg_view(str(tmp_path / "v"), [], ["v"], t)


def test_minmax_view_chaos_tracks_recompute(spark, tmp_path):
    """CHAOS for the min/max view, with the round's NEW commit types in
    the mix: seeded-random merges (group-moving updates included),
    tombstone deletes, OPTIMIZE, REBUCKET (forces the CDF global-diff
    fallback), RESTORE (deleted extrema come BACK — the mutation class
    this view exists for, arriving through the feed as inserts), and
    SNAPSHOT SYNC (arbitrary mirror replacement). After every pass the
    view must equal recompute-at-current."""
    import random

    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
        delete_keys,
        merge_table,
        optimize_table,
        read_table,
        rebucket_table,
        restore_table,
        sync_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_minmax_view,
        run_minmax_view_pass,
    )

    rng = random.Random(0xB17B)
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    keys = list(range(80))
    base = spark.createDataFrame(
        [(k, k % 5, k * 3) for k in keys if k % 4 != 3],
        "k bigint, grp bigint, val bigint",
    )
    create_table(base, src, ["k"], n_buckets=4)
    create_minmax_view(view, ["grp"], ["val"], base, n_buckets=4)
    n_buckets = 4

    def recompute():
        return rows_set(
            read_table(spark, src)
            .groupBy("grp")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            )
        )

    for step in range(12):
        roll = rng.random()
        if roll < 0.4:
            rows = []
            for k in rng.sample(keys, rng.randint(2, 8)):
                op = rng.choice(["U", "I", "D"])
                rows.append((k, rng.randint(0, 5), rng.randint(0, 500), op))
            merge_table(
                spark,
                src,
                spark.createDataFrame(
                    rows, "k bigint, grp bigint, val bigint, __op string"
                ),
                idempotency_key=f"mm-chaos:{step}",
            )
        elif roll < 0.55:
            dead = rng.sample(keys, rng.randint(1, 4))
            delete_keys(
                spark,
                src,
                spark.createDataFrame([(k,) for k in dead], "k bigint"),
                idempotency_key=f"mm-chaos-del:{step}",
            )
        elif roll < 0.68:
            optimize_table(spark, src, "val", files_per_bucket=2)
        elif roll < 0.8:
            n_buckets = 8 if n_buckets == 4 else 4
            rebucket_table(spark, src, n_buckets)
        elif roll < 0.9:
            # restore to a random retained version: deleted extrema
            # come back through the feed as inserts
            v = rng.randint(1, current_version(src))
            restore_table(src, v)
        else:
            # mirror replacement: a random subset with re-rolled values
            kept = rng.sample(keys, rng.randint(30, 60))
            mirror = spark.createDataFrame(
                [(k, k % 5, rng.randint(0, 500)) for k in sorted(kept)],
                "k bigint, grp bigint, val bigint",
            )
            sync_table(
                spark,
                src,
                mirror,
                idempotency_key=f"mm-chaos-sync:{step}",
                max_delete_fraction=1.0,
            )
        if step % 3 == 2 or step == 11:
            run_minmax_view_pass(spark, src, view, ["grp"], ["val"], ckpt)
            assert rows_set(read_table(spark, view)) == recompute(), (
                f"minmax view diverged after step {step}"
            )


def test_cdf_stream_starting_timestamp(spark, tmp_path):
    """option('startingTimestamp', ts): the stream's first window
    begins after the latest commit at-or-before ts (Delta's
    startingTimestamp in this source's vocabulary) — a ts captured
    between v1 and v2 skips the initial snapshot and streams exactly
    the v2+v3 changes; combining it with startingVersion is refused;
    a timestamp older than the oldest retained commit is loud."""
    import time as _time

    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        table_changes,
    )
    from video_streamer_spark.sources.cdf_source import register_cdf_source
    from video_streamer_spark.streaming.drain import drain_or_raise

    path = str(tmp_path / "t")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("val")
    )
    create_table(base, path, ["k"], n_buckets=4)  # v1
    t_mid = _time.time()
    _time.sleep(0.02)
    merge_table(
        spark,
        path,
        spark.createDataFrame([(3, 99, "U")], ["k", "val", "__op"])
        .withColumn("val", F.col("val").cast("long")),
    )  # v2
    merge_table(
        spark,
        path,
        spark.createDataFrame([(40, 1, "I")], ["k", "val", "__op"])
        .withColumn("val", F.col("val").cast("long")),
    )  # v3
    register_cdf_source(spark)

    def drain(tag, **opts):
        out = str(tmp_path / f"feed-{tag}")
        reader = spark.readStream.format("table_cdf").option("path", path)
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, 120)
        return spark.read.parquet(out)

    got = drain("ts", startingTimestamp=str(t_mid)).select(
        "k", "val", "_change_type"
    )
    want = table_changes(spark, path, 1, 3).select(
        "k", "val", "_change_type"
    )
    assert rows_set(got) == rows_set(want)
    assert rows_set(got.where("_change_type = 'insert'")) == [
        (40, 1, "insert")
    ]
    with pytest.raises(Exception, match="mutually exclusive"):
        drain("both", startingTimestamp=str(t_mid), startingVersion=1)
    with pytest.raises(Exception, match="as old as timestamp"):
        drain("old", startingTimestamp="1.5")
