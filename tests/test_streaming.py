"""Streaming ↔ batch equivalence (SURVEY.md §5.2 strategy 2) and the
end-to-end streaming detection pipeline with the idempotent sink. The
default-tier slice (q14/q15 parity, the ACID ingest chain) is
``test_stream_parity.py``.
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
    store sink (``table_format.run_acid_merge_sink``, one commit per
    epoch); result must equal the batch run of the same ops.
    """
    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
        read_table,
        run_acid_merge_sink,
    )
    from video_streamer_spark.sources.labels import labels

    docs = table(spark, SF_SMOKE, "documents")
    frames = documents_as_payloads(docs).withColumnRenamed("doc_id", "frame_id")
    src = str(tmp_path / "frames_src")
    frames.coalesce(2).write.mode("overwrite").parquet(src)
    want = D.scale_boxes(D.threshold_filter(infer_detections(frames)))
    out = str(tmp_path / "det_table")
    keys = ["frame_id", "box_idx"]
    create_table(want.limit(0), out, keys, n_buckets=2)
    ckpt = str(tmp_path / "ckpt")

    def sink_detections():
        stream = sp.stream_dir(spark, src, frames.schema)
        det = D.scale_boxes(D.threshold_filter(infer_detections(stream)))
        # seq_col=None: the sink asserts at most one row per key per
        # batch, i.e. real (frame_id, box_idx) lineage
        run_acid_merge_sink(det, out, keys, None, ckpt)

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        sink_detections()
    finally:
        spark.streams.removeListener(listener)

    got = read_table(spark, out)
    assert rows_set(got) == rows_set(want)
    assert got.groupBy(*keys).count().where("count > 1").count() == 0
    # a restart on the drained checkpoint commits nothing
    v = current_version(out)
    sink_detections()
    assert current_version(out) == v
    # label join on the sink output (reference O16→O18 tail)
    labeled = D.with_labels(got, labels(spark))
    assert labeled.count() == got.count()
    # metrics listener saw the work (reference metrics dict analog)
    s = listener.summary()
    assert s["frames"] > 0 and s["total"] > 0


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


def test_streaming_chunking_matches_batch(spark):
    """x63's chunker is stateless codegen, so the IDENTICAL operator must
    produce the identical chunk set when documents arrive as a stream —
    the stream↔batch equivalence contract extended to the curation ops."""
    from video_streamer_spark.operators.text import chunk_documents
    from video_streamer_spark import scratch
    from video_streamer_spark.streaming.pipeline import stream_dir

    docs = table(spark, SF_ORACLE, "documents")
    batch = rows_set(chunk_documents(docs))

    src = scratch.built_dir(
        spark,
        SF_ORACLE,
        "stream-documents",
        lambda stage: scratch.link_dir(stage, [f"{SF_ORACLE}/documents.parquet"]),
    )
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


def test_agg_view_refuses_null_group_values(spark, tmp_path):
    """A null group value would re-insert on every pass instead of
    updating (null never equals null in the keyed merge join) — the
    view pass must refuse loudly rather than silently duplicate."""
    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_minmax_view,
        run_minmax_view_pass,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, None, 20), (3, 1, 30)],
        "k bigint, grp bigint, val bigint",
    )
    create_table(base, src, ["k"], n_buckets=2)
    create_minmax_view(view, ["grp"], ["val"], base, n_buckets=2)
    v = current_version(view)
    with pytest.raises(Exception, match="null.*group|group.*null"):
        run_minmax_view_pass(
            spark, src, view, ["grp"], ["val"], str(tmp_path / "ckpt")
        )
    assert current_version(view) == v


def test_minmax_view_tracks_recompute(spark, tmp_path):
    """The min/max view (recompute-dirty-groups, for aggregates with no
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
    (unorderable) tracked columns with named errors; non-integral
    columns are fine (min/max never accumulate)."""
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
    # DOUBLE is fine: min/max select a value, they never accumulate
    create_minmax_view(str(tmp_path / "v5"), ["k"], ["price"], t)


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
