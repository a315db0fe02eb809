"""Streaming pipelines mirroring the batch queries.

The reference is a push-based one-frame-at-a-time stream (`do_transform_ip`,
gst-detection-tf.py:442-453); Spark's analog is Structured Streaming
micro-batches. Design decisions, each fixing a reference quirk:

- **bounded state**: the reference buffers every DB row in memory and
  flushes once at EOS (gst-detection-tf.py:322,339-344) — unbounded
  state. The store sink writes per micro-batch via foreachBatch.
- **idempotence**: the store sink is
  ``table_format.run_acid_merge_sink``: each epoch commits one table
  version keyed by ``checkpoint:epoch``, so a retried epoch is a no-op
  instead of a duplicate — exactly-once end state on top of
  at-least-once epoch delivery. Rows carry real
  ``(frame_id, box_idx)`` lineage (fixing quirk 2: the reference stored
  the box index as ``_ref`` and lost the frame id).
- **late data**: ``withWatermark`` bounds aggregation state; the
  reference has no late-data story (in-order file read assumed).
- **Trigger.AvailableNow** drains all available input then stops — the
  streaming twin of a batch run, used by the batch↔stream equivalence
  tests and matching the reference's run-to-EOS lifecycle (O24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark import scratch
from video_streamer_spark.streaming.drain import drain_or_raise


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table (schema from the batch
    read, ns→µs conversion identical to catalog._events)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the streaming file source requires a directory: expose the single
    # table file through a session-scoped dir holding one symlink (no
    # data copy, never a write into the data dir)
    src_dir = scratch.built_dir(
        spark,
        sf_dir,
        "stream-events",
        lambda stage: scratch.link_dir(stage, [f"{sf_dir}/events.parquet"]),
    )
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(src_dir)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # session tz is UTC, so NTZ→LTZ preserves the instant; keeps the
        # streaming twin's ts dtype identical to catalog._events
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_dir(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Generic parquet-directory stream (frames/payloads land as files —
    the Spark analog of the reference's filesrc, run.sh:53)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Q14's streaming twin: watermarked hourly tumbling aggregation."""
    from video_streamer_spark.queries.temporal import tumbling_agg

    return tumbling_agg(events.withWatermark("ts", watermark))


def session_stream(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Q15's streaming twin: native session windows with a gap timeout."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )


def _backlog_bytes(path: str) -> int | None:
    """Bytes of the data files a file-source stream lists under ``path``
    (a glob of files and of dirs walked through symlinks; hidden ``_``/``.``
    names skipped, as Spark skips them), or None for a non-local path."""
    import glob
    import os
    from urllib.parse import urlparse

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    total = 0
    for root in glob.glob(local):
        if os.path.isfile(root):
            total += os.path.getsize(root)
        for d, dirs, files in os.walk(root, followlinks=True):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    return total


def _scan_splits(backlog_bytes: int, split_bytes: int, ceiling: int) -> int:
    """One state partition per scan split of the backlog, in [1, ceiling]."""
    return max(1, min(ceiling, -(-backlog_bytes // split_bytes)))


def _state_partitions(stream_df: DataFrame) -> int:
    """``run_available_now``'s state-partition count. A streaming leaf
    whose files cannot be seen from here (rate, memory, Kafka, Python
    data sources, remote paths), or an empty backlog, keeps the
    session's ``spark.sql.shuffle.partitions``."""
    spark = stream_df.sparkSession
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    leaves = stream_df._jdf.queryExecution().analyzed().collectLeaves()
    backlog = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue  # the static side of a stream-static join holds no state
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return ceiling
        path = leaf.dataSource().options().get("path")
        n = _backlog_bytes(path.get()) if path.isDefined() else None
        if n is None:
            return ceiling
        backlog += n
    if backlog == 0:
        return ceiling
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return _scan_splits(backlog, split, ceiling)


def run_available_now(
    stream_df: DataFrame,
    sink_name: str,
    output_mode: str = "complete",
    timeout_sec: int = 300,
):
    """Drain the stream into an in-memory table and stop (EOS semantics,
    reference O21/O24). Returns the sink table name for spark.sql().

    State is sized to the backlog, not to the box: a stateful operator
    keeps one state-store instance per shuffle partition and every
    trigger commits each of them, empty or not. So the stream starts
    with one state partition per ``spark.sql.files.maxPartitionBytes``
    split of its source files' bytes — the count of scan tasks the
    backlog needs — between 1 and the session's
    ``spark.sql.shuffle.partitions``; a large stream runs exactly as
    before, and a source whose files cannot be seen keeps the session
    value (``_state_partitions``). The count is set only around
    ``start()``: the query clones the session there and pins the count
    in its checkpoint, and the caller's session gets its value back
    even when ``start()`` raises. Another thread starting work on the
    same session during ``start()`` would see the count too.
    """
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(_state_partitions(stream_df)))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, prior)
    drain_or_raise(q, timeout_sec, f"run_available_now({sink_name})")
    return sink_name
