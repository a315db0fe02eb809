"""Kafka-shaped streaming source stand-in.

SURVEY §1.4 names Kafka as the real-deployment ingest; this container has
no broker, so the honest substitute is a source that produces records in
the EXACT wire shape `spark.readStream.format("kafka")` yields — same
column names, same types, same key/value-as-bytes contract — backed by
the file/rate sources that do exist here. The CONSUMER side
(``parse_events_from_kafka``) is the real production code either way: on
a live broker only the reader line changes
(``.format("kafka").option("kafka.bootstrap.servers", ...)``), every
transformation downstream of the wire schema is identical.

Payload convention: value is a JSON document with ``ts`` carried as
unix-microseconds (integer) — the usual Kafka-payload choice, and it
round-trips exactly (ISO-string timestamps lose trailing-zero fidelity
across serializers). Key is the user id (Kafka's partition-affinity
field); ``partition`` derives from a hash of the key like the default
partitioner, and ``offset`` reuses the globally-unique event id (a real
broker would assign per-partition monotone offsets — documented
stand-in deviation, nothing downstream here depends on offset order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# the exact shape of a spark-sql-kafka source output
KAFKA_WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)

# events-table payload as it travels inside `value` (ts = unix micros)
EVENTS_VALUE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def to_kafka_wire(
    events: DataFrame, topic: str = "events", n_partitions: int = 8
) -> DataFrame:
    """Producer-side encode: events rows → Kafka wire records. Works on a
    batch OR streaming DataFrame (pure expressions, no state)."""
    value = F.to_json(
        F.struct(
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.col("value"),
            F.col("props"),
        )
    )
    return events.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(value, "UTF-8").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.crc32(F.col("user_id").cast("string").cast("binary")), F.lit(n_partitions))
        .cast("int")
        .alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),  # CreateTime
    )


def kafka_shaped_events(
    spark: SparkSession,
    sf_dir: str,
    topic: str = "events",
    n_partitions: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source with the Kafka wire schema, fed by the events
    file stream (the broker stand-in)."""
    from video_streamer_spark.streaming.pipeline import events_stream

    ev = events_stream(spark, sf_dir, max_files_per_trigger)
    return to_kafka_wire(ev, topic=topic, n_partitions=n_partitions)


def parse_events_from_kafka(kafka_df: DataFrame) -> DataFrame:
    """Consumer-side decode: wire records → typed events rows. THIS is
    the code that runs unchanged against a real broker."""
    parsed = kafka_df.select(
        F.from_json(F.decode(F.col("value"), "UTF-8"), EVENTS_VALUE_SCHEMA).alias("v")
    )
    return parsed.select(
        F.col("v.event_id").alias("event_id"),
        F.col("v.user_id").alias("user_id"),
        F.col("v.event_type").alias("event_type"),
        F.timestamp_micros(F.col("v.ts_us")).alias("ts"),
        F.col("v.value").alias("value"),
        F.col("v.props").alias("props"),
    )
