"""Q19 — detections pipeline replay (SURVEY.md §2.3): the reference's
end-to-end semantic (filter → scale → label join → aggregate,
gst-detection-tf.py:288-400) as declared queries with a DuckDB oracle.

The detections fact table is derived deterministically from ``events``
(operators/detections.py) so both engines rebuild the identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from video_streamer_spark.catalog import table
from video_streamer_spark.operators import detections as D
from video_streamer_spark.queries import query
from video_streamer_spark.sources.labels import labels

# shared CTE rebuilding the synthetic detections table in DuckDB; must
# match operators/detections.synthetic_detections
_DET_CTE = f"""
  det AS (
    SELECT
      CAST(FLOOR(event_id / {D.BOXES_PER_FRAME}) AS BIGINT) AS frame_id,
      CAST(event_id % {D.BOXES_PER_FRAME} AS INT) AS box_idx,
      ((event_id * 37) % 80) / 100.0 AS ymin,
      ((event_id * 53) % 80) / 100.0 AS xmin,
      ((event_id * 37) % 80) / 100.0 + ((event_id * 11) % 20 + 1) / 100.0 AS ymax,
      ((event_id * 53) % 80) / 100.0 + ((event_id * 29) % 20 + 1) / 100.0 AS xmax,
      CAST(1 + event_id % 80 AS INT) AS label_id,
      ((event_id * 13) % 100) / 100.0 AS score
    FROM events),
  filtered AS (
    SELECT * FROM det WHERE score > {D.DEFAULT_THRESHOLD}),
  scaled AS (
    SELECT frame_id, box_idx,
      CAST(FLOOR(xmin * {D.FRAME_WIDTH}) AS INT) AS x_min,
      CAST(FLOOR(ymin * {D.FRAME_HEIGHT}) AS INT) AS y_min,
      CAST(FLOOR(xmax * {D.FRAME_WIDTH}) AS INT) AS x_max,
      CAST(FLOOR(ymax * {D.FRAME_HEIGHT}) AS INT) AS y_max,
      label_id, score
    FROM filtered),
  labels AS (
    SELECT CAST(range AS INT) AS label_id,
           'label_' || CAST(range AS VARCHAR) AS label_name
    FROM range(1, 81))
"""


def _pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    det = D.scale_boxes(
        D.threshold_filter(D.synthetic_detections(events))
    )
    return D.with_labels(det, labels(spark))


@query(
    "q19a_detections_per_label",
    oracle=f"""
    WITH {_DET_CTE}
    SELECT s.label_id, l.label_name, COUNT(*) AS n_detections
    FROM scaled s JOIN labels l ON s.label_id = l.label_id
    GROUP BY s.label_id, l.label_name
    """,
)
def q19a_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.per_label_counts(_pipeline(spark, sf_dir))


# Full O10→O18 replay INCLUDING the mapInPandas inference operator: binary
# payloads → stub model → threshold → scale → label join → counts. The
# stub model is integer-modular over the payload byte-sum, so the oracle
# reproduces the entire inference path in SQL.
@query(
    "x13_inference_replay",
    oracle=f"""
    WITH pay AS (
      SELECT doc_id AS frame_id,
        CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT) AS s
      FROM documents),
    boxes AS (
      SELECT frame_id, CAST(i AS INT) AS box_idx,
        ((s*7 + i*13) % 70) / 100.0 AS ymin,
        ((s*11 + i*17) % 70) / 100.0 AS xmin,
        ((s*7 + i*13) % 70) / 100.0 + ((s*3 + i*5) % 25 + 5) / 100.0 AS ymax,
        ((s*11 + i*17) % 70) / 100.0 + ((s*5 + i*7) % 25 + 5) / 100.0 AS xmax,
        CAST(1 + ((s + i*31) % 80) AS INT) AS label_id,
        ((s*13 + i*41) % 100) / 100.0 AS score
      FROM pay, (SELECT unnest([0,1,2]) AS i) ii
      WHERE i < (s % 3) + 1),
    filtered AS (SELECT * FROM boxes WHERE score > {D.DEFAULT_THRESHOLD}),
    scaled AS (
      SELECT frame_id, box_idx,
        CAST(FLOOR(xmin * {D.FRAME_WIDTH}) AS INT) AS x_min,
        CAST(FLOOR(ymin * {D.FRAME_HEIGHT}) AS INT) AS y_min,
        CAST(FLOOR(xmax * {D.FRAME_WIDTH}) AS INT) AS x_max,
        CAST(FLOOR(ymax * {D.FRAME_HEIGHT}) AS INT) AS y_max,
        label_id, score
      FROM filtered),
    labels AS (
      SELECT CAST(range AS INT) AS label_id,
             'label_' || CAST(range AS VARCHAR) AS label_name
      FROM range(1, 81))
    SELECT s.label_id, l.label_name, COUNT(*) AS n_detections
    FROM scaled s JOIN labels l ON s.label_id = l.label_id
    GROUP BY s.label_id, l.label_name
    """,
)
def x13_inference_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.inference import infer_detections
    from video_streamer_spark.operators.multimodal import documents_as_payloads

    docs = table(spark, sf_dir, "documents")
    frames = documents_as_payloads(docs).withColumnRenamed("doc_id", "frame_id")
    det = infer_detections(frames)
    det = D.scale_boxes(D.threshold_filter(det))
    return D.per_label_counts(D.with_labels(det, labels(spark)))


# O11/O12 with a REAL weights-based model (round-6 VERDICT item 5): a
# pure-numpy conv layer (stored 3×3 kernel, im2col+tensordot forward
# pass) detects a rectangle PLANTED per frame_id — the detector must
# recover the planted bounds exactly (x197's planted-shift evidence
# style), so the oracle rebuilds the geometry and head arithmetic in
# SQL. Frames are synthesized executor-side from events ids; no pixel
# touches the driver.
@query(
    "x199_tiny_conv_detections",
    oracle="""
    WITH f AS (
      SELECT event_id AS frame_id FROM events WHERE event_id % 17 = 0),
    b AS (
      SELECT frame_id,
        3 + (frame_id * 7) % 40 AS top,
        3 + (frame_id * 11) % 40 AS lft,
        3 + (frame_id * 7) % 40 + 6 + (frame_id * 5) % 12 AS bot,
        3 + (frame_id * 11) % 40 + 6 + (frame_id * 3) % 12 AS rgt
      FROM f),
    a AS (
      SELECT frame_id, top, lft, bot, rgt,
        (bot - top + 1) * (rgt - lft + 1) AS area
      FROM b)
    SELECT frame_id,
      CAST(top AS INT) AS ymin, CAST(lft AS INT) AS xmin,
      CAST(bot AS INT) AS ymax, CAST(rgt AS INT) AS xmax,
      CAST(1 + area % 80 AS INT) AS label_id,
      CAST(area AS DOUBLE) / 4096.0 AS score
    FROM a
    """,
)
def x199_tiny_conv_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from video_streamer_spark.operators.inference import infer_detections
    from video_streamer_spark.operators.npmodel import (
        load_tiny_conv,
        rendered_frames,
    )

    ids = (
        table(spark, sf_dir, "events")
        .select(F.col("event_id").alias("frame_id"))
        .where(F.col("frame_id") % 17 == 0)
    )
    det = infer_detections(rendered_frames(ids), model_loader=load_tiny_conv)
    return det.select(
        "frame_id",
        F.col("ymin").cast("int").alias("ymin"),
        F.col("xmin").cast("int").alias("xmin"),
        F.col("ymax").cast("int").alias("ymax"),
        F.col("xmax").cast("int").alias("xmax"),
        "label_id",
        "score",
    )


@query(
    "q19b_detections_per_frame",
    oracle=f"""
    WITH {_DET_CTE}
    SELECT frame_id, COUNT(*) AS n_boxes
    FROM scaled
    GROUP BY frame_id
    """,
)
def q19b_per_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.per_frame_counts(_pipeline(spark, sf_dir))
