"""Detection-metadata pipeline operators — the reference's own computation
(reference gst-detection-tf.py:288-400) re-expressed relationally:

    raw detections → threshold filter → pixel-coordinate scaling →
    label broadcast-join → aggregate / sink

Semantics preserved from the reference:
- threshold: keep boxes with ``score > threshold`` (strict >, mask at
  gst-detection-tf.py:296-297; default 0.7 from config/settings.yaml:15).
- scaling: normalized [ymin,xmin,ymax,xmax] × (height,width) cast to int
  (gst-detection-tf.py:298-306). We floor() explicitly: numpy's
  astype(int32) truncates, and floor == truncate for non-negative coords.
- label join: the 80-row dict lookup (gst-detection-tf.py:114-121,396)
  becomes a broadcast hash join — no shuffle at any scale.

Deliberate divergences (SURVEY.md §2.1 quirks): we emit true
(x_min,y_min,x_max,y_max) instead of the reference's mislabeled VDMS
rectangle (quirk 1), and key rows by real (frame_id, box_idx) instead of
the box-index-as-frame-id ``_ref`` (quirk 2).

``synthetic_detections`` derives a deterministic detections fact table
from the driver's ``events`` table with pure integer-modular arithmetic,
so the DuckDB oracle can rebuild the identical table — this replaces the
FIXTURES.md ``detections`` fixture without writing anything to disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_THRESHOLD = 0.7  # config/settings.yaml:15 ("face_threshold")
FRAME_WIDTH = 1920
FRAME_HEIGHT = 1080
BOXES_PER_FRAME = 10


def synthetic_detections(events: DataFrame) -> DataFrame:
    """Deterministic pseudo-detections keyed by events.event_id.

    Stands in for model output tensors (bboxes, scores, classes —
    gst-detection-tf.py:236): every field is integer-modular over
    event_id, identically computable in any engine.
    """
    # one selectExpr, one gateway round-trip (the ~30 Column ops cost
    # ~0.1 s of Py4J per construction — round-6 floor study, PLANS.md);
    # D-suffixed divisors keep every term the same DOUBLE the Column
    # version produced
    return events.selectExpr(
        f"CAST(floor(event_id / {BOXES_PER_FRAME}) AS BIGINT) AS frame_id",
        f"CAST(event_id % {BOXES_PER_FRAME} AS INT) AS box_idx",
        "((event_id * 37) % 80) / 100.0D AS ymin",
        "((event_id * 53) % 80) / 100.0D AS xmin",
        "((event_id * 37) % 80) / 100.0D"
        " + ((event_id * 11) % 20 + 1) / 100.0D AS ymax",
        "((event_id * 53) % 80) / 100.0D"
        " + ((event_id * 29) % 20 + 1) / 100.0D AS xmax",
        "CAST(1 + event_id % 80 AS INT) AS label_id",
        "((event_id * 13) % 100) / 100.0D AS score",
    )


def threshold_filter(det: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Confidence predicate (strict >), pushed down to the scan by
    Catalyst. The D suffix keeps the literal a DOUBLE (a bare 0.5
    would parse as DECIMAL and change the comparison's tree)."""
    return det.where(f"score > {float(threshold)!r}D")


def scale_boxes(
    det: DataFrame, width: int = FRAME_WIDTH, height: int = FRAME_HEIGHT
) -> DataFrame:
    """Normalized [0,1] box corners → integer pixel coordinates."""
    return det.selectExpr(
        "frame_id",
        "box_idx",
        f"CAST(floor(xmin * {width}) AS INT) AS x_min",
        f"CAST(floor(ymin * {height}) AS INT) AS y_min",
        f"CAST(floor(xmax * {width}) AS INT) AS x_max",
        f"CAST(floor(ymax * {height}) AS INT) AS y_max",
        "label_id",
        "score",
    )


def with_labels(det: DataFrame, labels: DataFrame) -> DataFrame:
    """80-row dim lookup as an explicit broadcast hash join."""
    return det.join(F.broadcast(labels), "label_id")


def per_label_counts(det_labeled: DataFrame) -> DataFrame:
    return det_labeled.groupBy("label_id", "label_name").agg(
        F.expr("count(*) AS n_detections")
    )


def per_frame_counts(det: DataFrame) -> DataFrame:
    return det.groupBy("frame_id").agg(F.expr("count(*) AS n_boxes"))


def annotate_frames(
    frames: DataFrame,
    det: DataFrame,
    width: int,
    height: int,
    id_col: str = "frame_id",
    bin_col: str = "payload",
) -> DataFrame:
    """O20 annotate/render (reference gst-detection-tf.py:331-337): burn
    1-px box outlines into the RGB raster, colored by label.

    Boxes collect per frame (collect_list after the detections shuffle),
    join the frame payloads, and an Arrow-batched mapInPandas draws the
    perimeters with numpy slice assignment — the Spark shape of the
    reference's per-frame overlay loop. Emits the annotated raw RGB
    raster plus the bytes drawn, so the render is value-checkable.
    """
    import sys

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from video_streamer_spark.functions.shipping import on_worker, ship_module
    from video_streamer_spark.operators import multimodal
    from video_streamer_spark.operators.multimodal import decode_frame

    ship_module(sys.modules[__name__])
    # draw() closes over decode_frame, which cloudpickle serializes BY
    # REFERENCE to multimodal unless that module is also registered —
    # an external-cwd worker then dies with ModuleNotFoundError, but
    # ONLY when no earlier query in the process shipped multimodal
    # first (order-dependent; caught by the r13 head pre-verify when
    # the sample reshuffle moved the image family behind x44).
    # multimodal's decode path in turn references the jpeg module at
    # ITS module level, so the transitive dep ships too (same pair
    # imagehash/video ship).
    ship_module(multimodal)
    from video_streamer_spark.operators import jpeg as _jpeg_dep

    ship_module(_jpeg_dep)

    boxes = det.groupBy(F.col(id_col)).agg(
        F.collect_list(
            F.struct("x_min", "y_min", "x_max", "y_max", "label_id")
        ).alias("boxes")
    )
    joined = frames.join(boxes, id_col, "left").select(id_col, bin_col, "boxes")

    out_schema = StructType(
        [
            StructField("frame_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("n_boxes", IntegerType()),
            StructField("out_byte_sum", LongType()),
        ]
    )

    @on_worker
    def draw(batches):
        for pdf in batches:
            out = {"frame_id": [], "payload": [], "n_boxes": [], "out_byte_sum": []}
            for fid, payload, bxs in zip(pdf[id_col], pdf[bin_col], pdf["boxes"]):
                a = decode_frame(bytes(payload))
                if a.ndim == 1:
                    a = a.reshape(height, width, 3)
                a = a.copy()
                bxs = bxs if bxs is not None else []
                for b in bxs:
                    x0 = max(0, int(b["x_min"]))
                    y0 = max(0, int(b["y_min"]))
                    x1 = min(a.shape[1] - 1, int(b["x_max"]))
                    y1 = min(a.shape[0] - 1, int(b["y_max"]))
                    if x1 < x0 or y1 < y0:
                        continue
                    lab = int(b["label_id"])
                    color = ((lab * 37) % 256, (lab * 59) % 256, (lab * 83) % 256)
                    a[y0, x0 : x1 + 1] = color
                    a[y1, x0 : x1 + 1] = color
                    a[y0 : y1 + 1, x0] = color
                    a[y0 : y1 + 1, x1] = color
                out["frame_id"].append(int(fid))
                out["payload"].append(a.tobytes())
                out["n_boxes"].append(len(bxs))
                out["out_byte_sum"].append(int(a.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return joined.mapInPandas(draw, out_schema)
