"""Per-record ML inference as a Spark operator — the reference's core
(O11 model load + O12 inference, gst-detection-tf.py:200-237,288-289)
re-expressed as an Arrow-batched ``mapInPandas`` UDTF:

- **per-partition lazy init**: the model loads once per partition
  iterator and stays warm across Arrow batches — the Spark analog of the
  reference's per-process TF session (gst-detection-tf.py:200-237).
- **batch in, relation out**: each binary frame payload yields 0..k
  detection rows (frame explode at gst-detection-tf.py:392-400 happens
  inside the UDF — no second explode pass).
- **pluggable model**: ``model_fn`` receives (payload_bytes, frame_id)
  and returns a list of (ymin, xmin, ymax, xmax, label_id, score). Real
  deployments plug TF/ONNX here; the default ``stub_model`` is a
  deterministic integer-modular function of the payload byte-sum so the
  whole inference path is verifiable against a SQL oracle. A loader
  defined in another module of this package ships with that module.
- **per-task fixed cost**: the UDF runs through ``shipping.on_worker``.
  Without it each Python task paid about 0.2 s before the body ran,
  re-reading ``pyspark.zip`` and the Spark jar's zip directories in the
  worker's ``importlib.invalidate_caches()``; with it a worker re-reads
  an archive only when it changed. In a streaming ``foreachBatch``
  sink every re-execution of the micro-batch source is such a task.

Scale notes: inference cost dominates I/O, so parallelism = partition
count; ``repartition(n_tasks)`` before this operator is the analog of
the reference's instances=cores/4 fan-out (run.sh:43-55). Arrow batch
size is capped in session.py so MB-scale frames can't blow worker memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

Box = tuple[float, float, float, float, int, float]

DETECTION_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("box_idx", IntegerType()),
        StructField("ymin", DoubleType()),
        StructField("xmin", DoubleType()),
        StructField("ymax", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("label_id", IntegerType()),
        StructField("score", DoubleType()),
    ]
)


def stub_model(payload: bytes, frame_id: int) -> list[Box]:
    """Deterministic pseudo-detector: boxes derived from the payload
    byte-sum by integer-modular arithmetic (SQL-reproducible).
    """
    import numpy as np

    # C-speed byte sum — a per-byte Python loop is O(payload) interpreted
    # work per frame inside the batch UDF
    s = int(np.frombuffer(bytes(payload), dtype=np.uint8).sum(dtype=np.int64))
    n_boxes = (s % 3) + 1
    boxes: list[Box] = []
    for i in range(n_boxes):
        ymin = ((s * 7 + i * 13) % 70) / 100.0
        xmin = ((s * 11 + i * 17) % 70) / 100.0
        boxes.append(
            (
                ymin,
                xmin,
                ymin + ((s * 3 + i * 5) % 25 + 5) / 100.0,
                xmin + ((s * 5 + i * 7) % 25 + 5) / 100.0,
                1 + ((s + i * 31) % 80),
                ((s * 13 + i * 41) % 100) / 100.0,
            )
        )
    return boxes


def infer_detections(
    frames: DataFrame,
    id_col: str = "frame_id",
    bin_col: str = "payload",
    model_loader: Callable[[], Callable[[bytes, int], list[Box]]] | None = None,
) -> DataFrame:
    """frames(frame_id, payload) → detections(frame_id, box_idx, …).

    ``model_loader`` is called once per partition (lazy init — model
    stays warm across Arrow batches); it returns the per-frame model fn.
    """
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    # a loader defined in another module of this package (for example
    # npmodel.load_tiny_conv) is pickled by reference unless its module
    # ships too, and workers that cannot import the package then fail
    owner = getattr(model_loader, "__module__", None) or ""
    if owner.partition(".")[0] == __name__.partition(".")[0]:
        ship_module(sys.modules[owner])

    loader = model_loader or (lambda: stub_model)

    @on_worker
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = None
        for pdf in batches:
            if model is None:  # per-partition model load (O11)
                model = loader()
            out: dict[str, list] = {
                f.name: [] for f in DETECTION_SCHEMA.fields
            }
            for fid, payload in zip(pdf[id_col], pdf[bin_col]):
                for i, (ym, xm, yx, xx, lab, sc) in enumerate(
                    model(bytes(payload), int(fid))
                ):
                    out["frame_id"].append(int(fid))
                    out["box_idx"].append(i)
                    out["ymin"].append(ym)
                    out["xmin"].append(xm)
                    out["ymax"].append(yx)
                    out["xmax"].append(xx)
                    out["label_id"].append(lab)
                    out["score"].append(sc)
            yield pd.DataFrame(out)

    return frames.select(id_col, bin_col).mapInPandas(run, DETECTION_SCHEMA)
