"""Batch sinks — the reference's sink variants (fakesink / fpsdisplaysink
/ VDMS bulk write, run.sh:33-41, gst-detection-tf.py:339-344) mapped to
Spark writers. The streaming foreachBatch sink lives in
streaming/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Queryable-store sink (the VDMS role). ``partition_by`` should be a
    low-cardinality pruning key (e.g. date, label_id) — at 100 TB the
    partition layout IS the index. ``sort_by`` sorts rows within each
    output task: clustered values tighten parquet row-group min/max
    stats, so point/range predicates on those columns skip row groups
    at read time (the poor man's z-order)."""
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_noop(df: DataFrame) -> None:
    """Discard sink (reference fakesink): full execution, no output —
    for measuring pure compute cost."""
    df.write.format("noop").mode("overwrite").save()
