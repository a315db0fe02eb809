"""Label dimension table — the engine's analog of the reference's
``coco.label`` (80 contiguous ``id:name`` rows parsed into a lookup dict,
reference gst-detection-tf.py:114-121). Here it is a proper DataFrame dim
that broadcast-joins onto detection facts.

Synthetic names (``label_1``..``label_80``) keep the table derivable in
both engines for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

NUM_LABELS = 80


def labels(spark: SparkSession, n: int = NUM_LABELS) -> DataFrame:
    # one slice, not defaultParallelism: this dim exists to be BROADCAST,
    # and BroadcastExchange builds via executeCollectIterator() — a job
    # over the child RDD — so an 80-row Range otherwise costs a
    # 32-task build job per consuming query (r15 job audit)
    return spark.range(1, n + 1, 1, 1).selectExpr(
        "CAST(id AS INT) AS label_id",
        "concat('label_', CAST(id AS STRING)) AS label_name",
    )
