"""Streaming ingestion into the materialized IVF index: incoming vector
micro-batches are routed to their cells with the SAME hash-pivot
quantizer the batch build uses and appended under the matching ``cell=``
partitions — so a probe over a stream-built index prunes identically to
one built in batch, and (given the same rows) returns identical results
(equivalence-tested in tests/test_streaming.py).

Delivery contract: foreachBatch + availableNow + a checkpoint gives the
standard Structured Streaming exactly-once for this file sink; the
append itself is NOT idempotent under manual replay (re-running a
delivered epoch duplicates vectors), which for an ANN index degrades
results, not correctness of the pipeline — recovery is rebuild
(`ivf_index_build`) or dedup-compaction by vec_id.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from video_streamer_spark.functions.shipping import ship_module
from video_streamer_spark.streaming.drain import drain_or_raise
from video_streamer_spark.operators import similarity as _sim
from video_streamer_spark.operators.similarity import (
    _pivot_quantizer,
    _routing_scores,
)

ship_module(sys.modules[__name__])
# assign_cell (worker-side) closes over _routing_scores, which
# cloudpickle serializes BY REFERENCE to operators.similarity unless
# that module is registered too — external-cwd workers then die with
# ModuleNotFoundError, but only when no earlier query in the process
# shipped similarity first (the r13 x44 bug class, caught by audit)
ship_module(_sim)


def index_ingest_stream(
    vec_stream: DataFrame,
    path: str,
    quantizer_corpus: DataFrame,
    checkpoint_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 300,
) -> None:
    """Drain ``vec_stream`` into the ``cell=``-partitioned index at
    ``path`` (availableNow, EOS semantics). The quantizer is pinned
    from ``quantizer_corpus`` ONCE at start — cells must not drift
    between micro-batches or between stream and batch builds."""
    cent_ids, cents, c2 = _pivot_quantizer(
        quantizer_corpus, n_cells, id_col, vec_col
    )

    @F.pandas_udf(LongType())
    def assign_cell(vs: pd.Series) -> pd.Series:
        mat = np.array(list(vs), dtype=np.float64)
        return pd.Series(cent_ids[np.argmin(_routing_scores(mat, cents, c2), axis=1)])

    routed = vec_stream.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("cell", assign_cell(F.col("c_vec")))

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("cell").parquet(path)

    q = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec, "index_ingest_stream")


def index_upsert_stream(
    vec_stream: DataFrame,
    path: str,
    quantizer_corpus: DataFrame,
    checkpoint_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 300,
) -> None:
    """CDC into the vector index: each micro-batch applies as a vector
    UPSERT (last write wins per id, touched ``cell=`` partitions only)
    via `ivf_index_upsert` — the streaming write path of a vector
    database, vs `index_ingest_stream`'s append-only bulk load.
    Quantizer pinned once at start; availableNow EOS semantics; replay
    of a delivered epoch CONVERGES (upsert is idempotent), unlike the
    append ingest."""
    from video_streamer_spark.operators.similarity import ivf_index_upsert

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_upsert(
            quantizer_corpus,
            path,
            batch_df,
            n_cells=n_cells,
            id_col=id_col,
            vec_col=vec_col,
        )

    q = (
        vec_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec, "index_upsert_stream")
