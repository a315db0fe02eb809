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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from video_streamer_spark.operators.similarity import (
    _cell_router,
    _pivot_quantizer,
    ivf_index_upsert,
)
from video_streamer_spark.streaming.drain import drain_or_raise


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
    assign_cell = _cell_router(
        _pivot_quantizer(quantizer_corpus, n_cells, id_col, vec_col)
    )

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
