"""Distributed second-moment statistics over an embedding column — the
PCA/whitening precursor (covariance = Gram/n − mean⊗mean).

The 100 TB shape: each Arrow batch computes its OWN d×d integer Gram
partial (one ``X.T @ X`` — the same tree-aggregation Spark's built-in
``RowMatrix.computeGramianMatrix`` uses, here over Arrow batches), and
only d(d+1)/2-row partials leave the executor; the final combine is a
plain hash agg over (i, j) keys. Vectors never co-shuffle and nothing
scales with n except the embarrassingly-parallel batch pass.

Parity discipline: elements are quantized to integer micros
(``floor(x · 1e6)``) BEFORE any product, so partial sums are exact
BIGINT arithmetic, identical under any batch composition and bit-equal
to the SQL oracle's per-row product sums (the x95 recipe, extended from
per-dim variance to the full cross-moment matrix)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

GRAM_SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("n_part", LongType()),
        StructField("sxy_part", LongType()),
    ]
)


def gram_partials(
    emb: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """embeddings → per-batch integer Gram partials: rows (i, j, n_part,
    sxy_part) for 1 ≤ i ≤ j ≤ dim, where sxy_part = Σ_batch xq_i·xq_j
    over micro-quantized elements. ``groupBy(i, j).sum()`` downstream
    yields the exact full-data Gram."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])

    iu, ju = np.triu_indices(dim)

    @on_worker
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xq = np.floor(x * 1e6).astype(np.int64)
            gram = xq.T @ xq  # int64 contraction — exact
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype(np.int32),
                    "j": (ju + 1).astype(np.int32),
                    "n_part": np.int64(len(pdf)),
                    "sxy_part": gram[iu, ju],
                }
            )

    return emb.select(vec_col).mapInPandas(run, GRAM_SCHEMA)
