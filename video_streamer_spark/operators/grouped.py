"""Grouped Python-UDF operators: the applyInPandas (grouped-map) and
GROUPED_AGG pandas-UDAF rows of the capability matrix (SURVEY.md §2.2,
"UDF/UDAF/UDTF surface").

Both examples are chosen to be oracle-exact: min-max scaling and median
use no floating summation, so pandas and any SQL engine produce
bit-identical doubles — the same determinism discipline as
functions/parity.py, applied to the Python path.

Scale shape: groupBy → one shuffle on the group key; each group must fit
one executor's memory as a pandas frame (the applyInPandas contract) —
fine for per-type/per-user groups, wrong for whole-table groups; the
UDAF path streams per-group Arrow batches instead and has no such limit
on group count, only on per-group cardinality.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from video_streamer_spark.functions.shipping import on_worker, ship_module

ship_module(sys.modules[__name__])

SCALED_SCHEMA = "event_id bigint, event_type string, value double, scaled double"


@on_worker
def _minmax_group(pdf: pd.DataFrame) -> pd.DataFrame:
    lo, hi = pdf["value"].min(), pdf["value"].max()
    span = hi - lo
    out = pdf[["event_id", "event_type", "value"]].copy()
    out["scaled"] = (pdf["value"] - lo) / span if span else 0.0
    return out


def minmax_scale_per_group(
    events: DataFrame, group_col: str = "event_type"
) -> DataFrame:
    """Grouped-map applyInPandas: per-group min-max scaling of ``value``.

    min/max/divide are exact IEEE ops (no accumulation), so results match
    the window-function SQL formulation bit-for-bit.
    """
    return events.groupBy(group_col).applyInPandas(_minmax_group, SCALED_SCHEMA)


@F.pandas_udf("double")
@on_worker
def median_udaf(v: pd.Series) -> float:
    """GROUPED_AGG pandas UDAF: median (interpolated middle — same
    definition DuckDB/Spark percentile use, and summation-free)."""
    return float(v.median())


def median_per_group(
    events: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    return events.groupBy(group_col).agg(
        median_udaf(F.col(value_col)).alias("median_value")
    )


# composite-stream encoding: unit separator between parts, a sentinel
# for NULL parts — both outside the testdata alphabet, so the encoding
# is injective on real keys and the oracle can reproduce it with
# concat_ws/coalesce.
_STREAM_SEP = "\x1f"
_STREAM_NULL = "\x00"


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    stream_col="lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy training-sequence packing (the LLM-pipeline "sample
    packing" step): within each STREAM, documents in ``id_col`` order
    fill sequences of at most ``capacity`` tokens — a document that
    would overflow the open sequence starts the next one, and a
    document larger than ``capacity`` alone occupies its own (the
    first-fit-on-a-sorted-stream rule; deterministic, so the DuckDB
    oracle re-derives the identical assignment with a recursive CTE).

    Greedy packing is ORDER-DEFINED, hence inherently sequential — but
    only per stream: streams pack in parallel (one grouped-map Arrow
    task each), so at 100 TB the stream key is the parallelism dial.
    ``stream_col`` accepts either one column name or a SEQUENCE of
    names — pass ``("source", "shard")`` for the production keying so
    no single Arrow task sees more than one shard's docs; the parts
    are concat_ws-joined with a unit separator (NULL → NUL sentinel)
    into the output ``stream`` column, an encoding the SQL oracle
    reproduces verbatim. The per-task work is a single cumulative pass
    over ints — the Arrow transfer, not the loop, is the cost.

    Reference contrast: the reference pipeline has no notion of
    training batches; this is part of the LLM-data extension surface
    (SURVEY §2's curation family) alongside dedup and quality filters.
    """

    @on_worker
    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        seqs = []
        seq = 0
        fill = 0
        for n in pdf[tokens_col]:
            if fill > 0 and fill + n > capacity:
                seq += 1
                fill = 0
            fill += int(n)
            seqs.append(seq)
        out = pdf[["stream", id_col, tokens_col]].copy()
        out["seq_id"] = seqs
        return out

    if isinstance(stream_col, str):
        stream_expr = F.col(stream_col).cast("string")
    else:
        stream_expr = F.concat_ws(
            _STREAM_SEP,
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(_STREAM_NULL))
                for c in stream_col
            ],
        )
    # output schema follows the caller's column names — a hardcoded
    # schema would make applyInPandas fail on any non-default id/token
    # column (pandas labels must match the declared fields exactly)
    schema = f"stream string, {id_col} bigint, {tokens_col} bigint, seq_id bigint"
    src = docs.select(
        stream_expr.alias("stream"),
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(tokens_col).cast("bigint").alias(tokens_col),
    )
    return src.groupBy("stream").applyInPandas(_pack, schema)
