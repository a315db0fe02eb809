"""Structured Streaming spine — the reference's streaming identity
(GStreamer push pipeline, run.sh:53) on Spark's micro-batch model:
file-source streams and the q14/q15 streaming twins (``pipeline``), the
min/max view over the table's change feed (``agg_view``), the rollup
journal (``incremental``), drain helpers (``drain``) and query-progress
metrics (``metrics``). The idempotent store sink is
``operators.table_format.run_acid_merge_sink``.
"""
