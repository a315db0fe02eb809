"""Incremental materialized rollup maintenance.

The pattern a 100 TB event warehouse uses to keep an aggregate table
fresh without recomputing it: each micro-batch contributes a PARTIAL
aggregate row per key to a journal, and readers combine the journal on
read. Properties that make it safe at scale:

- **Replay idempotence.** Structured Streaming's foreachBatch may replay
  an epoch after a failure. Additive MERGE into the rollup would then
  double-count; journaling partials keyed by ``batch-{epoch_id}`` makes
  a replay rewrite the same rows instead (the same per-epoch discipline
  as ``table_format.run_acid_merge_sink``'s ``checkpoint:epoch`` key and
  the reference's end-of-run flush, gst-detection-tf.py:339-344).
- **Partial-aggregability.** Journal rows are (n_events, sum_micros)
  in exact BIGINT — combinable in any order/grouping, so the read-side
  combine is a plain codegen hash agg. This is the same shape Spark's own
  map-side partial aggregation uses, persisted across time instead of
  across tasks.
- **Epoch visibility is all-or-nothing.** Epoch dirs are staged under a
  dot-prefixed name the ``batch-*`` reader glob never matches and
  renamed into place; a replay swaps the old dir aside and the new one
  in (two renames), so a concurrent combine never reads a half-written
  epoch.

The journal grows by |keys touched| per batch, not |events|; the
read-side combine shuffles journal rows only. At 1000 executors the
journal is partition-pruned by day like any fact table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark import scratch
from video_streamer_spark.catalog import table
from video_streamer_spark.functions.parity import round2
from video_streamer_spark.streaming.drain import drain_or_raise


def heal_journal_residue(journal: str) -> None:
    """Self-heal a crash inside ``write_partial_batch``'s two-rename
    epoch swap. Crash states and their recovery, per epoch N:

    - ``.replaced-batch-N`` + ``batch-N`` both present: died after the
      second rename, before cleanup — the swap completed; drop the
      ``.replaced`` copy (it would otherwise leak forever: subsequent
      replays take the no-final plain-rename branch and never see it).
    - ``.replaced-batch-N`` present, ``batch-N`` missing: died between
      the two renames. The staged dir (written fully BEFORE the first
      rename) is the replay's rows — promote it if complete, else
      restore the replaced original.
    - ``.staging-batch-N`` present with ``batch-N``: a half-written
      stage (crash mid-parquet-write) — discard; ``batch-N`` is intact.
    """
    if not os.path.isdir(journal):
        return
    for d in os.listdir(journal):
        if d.startswith(".replaced-batch-"):
            name = d.removeprefix(".replaced-")
            final = os.path.join(journal, name)
            staged = os.path.join(journal, f".staging-{name}")
            if os.path.exists(final):
                shutil.rmtree(os.path.join(journal, d))
            elif os.path.exists(os.path.join(staged, "_SUCCESS")):
                os.rename(staged, final)
                shutil.rmtree(os.path.join(journal, d))
            else:
                os.rename(os.path.join(journal, d), final)
    for d in os.listdir(journal):
        if d.startswith(".staging-batch-"):
            final = os.path.join(journal, d.removeprefix(".staging-"))
            if os.path.exists(final):
                shutil.rmtree(os.path.join(journal, d))


def journal_epoch(partial_df: DataFrame, epoch_id: int, journal: str) -> None:
    """Journal ONE micro-batch's partial rows under their epoch id —
    the shared idempotent-write discipline every incremental-view
    writer here uses (event rollup, join-view rollup).

    Idempotence: a replayed epoch whose dir still exists is swapped in
    place with the same rows. The epoch is staged under a dot-prefixed
    temp the ``batch-*`` reader glob never matches and renamed into
    place, so a concurrent read sees each epoch completely or not at
    all. Epoch ids restart at 0 whenever a stream gets a fresh
    checkpoint, so one journal belongs to one checkpoint lineage (each
    invocation below streams into a fresh run dir)."""
    heal_journal_residue(journal)
    staged = f"{journal}/.staging-batch-{epoch_id}"
    final = f"{journal}/batch-{epoch_id}"
    partial_df.write.mode("overwrite").parquet(staged)
    if os.path.exists(final):
        # replay over an existing epoch: swap aside + in (two renames),
        # not rmtree-then-rename — shrinks the reader-invisible window
        # to the instant between the renames, and a crash there leaves
        # the old epoch recoverable at .replaced-* instead of lost
        replaced = f"{journal}/.replaced-batch-{epoch_id}"
        if os.path.exists(replaced):
            shutil.rmtree(replaced)
        os.rename(final, replaced)
        os.rename(staged, final)
        shutil.rmtree(replaced)
    else:
        os.rename(staged, final)


def write_partial_batch(batch_df: DataFrame, epoch_id: int, journal: str) -> None:
    """One micro-batch's contribution to the event rollup: a partial
    aggregate per (day, event_type), journaled via ``journal_epoch``
    (see it for the idempotence/replay contract)."""
    micros = F.floor(F.col("value").cast("double") * 1000000.0).cast("bigint")
    partial = batch_df.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_type",
    ).agg(
        F.count("*").cast("bigint").alias("n_partial"),
        F.sum(micros).cast("bigint").alias("micros_partial"),
    )
    journal_epoch(partial, epoch_id, journal)


def combine_rollup(spark: SparkSession, journal: str) -> DataFrame:
    """Read-side combine of the partial journal: exact BIGINT sums, then
    the presentation round (parity rules 1/2/4). Heals swap/stage
    residue from a crashed writer first (writers quiesced), so an epoch
    stranded mid-swap is visible again."""
    heal_journal_residue(journal)
    parts = spark.read.parquet(f"{journal}/batch-*")
    return (
        parts.groupBy("day", "event_type")
        .agg(
            F.sum("n_partial").cast("bigint").alias("n_events"),
            F.sum("micros_partial").cast("bigint").alias("sum_micros"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            round2(F.col("sum_micros").cast("double") / 1000000.0).alias(
                "sum_value"
            ),
        )
    )


def incremental_rollup(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 8,
    timeout_sec: int = 300,
) -> DataFrame:
    """Maintain a (day, event_type) rollup incrementally over a replayed
    event stream, then return the combined rollup.

    The events table is re-laid-out as ``n_splits`` files and streamed
    with ``maxFilesPerTrigger=1``, so the rollup is genuinely built from
    ``n_splits`` separate micro-batch contributions; the result is
    invariant to how events landed in batches — the equivalence the
    journal design guarantees and the oracle checks.
    """
    # the re-layout (a full copy of events) is the expensive part and is
    # deterministic from (sf_dir, n_splits): built once per session; the
    # journal and checkpoint are per invocation
    src = scratch.built_dir(
        spark,
        sf_dir,
        f"incr-events-x{n_splits}",
        lambda stage: table(spark, sf_dir, "events")
        .select("ts", "event_type", "value")
        .repartition(n_splits)
        .write.parquet(stage),
    )
    run = scratch.run_dir(spark, sf_dir, "incr")
    journal = f"{run}/journal"
    checkpoint = f"{run}/checkpoint"

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, epoch: write_partial_batch(df, epoch, journal)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec, "incremental_rollup")
    # the drain is complete and the journal immutable; the checkpoint
    # has no further reader (each invocation streams into a fresh run
    # dir), so reclaim it
    shutil.rmtree(checkpoint, ignore_errors=True)
    return combine_rollup(spark, journal)


def incremental_join_rollup(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 6,
    timeout_sec: int = 300,
) -> DataFrame:
    """Incrementally-maintained JOIN VIEW: a (c_mktsegment) rollup of
    orders ⋈ customer, kept fresh as order deltas stream in — the
    delta-join form of incremental view maintenance (Δorders ⋈ customer,
    the static side; with both sides streaming you'd union the two
    delta joins).

    Per micro-batch: the order delta broadcast-joins the customer dim
    (loaded ONCE outside the body and captured by the closure —
    ``plans.advisor.lint_foreach_batch`` flags the per-batch re-read
    this avoids), partial-aggregates to (segment, n, price_micros), and
    journals via ``journal_epoch`` — so replay idempotence and
    crash-healing are inherited, and the maintained view equals the
    full join recomputed from scratch (the oracle's form) after ANY
    batch composition.

    Scale: the journal grows by |segments| per batch, never |orders|;
    the dim is broadcast once; the combine shuffles journal rows only.
    """
    src = scratch.built_dir(
        spark,
        sf_dir,
        f"incr-orders-x{n_splits}",
        lambda stage: table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .repartition(n_splits)
        .write.parquet(stage),
    )
    run = scratch.run_dir(spark, sf_dir, "incr-join")
    journal = f"{run}/journal"
    checkpoint = f"{run}/checkpoint"

    customer = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        micros = F.floor(
            F.col("o_totalprice").cast("double") * 1000000.0
        ).cast("bigint")
        partial = (
            batch_df.join(
                customer, batch_df.o_custkey == customer.c_custkey, "inner"
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").cast("bigint").alias("n_partial"),
                F.sum(micros).cast("bigint").alias("micros_partial"),
            )
        )
        journal_epoch(partial, epoch_id, journal)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec, "incremental_join_rollup")
    shutil.rmtree(checkpoint, ignore_errors=True)
    heal_journal_residue(journal)
    parts = spark.read.parquet(f"{journal}/batch-*")
    return (
        parts.groupBy("c_mktsegment")
        .agg(
            F.sum("n_partial").cast("bigint").alias("n_orders"),
            F.sum("micros_partial").cast("bigint").alias("sum_micros"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            (F.col("sum_micros").cast("double") / 1000000.0).alias(
                "total_price"
            ),
        )
    )
