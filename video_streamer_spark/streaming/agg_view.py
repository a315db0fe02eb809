"""Continuously-maintained min/max view over the versioned table — the
streaming twin of x224's batch IVM.

``run_minmax_view_pass`` drains the table's four-type change feed (the
``table_cdf`` DataSource with ``preimages=true``) and RECOMPUTES DIRTY
GROUPS: the feed's touched group keys mark groups dirty, and ONLY those
groups are re-aggregated against the current snapshot (zone-map-
enveloped read + broadcast semi-join), while clean groups keep their
materialized values. min/max have no inverse — a deleted row that held
the group's minimum forces re-reading the group — so the view pays for
churn in reads, not in signed arithmetic. The view is itself a
versioned table keyed on the group columns, so every refresh is one
atomic commit, replayed micro-batches no-op through the merge's
idempotency key, and readers of the view get snapshot isolation for
free.

Why this is the 100 TB shape: a full recompute of a corpus-wide
aggregate reads the corpus; this pass reads the CHANGE FEED, whose
manifest-level pruning already bounds it to buckets some commit in the
window actually rewrote — the refresh costs the churn. The reference's
pipeline has no equivalent (its VDMS sink re-queries); the design
follows Delta/Materialize-style incremental view maintenance re-stated
in this table format's vocabulary.

Null GROUP values are refused loudly per batch: they can never be merge
keys (null never equals null in the keyed join), so a null group would
re-insert on every pass instead of updating — silent duplication, the
one failure the view could not self-detect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark.sources.cdf_source import register_cdf_source
from video_streamer_spark.streaming.drain import drain_or_raise


def _require_group_cols(group_cols: list[str]) -> None:
    """A maintained view KEYS on its group columns; with none there is
    no merge key and the keyed refresh degenerates. A global
    no-group aggregate is a single scalar — maintain it as a one-group
    view over a constant column instead."""
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty: the maintained view keys on "
            "them. For a global aggregate, group on a constant column "
            "(e.g. lit(0).alias('all'))."
        )


def _refuse_null_groups(df: DataFrame, group_cols: list[str]) -> None:
    """One bounded job on an already-groups-sized frame: raise if any
    group column is null — null can never be a merge key (null never
    equals null in the keyed join), so a null group would re-insert on
    every pass instead of updating. The stream is wedged by design:
    retries replay the same pinned window; recover by fixing the
    SOURCE (coalesce null groups to a sentinel) and rebuilding the
    view from scratch — drop BOTH the checkpoint and the view table (a
    fresh checkpoint over the old view would double-fold history)."""
    null_pred = None
    for c in group_cols:
        p = F.col(c).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    if df.where(null_pred).limit(1).count():
        raise ValueError(
            f"null value in group column(s) {group_cols} inside an "
            "already-committed change window: the maintained view "
            "cannot key on null groups. Fix the source and rebuild "
            "the view (drop checkpoint AND view table)."
        )


# nested/complex types have no total order the view could materialize;
# everything atomic (numerics, strings, date/time, boolean, binary)
# min/maxes exactly
_UNORDERABLE_PREFIXES = ("array<", "map<", "struct<", "variant")


def create_minmax_view(
    view_path: str,
    group_cols: list[str],
    minmax_cols: list[str],
    template: DataFrame,
    n_buckets: int = 8,
) -> int:
    """Materialize an EMPTY min/max view table keyed on the group
    columns: ``group_cols`` + ``n_rows`` (bigint) + one
    ``min_<c>``/``max_<c>`` pair per tracked column, each in the
    column's OWN type (min/max are exact for any orderable type — they
    select a value, they never accumulate, so no integral-only
    quantization rule applies)."""
    from video_streamer_spark.operators.table_format import create_table

    _require_group_cols(group_cols)
    if not minmax_cols:
        raise ValueError("minmax_cols must be non-empty")
    dtypes = dict(template.dtypes)
    for c in minmax_cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"minmax column {c!r} not in template")
        if dt.startswith(_UNORDERABLE_PREFIXES):
            raise ValueError(
                f"minmax column {c!r} has nested type {dt!r}; the view "
                "materializes a total order — track an atomic column"
            )
    empty = template.select(*group_cols, *minmax_cols).limit(0)
    view = empty.select(
        *group_cols,
        F.lit(0).cast("bigint").alias("n_rows"),
        *[
            x
            for c in minmax_cols
            for x in (
                F.col(c).alias(f"min_{c}"),
                F.col(c).alias(f"max_{c}"),
            )
        ],
    )
    return create_table(view, view_path, group_cols, n_buckets=n_buckets)


def run_minmax_view_pass(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    group_cols: list[str],
    minmax_cols: list[str],
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """One incremental refresh of a min/max view by RECOMPUTING DIRTY
    GROUPS — aggregates with no inverse (a deleted row that held the
    group's minimum cannot be subtracted out; the group must be
    re-read).

    Per micro-batch of the four-type change feed:

    1. **dirty** = DISTINCT group keys over ALL four row types.
       Pre-images matter: an update that MOVES a row between groups
       dirties the OLD group through its ``update_preimage`` row —
       with a three-type feed the old group's stale extremum would
       survive silently, which is why this pass hard-requires
       ``preimages=true``.
    2. **recompute** = current snapshot ⋈ broadcast(dirty) semi-join,
       re-aggregated per dirty group only. The snapshot read is
       zone-map ENVELOPED first: the dirty set's per-column [min, max]
       bounds become ``read_table_where`` range predicates, so buckets
       provably outside the churn's key envelope are never listed or
       opened (exactness is unaffected — the semi-join is the precise
       filter; the envelope only skips provably-disjoint buckets).
    3. **merge**: dirty groups with surviving rows upsert their fresh
       (n_rows, min, max); dirty groups with NO rows delete from the
       view (a recompute would not emit them). Clean groups are never
       read, never touched. One atomic commit per batch, idempotent
       under replay via ``checkpoint:epoch``.

    Why this is the 100 TB shape: the refresh cost is (churned groups'
    data) + (one broadcast of churn-sized keys), not a corpus-wide
    re-aggregate.

    Convergence with concurrent writers: the snapshot read is CURRENT,
    which may be ahead of the batch's change window. Safe: any commit
    past the window re-dirties its own groups in a later batch, so the
    view at stream-rest equals recompute-at-current; mid-stream a
    dirty group may briefly be FRESHER than the window, never staler.
    """
    from video_streamer_spark.operators.table_format import (
        merge_table,
        read_table,
        read_table_where,
    )

    _require_group_cols(group_cols)
    if not minmax_cols:
        raise ValueError("minmax_cols must be non-empty")
    register_cdf_source(spark)
    feed = (
        spark.readStream.format("table_cdf")
        .option("path", src_path)
        .option("preimages", "true")
        .load()
    )

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # persisted across FOUR actions (null check, envelope bounds,
        # semi-join, change-op resolution): dirty's lineage is the
        # whole window's feed diff
        dirty = batch_df.select(*group_cols).distinct().persist()
        try:
            if dirty.limit(1).count() == 0:
                return  # idle poll: no churn, no version bump
            _refuse_null_groups(dirty, group_cols)
            # zone-map envelope: one bounded collect on the
            # groups-sized dirty frame; a None bound (shouldn't happen
            # post null-check) falls back to the unpruned snapshot
            bounds = dirty.agg(
                *[
                    x
                    for c in group_cols
                    for x in (
                        F.min(c).alias(f"lo_{c}"),
                        F.max(c).alias(f"hi_{c}"),
                    )
                ]
            ).first()
            preds = [
                (c, bounds[f"lo_{c}"], bounds[f"hi_{c}"])
                for c in group_cols
                if bounds[f"lo_{c}"] is not None
                and bounds[f"hi_{c}"] is not None
            ]
            snap = (
                read_table_where(spark, src_path, where=preds)
                if preds
                else read_table(spark, src_path)
            )
            recomputed = (
                snap.join(F.broadcast(dirty), group_cols, "left_semi")
                .groupBy(*group_cols)
                .agg(
                    F.count("*").cast("bigint").alias("n_rows"),
                    *[
                        x
                        for c in minmax_cols
                        for x in (
                            F.min(c).alias(f"min_{c}"),
                            F.max(c).alias(f"max_{c}"),
                        )
                    ],
                )
            )
            changes = dirty.join(recomputed, group_cols, "left").select(
                *group_cols,
                F.coalesce(F.col("n_rows"), F.lit(0))
                .cast("bigint")
                .alias("n_rows"),
                *[
                    F.col(f"{m}_{c}")
                    for c in minmax_cols
                    for m in ("min", "max")
                ],
                F.when(F.col("n_rows").isNull(), F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("__op"),
            )
            merge_table(
                spark,
                view_path,
                changes,
                idempotency_key=f"{checkpoint_dir}:{epoch_id}",
            )
        finally:
            dirty.unpersist()

    q = (
        feed.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec)
