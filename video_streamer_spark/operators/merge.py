"""MERGE / upsert changeset algebra: the logical half of the ACID-table
role (Delta/Iceberg MERGE INTO), shared by the versioned table format
(``operators/table_format.py``) and its SQL surface.

The reference's only sink is a bulk end-of-run flush into a queryable
store (gst-detection-tf.py:339-344 — VDMS AddBoundingBox batching); a
production 100 TB curation pipeline instead maintains a keyed table that
each batch of changes UPSERTS into. This module is the relational core
of that: given a base relation and a keyed changeset carrying an op
column ('U' upsert / 'I' insert / 'D' delete), ``apply_changeset``
produces the post-merge relation — exactly the join Delta's MERGE plans
(changes ⟕ base on key): one shuffle on the key, no driver
materialization, fully expressible to Catalyst. ``diff_snapshots`` is
its inverse, ``compact_changeset`` the per-key last-write-wins a CDC
batch needs first, and ``_bucketed`` the key-hash routing every table
write and point lookup passes through. The physical, atomically
committed table lives in ``table_format``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

OP_COL = "__op"
BUCKET_COL = "pb"


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = OP_COL,
) -> DataFrame:
    """Post-merge relation: surviving changes ∪ untouched base rows.

    ``changes`` carries ``op_col`` ∈ {'U','I','D'} plus the full row
    payload for U/I. Semantics match MERGE INTO ... WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT / WHEN MATCHED DELETE with whole-row update:
    every base row whose key appears in the changeset is replaced (U) or
    removed (D); I rows append. One key must appear at most once in the
    changeset (the CDC-compacted form; enforce upstream with a
    last-write-wins window if the feed has per-key history).

    Plan shape: one shuffle of the (small) changeset against base on the
    key for the anti join — broadcastable when the changeset is small —
    plus a union. No base-side duplication, no driver round-trip.
    """
    surviving = changes.where(F.col(op_col) != F.lit("D")).drop(op_col)
    untouched = base.join(
        changes.select(*key_cols), on=key_cols, how="left_anti"
    )
    return surviving.unionByName(untouched)


def _bucketed(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    """Route every row to its key-hash bucket — and REFUSE null key
    components at this chokepoint (every table write, changeset and
    point-lookup passes through here).

    The key is the row identity (PRIMARY KEY semantics): the format's
    identity joins (``apply_changeset``'s anti join, the point-lookup
    semi join, the change-feed full outer, tombstone anti joins) use
    SQL equality, under which NULL never matches — so a null-keyed row
    would be un-updatable, un-deletable, and would duplicate on every
    upsert of "the same" key. xxhash64 additionally SKIPS null inputs,
    so (NULL, x) and a different-arity key could even share routing.
    Raising inside the projection costs no extra pass (it rides the
    write/lookup job itself), and a mid-write raise publishes nothing:
    the manifest link is the commit point."""
    null_key = None
    for k in key_cols:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    return df.withColumn(
        BUCKET_COL,
        F.when(
            null_key,
            F.raise_error(
                F.lit(
                    "NULL key component: key columns are the row "
                    "identity (PRIMARY KEY semantics) and must be "
                    "non-null — filter or coalesce upstream"
                )
            ).cast("int"),
        )
        .otherwise(
            F.pmod(
                F.xxhash64(*[F.col(k) for k in key_cols]),
                F.lit(n_buckets),
            )
        )
        .cast("int"),
    )


def compact_changeset(
    changes: DataFrame, key_cols: list[str], seq_col: str | None
) -> DataFrame:
    """Per-key last-write-wins compaction of a CDC batch.

    With ``seq_col`` (the feed's monotone sequence — Kafka offset, LSN,
    event ts): keep the row with the highest sequence per key
    (row_number over the key ordered by seq desc — one shuffle on the
    key, same key the merge itself shuffles on). Without one there is NO
    well-defined winner — ``dropDuplicates`` would keep an ARBITRARY row
    — so the caller must guarantee at-most-one op per key per batch;
    that contract is asserted cheaply inside the merge's own pass rather
    than silently picking a row.
    """
    if seq_col is not None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        return (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", seq_col)
        )
    # no sequence: enforce the pre-compacted contract instead of guessing
    dup = (
        changes.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1)
    )
    if dup.take(1):
        raise ValueError(
            "changeset batch carries multiple ops for one key and no "
            "seq_col was given — last-write-wins is undefined; pass "
            "seq_col or pre-compact the feed"
        )
    return changes


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    op_col: str = OP_COL,
) -> DataFrame:
    """INVERSE of ``apply_changeset``: the minimal changeset that
    transforms ``old`` into ``new`` — the snapshot-diff every
    incremental-materialization / CDC-backfill pipeline needs when only
    table states (not a change log) exist.

    Classification is one full outer join on the key: key only in new →
    'I'; only in old → 'D'; in both with any payload column differing →
    'U'; identical rows are dropped (minimality). Round-trip law, pinned
    by test: ``apply_changeset(old, diff_snapshots(old, new)) ≡ new``.

    Plan shape: ONE shuffle of each side on the key (the same key a
    downstream merge shuffles on), payload comparison as a codegen'd
    struct equality — no driver involvement, safe at any scale.
    """
    payload_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols,
        F.struct(*payload_cols).alias("__old_payload"),
    )
    n = new.select(
        *key_cols,
        F.struct(*payload_cols).alias("__new_payload"),
    )
    joined = o.join(n, on=key_cols, how="full_outer")
    op = (
        F.when(F.col("__old_payload").isNull(), F.lit("I"))
        .when(F.col("__new_payload").isNull(), F.lit("D"))
        .when(
            F.col("__new_payload") != F.col("__old_payload"), F.lit("U")
        )
        .otherwise(F.lit(None))
    )
    payload = F.coalesce(F.col("__new_payload"), F.col("__old_payload"))
    return (
        joined.withColumn(op_col, op)
        .where(F.col(op_col).isNotNull())
        .select(
            *key_cols,
            *[payload[c].alias(c) for c in payload_cols],
            op_col,
        )
    )
