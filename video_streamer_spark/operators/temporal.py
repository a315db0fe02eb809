"""Temporal join operators: as-of join (point-in-time lookup).

The reference has no temporal joins (its only join is the label-dict
lookup, gst-detection-tf.py:396); an as-of join is the canonical
time-series operation a metadata store serving the reference's detection
stream would need ("state of X as of frame time t").

Scale design — Spark has no ASOF JOIN primitive, and the naive
formulations both collapse at 100 TB:

- theta join ``l.ts >= r.ts`` explodes to O(|L|·|R|) per key before the
  "latest" filter;
- per-row correlated top-1 subquery isn't expressible as one shuffle.

The scalable plan is the *union merge*: tag both sides, union them,
shuffle ONCE by key, sort each key group by time, and carry the most
recent right-side values forward with ``last(ignorenulls=True)`` over a
running window. Cost = one shuffle of |L|+|R| rows + a per-key sort —
the same cost as a sort-merge join, with no row explosion. Skewed keys
are handled by AQE the same way any windowed agg is.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, attach the right row with
    the greatest ``right_ts <= left_ts`` within the same ``on`` keys
    (pandas ``merge_asof`` semantics, direction='backward').

    ``right_cols`` are the right-side payload columns to carry; each is
    emitted as ``<name><suffix>``. Ties on ``right_ts`` resolve to the
    row latest in ``(right_ts, right_cols order)`` deterministically via
    a struct max. ``tolerance_seconds`` nulls out matches older than the
    tolerance (pandas ``tolerance=``).

    Left rows with no match keep nulls — the join is left-outer.
    """
    keys = list(on)
    payload = list(right_cols)

    # Right rows: keys + event time + payload struct. Packing the payload
    # into ONE struct makes the carry-forward a single last() and gives a
    # total, deterministic tiebreak (struct ordering) for equal timestamps.
    # SQL-string projections (one gateway round-trip per select, not one
    # per column — round-6 floor study, PLANS.md).
    # caller-supplied identifiers ride in backticks — asof_join is a
    # generic operator, and an unquoted name with a dash/space/keyword
    # would misparse (review finding on the SQL-string rewrite)
    # ONE projection per side + unionByName(allowMissingColumns) (r14):
    # the analyzer null-backfills each side's missing columns with
    # correctly-typed NULLs, so neither side's SCHEMA is fetched and no
    # per-column NULL-cast trees are built driver-side (two schema JSON
    # round-trips + ~20 Column calls per construction in the previous
    # shape — the analyzed plan is the same Project + Union).
    struct_fields = ", ".join(
        [f"`{right_ts}` AS __rt", *[f"`{p}`" for p in payload]]
    )
    r = right.selectExpr(
        *[f"`{k}`" for k in keys],
        f"`{right_ts}` AS __t",
        "0 AS __side",
        f"struct({struct_fields}) AS __r",
    )
    l = left.selectExpr(
        *[f"`{c}`" for c in left.columns],
        f"`{left_ts}` AS __t",
        "1 AS __side",
    )
    merged = r.unionByName(l, allowMissingColumns=True)

    # One shuffle: partition by key, order by (t, side, r) so that at
    # equal timestamps right rows (side=0) sort before the left row and
    # are visible to it. Because right structs lead with __rt == __t,
    # frame order is also struct order, so the LAST non-null struct in
    # the running frame IS the struct max — and last(ignorenulls) is an
    # O(1)-per-row carry while max() re-compares structs on every row
    # (measured ~25% faster at sf0.1, bit-identical output). The __r
    # tiebreak in the sort keeps equal-timestamp right rows in struct
    # order so "last" stays the deterministic struct-max winner.
    # SQL-string window + projections (r14): the Window/F.Column chain
    # built ~30 JVM Column objects per construction (one gateway
    # round-trip each); the string forms parse JVM-side in one call per
    # select and plan the identical Window → Filter → Project. The D
    # suffix keeps the tolerance a DOUBLE literal (bare 7200.0 would
    # parse as DECIMAL and change the comparison's expression tree).
    part = ", ".join(f"`{k}`" for k in keys)
    win = (
        f"last(__r, true) OVER (PARTITION BY {part} "
        "ORDER BY __t, __side, __r "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = merged.selectExpr("*", f"{win} AS __match").where(
        "__side = 1"
    )

    # tolerance folds into the output projection (one less Dataset
    # layer): the gated struct expression repeats per output field, but
    # Catalyst's subexpression elimination evaluates it once per row
    # and the CASE is deterministic, so results are unchanged
    if tolerance_seconds is not None:
        match = (
            "CASE WHEN CAST(__t AS DOUBLE) - "
            "CAST(__match.__rt AS DOUBLE) <= "
            f"{float(tolerance_seconds)!r}D THEN __match END"
        )
    else:
        match = "__match"
    out = [f"`{c}`" for c in left.columns]
    out.append(f"({match}).__rt AS `{right_ts}{suffix}`")
    out.extend(f"({match}).`{p}` AS `{p}{suffix}`" for p in payload)
    return carried.selectExpr(*out)
