"""Physical-layout operators: Z-order (Morton) clustering for
multi-dimensional data skipping — the capability behind Delta's
OPTIMIZE ZORDER BY / Iceberg's sort-order rewrite, over plain parquet.

A single-column sort gives perfect min/max file pruning on that column
and none on any other; interleaving the bits of TWO columns gives every
file a tight bounding box in BOTH dimensions (~√(1/n_files) of each
range), so scans filtering on either column skip most files. At 100 TB
this is the difference between "point lookups only work on the sort
key" and "every indexed dimension prunes".

The z-value is a pure codegen expression (shifts/masks, no UDF), so it
costs one projection; ``table_format.optimize_table(zorder_by=...)``
does the layout write (one range-repartition + sort).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_value(a: Column, b: Column, bits: int = 10) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative ints:
    result bit 2i is bit i of ``a``, bit 2i+1 is bit i of ``b``. Inputs
    must already be range-normalized by the caller (rank, bucket, or
    modulo) — z-order is only meaningful over bounded, comparable
    ranges."""
    parts = []
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
        parts.append(
            F.shiftleft(
                F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return reduce(lambda x, y: x.bitwiseOR(y), parts).alias("zval")
