"""Skew mitigation: salted joins.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; ``salted_join`` is the explicit form for the case AQE can't fix:
one hot join key sends its whole partition to a single task. Salting
the skewed (probe) side and replicating the build side once per salt
value spreads the hot key over n_salts tasks at the cost of duplicating
build rows n_salts times — so it applies when the build side is
small-ish but too big (or too skewed) to broadcast. (Low-cardinality
aggregation salts the same way; x135 does it inline.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Uniform int salt in [0, n_salts). Derived from a hash of the full
    row via monotonically-increasing id would be nondeterministic across
    retries; spark_partition_id ^ a per-row counter is; simplest safe
    choice is a hash of all columns — deterministic for identical rows
    and retry-stable."""
    return df.withColumn(
        SALT_COL, F.pmod(F.hash(*df.columns), F.lit(n_salts))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left (skewed) side salted and the right side
    replicated once per salt value. Semantically identical to
    ``left.join(right, keys, how)`` for inner/left joins.
    """
    keys = list(keys)
    l = with_salt(left, n_salts)
    r = right.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l.join(r, [*keys, SALT_COL], how).drop(SALT_COL)
