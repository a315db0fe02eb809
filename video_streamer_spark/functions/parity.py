"""Cross-engine determinism helpers.

The correctness gate hash-compares Spark results against a DuckDB oracle,
so every floating/temporal output column must be *bit-identical* across
engines. Three rules, applied on BOTH sides:

1. **Aggregate in DECIMAL, not DOUBLE.** Double summation is
   order-dependent (different partial-agg trees on Spark vs DuckDB give
   ~1e-9 relative noise, which survives ROUND on large sums). Casting the
   inputs to DECIMAL(18,6) makes every sum exact and order-independent.

2. **Round via DECIMAL(38,9).** Spark's ROUND(double) goes through Java's
   shortest-round-trip string (HALF_UP on the decimal rendering) while
   DuckDB rounds the scaled binary double — they disagree on values whose
   shortest rendering ends in 5 (e.g. 100.25*1.1). Rounding the
   DECIMAL(38,9) cast first absorbs the binary noise at 1e-9 and makes
   both engines apply away-from-zero on the same decimal value.

3. **Render timestamps/dates as strings** with one explicit format, in
   UTC, so engine-native temporal encodings never reach the hasher.

4. **Never emit a DECIMAL-typed OUTPUT column.** DECIMAL is an internal
   type (exact, order-independent sums); final outputs must be BIGINT,
   DOUBLE, or STRING. Root cause of the only driver-red rows in five
   rounds (x92/x95, CORRECTNESS_r05): a comparator fetch path that
   coerces one engine's DECIMAL to float64 while the other side keeps
   scale-preserving Decimal objects makes '0.980510' hash-mismatch
   '0.98051' whenever the last place is a zero — ~1-0.9^n odds per
   query of n decimal values, unreproducible under Decimal-to-Decimal
   comparison (this repo's parity suite), categorical on the driver.
   Casting the final DECIMAL to DOUBLE is always safe: both engines
   correctly round the same exact decimal to the same float64.
   Enforced by tests/test_no_decimal_outputs.py over every registered
   query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def dec(col: Column | str, precision: int = 18, scale: int = 6) -> Column:
    """Cast to exact decimal before arithmetic/aggregation (rule 1)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DecimalType(precision, scale))


def _round_via_decimal(col: Column | str, places: int, scale: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast(DecimalType(38, scale)), places).cast("double")


def round2(col: Column | str) -> Column:
    """ROUND(x, 2) with cross-engine-stable semantics (rule 2)."""
    return _round_via_decimal(col, 2, 9)


def round4(col: Column | str) -> Column:
    """ROUND(x, 4) for similarity scores; absorbs <5e-13 fp noise."""
    return _round_via_decimal(col, 4, 12)


def round6(col: Column | str) -> Column:
    """ROUND(x, 6) for log-scale scores (PMI, idf, logprob): the
    guard-digit recipe at micro precision, emitted as DOUBLE (rule 4)."""
    return _round_via_decimal(col, 6, 12)


def qdec6(col: Column | str) -> Column:
    """Guarded quantize-to-DECIMAL(18,6) for per-term values that will
    be SUMMED exactly (rule 1) before a final double cast (rule 4).

    The guard digits (capture at scale 9, then round to 6) absorb the
    cast-implementation asymmetry between engines — Spark quantizes the
    double's shortest decimal rendering, DuckDB the scaled binary — the
    same mechanism round2/round4 rely on, applied where the result must
    stay DECIMAL for exact summation. Used for ln()-derived terms
    (idf, PSI, logprob): a 1-ulp libm divergence at a 1e-6 boundary is
    the residual risk either way; the guard removes the larger
    same-double disagreement window (r5 ADVICE, corpus.py:1244)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast(DecimalType(38, 9)), 6).cast(DecimalType(18, 6))


def ts_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def date_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c.cast("date"), "yyyy-MM-dd")


# DuckDB-side SQL fragments implementing the same rules, for oracle text.
def sql_round2(expr: str) -> str:
    return f"CAST(ROUND(CAST(({expr}) AS DECIMAL(38,9)), 2) AS DOUBLE)"


def sql_round4(expr: str) -> str:
    return f"CAST(ROUND(CAST(({expr}) AS DECIMAL(38,12)), 4) AS DOUBLE)"


def sql_round6(expr: str) -> str:
    return f"CAST(ROUND(CAST(({expr}) AS DECIMAL(38,12)), 6) AS DOUBLE)"


def sql_qdec6(expr: str) -> str:
    return f"CAST(ROUND(CAST(({expr}) AS DECIMAL(38,9)), 6) AS DECIMAL(18,6))"
