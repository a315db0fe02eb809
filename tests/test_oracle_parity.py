"""Differential tests: every registered query with an oracle must match
DuckDB on row count, column names, and (order-insensitive) values at
sf0.01 — the same contract the driver's CORRECTNESS gate applies.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, duck_rows, normalize, spark_rows
from video_streamer_spark.queries import ORACLES, QUERIES

ORACLE_NAMES = sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_ORACLE)
    s_cols = sorted(sdf.columns)
    s_rows = spark_rows(sdf, sdf.columns)
    d_rows, d_cols = duck_rows(duck, ORACLES[name])
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    sn, dn = normalize(s_rows), normalize(d_rows)
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diff}")


def test_all_queries_run_smoke(spark):
    """Queries without oracles must still execute and return a schema."""
    from tests.conftest import SF_SMOKE

    for name, fn in QUERIES.items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, f"{name}: empty schema"
        assert df.count() >= 0, f"{name}: failed to execute"


def test_registry_consistency():
    """Every registered query has an oracle."""
    assert set(QUERIES) == set(ORACLES), (
        set(QUERIES) ^ set(ORACLES)
    )
