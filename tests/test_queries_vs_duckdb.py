"""Differential test of every registered query against its DuckDB oracle —
the same check the driver runs at sf0.01 (we default to sf0.001 for speed;
set TEST_SF_DIR=/root/testdata/sf0.01 to reproduce the driver exactly)."""

from __future__ import annotations

import pytest

from nosql_triple_store_spark.registry import all_specs

from .conftest import SF_DIR
from .util import compare_to_duckdb

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, ddb):
    spec = SPECS[name]
    if spec.alias_of is not None:
        # each computation runs once, in its target's own case
        target = SPECS[spec.alias_of]
        assert spec.fn is target.fn and spec.oracle == target.oracle
        return
    df = spec.fn(spark, SF_DIR)
    # TZ-robustness invariant: a session-TZ-typed timestamp column in a
    # query's output shifts on a non-UTC vanilla driver host (e.g.
    # date_trunc on timestamp_ntz). Found live by a TZ=America/New_York
    # probe; every output timestamp must be timestamp_ntz or date.
    from pyspark.sql.types import TimestampType

    tz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)
    ]
    assert not tz_cols, (
        f"{name} outputs session-TZ timestamp column(s) {tz_cols}; use "
        "date-domain truncation and cast back to timestamp_ntz"
    )
    if spec.oracle is None:
        # rows-only contract: runs, stable schema, deterministic row count
        n1 = df.count()
        n2 = spec.fn(spark, SF_DIR).count()
        assert n1 == n2, f"{name} is non-deterministic: {n1} != {n2}"
        return
    compare_to_duckdb(df, ddb, spec.oracle)
