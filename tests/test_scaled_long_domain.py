"""Preconditions of the scaled-LONG moment sums in ``operators/stats.py``
(``_descale_sum``), pinned on the fixtures with DuckDB alone.

Every column fed to ``spark_scaled_long`` there must be non-negative
(the half-up ``FLOOR(x * 10^d + 0.5)`` convention) and scale below
sqrt(2^63), so the LONG product of two scaled values cannot overflow
before the DECIMAL(38,0) sum."""

from __future__ import annotations

import math
import os
import re

import duckdb
import pytest

from tests.conftest import SF_SMOKE
from weather_etl_pipeline_spark.functions.exact import MONEY_D
from weather_etl_pipeline_spark.operators import stats

SCALED_PRODUCT_BOUND = math.isqrt(2**63)  # 3,037,000,499
TABLE_OF = {"l_quantity": "lineitem", "l_extendedprice": "lineitem", "value": "events"}


def _scaled_columns() -> set[tuple[str, int]]:
    """(column, d) of every spark_scaled_long call in stats.py."""
    src = open(stats.__file__).read()
    calls = re.findall(r"spark_scaled_long\(\s*'(\w+)'\s*(?:,\s*(\d+))?\s*\)", src)
    assert src.count("spark_scaled_long(") == len(calls), "unparsed call"
    return {(col, int(d) if d else MONEY_D) for col, d in calls}


def test_scaled_columns_are_pinned():
    assert _scaled_columns() == {(c, MONEY_D) for c in TABLE_OF}


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_scaled_long_domain_on_fixture(sf):
    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"fixture {sf_dir} not present")
    assert SCALED_PRODUCT_BOUND**2 < 2**63 <= (SCALED_PRODUCT_BOUND + 1) ** 2
    con = duckdb.connect()
    for col, d in sorted(_scaled_columns()):
        path = os.path.join(sf_dir, f"{TABLE_OF[col]}.parquet")
        lo, hi = con.execute(
            f"SELECT min({col}), max(CAST(FLOOR({col} * {10**d} + 0.5) AS BIGINT)) "
            f"FROM read_parquet('{path}')"
        ).fetchone()
        assert lo >= 0, f"{sf} {col}: negative input {lo}"
        assert hi < SCALED_PRODUCT_BOUND, f"{sf} {col}: scaled max {hi}"
