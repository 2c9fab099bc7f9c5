"""Money sums run as bigint cents (the bigint-cents block in
snappydata_spark/operators/tpch.py): integer-unit partials, an exact
decimal outer sum, and the oracle's ROUND/CAST tail.  Each query that
uses it must equal its DuckDB oracle, compared the way
tools/check_oracle.py compares."""

import pytest

from snappydata_spark.operators import ORACLES, QUERIES
from tools.check_oracle import canon, duck_connect


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q01_pricing_summary",
        "tpch_q11_important_stock",
        "tpch_q18_large_orders",
        "agg_cube",
    ],
)
def test_money_sum_matches_oracle(spark, sf_dir, name):
    try:
        got = QUERIES[name](spark, sf_dir).toPandas()
    finally:
        spark.catalog.clearCache()  # q11 persists its grouped frame
    want = duck_connect(sf_dir).execute(ORACLES[name]).df()
    assert sorted(c.lower() for c in got.columns) == sorted(
        c.lower() for c in want.columns
    )
    assert len(got) > 0
    assert canon(got) == canon(want)
