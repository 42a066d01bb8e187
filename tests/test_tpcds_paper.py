from __future__ import annotations

import os

import pytest

from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR, check_query, duck_connection

load_all()

# Select by module, not by hand-maintained list (r6 advice pattern):
# every tpcds_paper query is oracled, so new shapes are auto-covered.
QDS = sorted(
    n
    for n, s in REGISTRY.items()
    if s.fn.__module__ == "splitserve_spark.operators.tpcds_paper"
)


@pytest.mark.parametrize("name", QDS)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


@pytest.mark.parametrize("name", QDS)
def test_nonempty_at_oracle_sf(spark, name):
    df = REGISTRY[name].fn(spark, "/root/testdata/sf0.01")
    assert df.count() >= 1


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_orders_key_is_unique(sf):
    """_slice_membership counts its (o_orderkey, o_totalprice) groups
    with count(*) in place of count(DISTINCT o_orderkey): that holds
    only while o_orderkey is unique in orders."""
    con = duck_connection(os.path.join(os.path.dirname(SF_DIR), sf))
    try:
        rows, keys = con.execute(
            "SELECT count(*), count(DISTINCT o_orderkey) FROM orders"
        ).fetchone()
    finally:
        con.close()
    assert rows > 0 and rows == keys, (rows, keys)
