"""Skew-mitigation equivalence and JSON-ingest tests."""

from __future__ import annotations

import pytest

from go_web_mapreduce_spark.functions.skew import salted_join, with_salt
from go_web_mapreduce_spark.sources.tables import load_table


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, sf_dir, how):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    small = customer.withColumnRenamed("c_custkey", "o_custkey")
    got = salted_join(orders, small, ["o_custkey"], num_salts=4, how=how)
    want = orders.join(small, ["o_custkey"], how)
    assert got.count() == want.count()
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w


def test_with_salt_bounds(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").limit(100)
    salts = with_salt(ev, 4).select("__salt").distinct().collect()
    assert all(0 <= r["__salt"] < 4 for r in salts)
    with pytest.raises(ValueError):
        with_salt(ev, 0)
