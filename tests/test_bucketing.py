"""Bucketed-table co-located join: writing both join sides bucketed
by the join key eliminates the shuffle exchange entirely — the
pre-partitioning strategy for repeated fact-fact joins at scale
(bucket pruning + exchange-free sort-merge join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # uses the session's warehouse dir (set in conftest)
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
    )
    items = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("l_orderkey"),
        (F.col("id") % 13).cast("double").alias("l_quantity"),
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        items.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_items")
    )
    yield "b_orders", "b_items"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    t_orders, t_items = bucketed_tables
    o = spark.table(t_orders)
    i = spark.table(t_items)
    joined = i.join(o, i.l_orderkey == o.o_orderkey).groupBy("o_custkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the JOIN itself is exchange-free: both sides pre-bucketed on the
    # key; the only exchange allowed is the post-join re-aggregation
    # on o_custkey
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # and it still computes the right answer
    rows = {r["o_custkey"]: r["qty"] for r in joined.collect()}
    assert len(rows) == 7
    assert sum(rows.values()) == sum(float(k % 13) for k in range(5000))


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join on plain frames shuffles both sides."""
    o = spark.range(0, 1000).select(F.col("id").alias("o_orderkey"))
    i = spark.range(0, 5000).select((F.col("id") % 1000).alias("l_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = i.join(o, i.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
