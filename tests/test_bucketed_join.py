"""Bucketing removes the join shuffle: both sides written bucketed by
the join key → SortMergeJoin with NO Exchange (the co-located join the
north rule's entity-hash bucketing exists for)."""

from pyspark.sql import functions as F

from ontoemma_spark.materialize import colocated_join, write_bucketed


def test_bucketed_join_has_no_exchange(spark, broadcast_off):
    # uses the session's default warehouse dir (static conf); tables are
    # dropped in the finally block
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_quantity"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", num_buckets=4)
    write_bucketed(lineitem, "lineitem_b", "o_orderkey", num_buckets=4)

    try:
        with broadcast_off():
            joined = colocated_join(spark, "orders_b", "lineitem_b", "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # correctness: same result as the plain join
            plain = orders.join(lineitem, "o_orderkey")
            assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
