"""The SQL entry surface: fixture tables as temp views + spark.sql must
produce the same results as the DataFrame API (the reference has no
query language at all — SURVEY.md §2.4; here SQL is a free second
front-end to the identical Catalyst plans)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources import table

SF = "/root/testdata/sf0.01"


def test_sql_equals_dataframe_agg(spark):
    table(spark, SF, "lineitem").createOrReplaceTempView("lineitem")
    got = spark.sql(
        """
        SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
        FROM lineitem GROUP BY l_returnflag
        """
    ).collect()
    want = (
        table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_sql_join_and_exists(spark):
    for name in ("customer", "orders", "nation"):
        table(spark, SF, name).createOrReplaceTempView(name)
    got = spark.sql(
        """
        SELECT n_name, count(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
        )
        GROUP BY n_name
        """
    )
    # correlated EXISTS planned as a semi join, not a cartesian
    from distributed_mapreduce_spark import plans

    plans.assert_no_cartesian(got)
    assert got.count() > 0
