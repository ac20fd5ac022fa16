"""The SQL surface: register_views + spark.sql must agree with the
DataFrame forms (the reference has no SQL at all — this is the §2B
analytical surface exposed both ways)."""

from __future__ import annotations

from kstreamjs_spark.tables import register_views


def test_sql_equals_dataframe_join_agg(spark, sf_smoke):
    register_views(spark, sf_smoke)
    sql = spark.sql("""
        SELECT n_name, COUNT(*) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """)
    import pyspark.sql.functions as F

    from kstreamjs_spark.tables import load

    customer, nation = load(spark, sf_smoke, "customer", "nation")
    df = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_sql_window_function(spark, sf_smoke):
    register_views(spark, sf_smoke)
    top = spark.sql("""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) rn
            FROM orders
        ) WHERE rn = 1
    """)
    assert top.count() == spark.table("orders").select("o_custkey").distinct().count()
