"""Bucketed co-located joins (SURVEY.md §1.5: the reference's
``distkey`` declares server-side co-location, core.py:205-207; Spark's
persisted equivalent is ``bucketBy`` on the table sink).

The 100 TB story: two fact tables bucketed on the same join key with
the same bucket count join with ZERO exchanges — the shuffle happens
once at write time and is amortized over every subsequent join.  This
is what replaces Redshift's distkey co-location in a lake architecture.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pandas_redshift_spark.operators.exactsum import revenue_sum, revenue_sum_sql
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.operators.sourcesinks import _stage_dir
from pandas_redshift_spark.session import Tables

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = N_BUCKETS
) -> None:
    """Persist ``df`` as a bucketed+sorted table (the distkey/sortkey
    analogue).  Explicit location keeps the warehouse path independent
    of the caller's cwd."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = _stage_dir(spark, f"bucketed_{table}")
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Stage orders and lineitem bucketed on the orderkey join key."""
    t = Tables(spark, sf_dir)
    write_bucketed(
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "prs_orders_bucketed",
        "o_orderkey",
    )
    write_bucketed(
        t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "prs_lineitem_bucketed",
        "l_orderkey",
    )
    return spark.table("prs_orders_bucketed"), spark.table("prs_lineitem_bucketed")


@query(
    "bucketed_join_colocated",
    oracle=f"""
    SELECT
        o.o_orderkey,
        CAST(count(*) AS BIGINT) AS n_lines,
        {revenue_sum_sql("l.")} AS net_revenue,
        round(o.o_totalprice, 2) AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over tables bucketed on the join key: the merge
    join reads bucket i of each table side-by-side — no Exchange in
    the plan (asserted by the unit test), and the follow-on aggregate
    on the same key reuses the bucketing too.  The ``merge`` hint pins
    the strategy so the small test tables don't take the broadcast
    shortcut that wouldn't exist at 100 TB."""
    orders_b, lineitem_b = bucketed_orders_lineitem(spark, sf_dir)
    return (
        lineitem_b.hint("merge")
        .join(orders_b, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            revenue_sum().alias("net_revenue"),
        )
        .select(
            "o_orderkey",
            "n_lines",
            "net_revenue",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )
