"""Decision-support join shapes rounding out the TPC-H family (beyond-
reference, round 3): Q4 (EXISTS -> semi join) and Q13 (outer-join customer
distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.relational import join_semi
from ..sources.tables import load_table
from .registry import register

#: Q4 quarter: epoch-day window inside the testdata's o_orderdate span
#: (orders dates span epoch days 9131-11535 at every SF; events use a
#: different, later span).
Q4_LO_DAY = 9500
Q4_HI_DAY = 9865


@register(
    "tpch_q4_order_priority",
    oracle=(
        "WITH o AS (SELECT o_orderkey, o_orderpriority, "
        "epoch_us(o_orderdate) // 86400000000 AS day FROM orders), "
        f"w AS (SELECT * FROM o WHERE day >= {Q4_LO_DAY} AND day < {Q4_HI_DAY}) "
        "SELECT o_orderpriority, COUNT(*) AS order_count FROM w "
        "WHERE EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = w.o_orderkey AND l.l_shipdate > "
        "(SELECT MIN(x.o_orderdate) FROM orders x)) "
        "GROUP BY o_orderpriority"
    ),
    doc="TPC-H Q4 shape: priority distribution of orders in a date window "
    "having at least one late-shipping lineitem — the EXISTS subquery "
    "lowered to a LEFT SEMI join (no fact-side duplication, no distinct), "
    "date predicate pushed to the orders scan. The scalar floor date is a "
    "1-row subquery both engines fold.",
    tags=("join_semi", "multi_join", "filter_pred"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        # o_orderdate reads as NTZ ("as if UTC", see sources/tables.py);
        # unix_micros rejects NTZ, so cast under the pinned UTC session tz.
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("day"),
    )
    w = orders.filter((F.col("day") >= Q4_LO_DAY) & (F.col("day") < Q4_HI_DAY))
    # scalar floor date: bounded 1-row aggregate, joined as a literal-free
    # cross of a 1-row frame would be — but a driver-free semi join only
    # needs the lineitem side filtered, so derive the floor once via min().
    floor_df = load_table(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("floor_dt")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .join(F.broadcast(floor_df))
        .filter(F.col("l_shipdate") > F.col("floor_dt"))
        .select("l_orderkey")
    )
    kept = join_semi(w, li, w.o_orderkey == li.l_orderkey)
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q13_customer_distribution",
    oracle=(
        "WITH per_cust AS (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count "
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
        "AND o.o_orderpriority <> '1-URGENT' GROUP BY c.c_custkey) "
        "SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY c_count"
    ),
    doc="TPC-H Q13 shape: customers LEFT OUTER joined to their non-urgent "
    "orders, per-customer order counts, then the count-of-counts "
    "distribution (zero-order customers kept by the outer join — the shape "
    "an inner join silently gets wrong). Two shuffles: the outer join's and "
    "the bounded count-of-counts aggregate.",
    tags=("multi_join", "agg_count_by_key", "histogram"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
