"""Relational core queries: joins, filters, top-k, windows, JSON projection
(SURVEY.md §2.2-2.5, §2.9-2.10) bound to the TPC-H-ish star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import round_stable, sql_round_stable
from ..operators.aggregates import dsum, sql_dsum
from ..operators.relational import (
    join_anti,
    join_asof,
    join_auto,
    join_broadcast,
    join_salted,
    join_semi,
    last_per_key,
    topk,
    topk_per_group,
)
from ..sources.tables import load_table, spread
from .registry import register

from .shared import (  # noqa: F401  (re-export; helpers live in shared.py so importing them has no registration side effects)
    SQL_RATINGS_DEDUP,
    SQL_RATINGS_DEDUP_LAST_SEEN,
    ratings_deduped,
)


# Registered first within this module: its round-1 oracle hash-failed (the
# HUGEINT cast, now fixed) and the re-verification must land inside the
# driver's ~50-entry catalog window (see plans/catalog.py).
@register(
    "project_json_events",
    oracle=(
        "SELECT event_type, COUNT(*) AS n, "
        # Outer CAST: DuckDB SUM(BIGINT) -> HUGEINT -> float64 in pandas,
        # mismatching Spark's int64 in the driver's dtype-sensitive value-hash.
        "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
        + sql_round_stable(
            "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)"
            " / COUNT(*)"
        )
        + " AS avg_k FROM events GROUP BY event_type"
    ),
    doc="JSON field projection from the events.props string column "
    "(project_json, a3_p1.py:17-27 json.loads field access).",
    tags=("project_json",),
)
def project_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        round_stable(F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


@register(
    "ratings_last_per_key",
    oracle=(
        f"WITH r AS ({SQL_RATINGS_DEDUP}) "
        "SELECT item, COUNT(*) AS n_ratings, "
        + sql_round_stable("CAST(SUM(rating) AS DOUBLE) / COUNT(*)")
        + " AS avg_rating FROM r GROUP BY item"
    ),
    doc="Most-recent-rating-per-(user,item) dedupe then per-item stats "
    "(agg_last_per_key, a3_p2.py:18-22).",
    tags=("agg_last_per_key", "window"),
)
def ratings_last_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = ratings_deduped(spark, sf_dir)
    return r.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_ratings"),
        round_stable(F.sum("rating").cast("double") / F.count(F.lit(1))).alias("avg_rating"),
    )


@register(
    "ratings_last_seen_compat",
    oracle=(
        f"WITH r AS ({SQL_RATINGS_DEDUP_LAST_SEEN}) "
        "SELECT item, COUNT(*) AS n_ratings, "
        + sql_round_stable("CAST(SUM(rating) AS DOUBLE) / COUNT(*)")
        + " AS avg_rating FROM r GROUP BY item"
    ),
    doc="SURVEY.md §7.4 wart-#4 compatibility flag: the reference dedupes "
    "ratings with reduceByKey(lambda a,b: b) — LAST SEEN in arrival order, "
    "not the spec's most-recent (a3_p2.py:22). ratings_deduped("
    "mode='last_seen') reproduces that semantics with (l_orderkey, "
    "l_linenumber) as the deterministic arrival-order surrogate; same "
    "per-item rollup as ratings_last_per_key, so the two queries' outputs "
    "differ exactly where the wart bites (later-keyed row, earlier ship "
    "date).",
    tags=("agg_last_per_key", "compat", "window"),
)
def ratings_last_seen_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = ratings_deduped(spark, sf_dir, mode="last_seen")
    return r.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_ratings"),
        round_stable(F.sum("rating").cast("double") / F.count(F.lit(1))).alias("avg_rating"),
    )


@register(
    "having_count_items",
    oracle=(
        f"WITH r AS ({SQL_RATINGS_DEDUP}) "
        "SELECT item, COUNT(DISTINCT user_id) AS n_users FROM r "
        "GROUP BY item HAVING COUNT(DISTINCT user_id) >= 25"
    ),
    doc="Group-cardinality filter: items rated by >=25 distinct users "
    "(agg_having_count, a3_p2.py:24-31 '91 items').",
    tags=("agg_having_count",),
)
def having_count_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = ratings_deduped(spark, sf_dir)
    return (
        r.groupBy("item")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= 25)
    )


@register(
    "semi_join_orders",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        f"{sql_dsum('o_totalprice')} AS total_price "
        "FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_acctbal > 5000) "
        "GROUP BY o_orderpriority"
    ),
    doc="Semi join: orders of well-funded customers, by priority "
    "(join_semi, sampler_v02.py:47-49 second-pass membership filter shape).",
    tags=("join_semi", "agg_sum_by_key"),
)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        join_semi(orders, rich, "o_custkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@register(
    "anti_join_customers",
    oracle=(
        "SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer "
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) "
        "GROUP BY c_mktsegment"
    ),
    doc="Anti join: customers with no orders, by segment (join_anti).",
    tags=("join_anti",),
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        join_anti(cust, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "broadcast_join_revenue",
    oracle=(
        "SELECT r_name, n_name, COUNT(*) AS n_orders, "
        f"{sql_dsum('o_totalprice')} AS total_price "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name, n_name"
    ),
    doc="Star join with broadcast dimensions (join_broadcast, a3_p1.py:37 / "
    "a3_p2.py:72 driver-broadcast lookups): nation/region are provably "
    "bounded and carry the hint; the customer-scale dims frame is "
    "AQE-decided (broadcast at small SF, graceful shuffle at 100 TB).",
    tags=("join_broadcast",),
)
def broadcast_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = join_broadcast(
        join_broadcast(cust, nation, cust.c_nationkey == nation.n_nationkey),
        region,
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("c_custkey", "n_name", "r_name")
    # dims contains every customer — unbounded, so no hint (join_auto)
    return (
        join_auto(orders, dims, orders.o_custkey == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@register(
    "tpch_q1_pricing_summary",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        f"{sql_dsum('l_quantity')} AS sum_qty, "
        f"{sql_dsum('l_extendedprice')} AS sum_base_price, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge, "
        f"{sql_round_stable(sql_dsum('l_quantity') + ' / COUNT(*)')} AS avg_qty, "
        f"{sql_round_stable(sql_dsum('l_extendedprice') + ' / COUNT(*)')} AS avg_price, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    doc="TPC-H Q1-shaped pricing summary: the scan->filter->wide-agg shape; "
    "exact decimal accumulation makes the floats engine-stable.",
    tags=("filter_pred", "agg_sum_by_key", "agg_combiner"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        # spread AFTER the filter (pushdown intact): the local single-split
        # scan otherwise runs all the partial aggregates (each dsum is three
        # long sums, no per-row decimal) on one core (guide §2.5 input
        # skew; measured 1.38 -> 0.81 s at sf0.1, with decimal sums).
        # spread() passes the scan through when Spark already reads it as
        # enough non-empty splits: a multi-row-group lineitem is cut into
        # byte ranges (sf1's 49 row groups read as 4 splits on 4 cores), so
        # there the partial aggregates run on the scan with no exchange.
        spread(li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            round_stable(dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            round_stable(dsum("l_extendedprice") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_top_orders",
    oracle=(
        "SELECT l_orderkey, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue, "
        "strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
        "GROUP BY l_orderkey, orderdate, o_orderpriority "
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
    ),
    doc="TPC-H Q3-shaped shipping priority: selective dimension filter, "
    "fact join, top-k by aggregated revenue with total-order tiebreak.",
    tags=("join_broadcast", "topk", "filter_pred"),
)
def tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # filtered customer set still scales with the data -> AQE-decided
    joined = join_auto(orders, cust, orders.o_custkey == cust.c_custkey).join(
        li, F.col("o_orderkey") == li.l_orderkey
    )
    agg = joined.groupBy(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    return topk(agg, [F.desc("revenue"), F.asc("l_orderkey")], 10).select(
        "l_orderkey", "revenue", "orderdate", "o_orderpriority"
    )


@register(
    "topk_orders_per_segment",
    oracle=(
        "SELECT c_mktsegment, o_orderkey, o_totalprice FROM ("
        "SELECT c_mktsegment, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY c_mktsegment "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn "
        "FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rn <= 3"
    ),
    doc="Per-group top-k via ranking window (engine extension of the "
    "reference's global takeOrdered, a3_p1.py:101-102).",
    tags=("topk", "window"),
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = join_auto(orders, cust, orders.o_custkey == cust.c_custkey)
    return topk_per_group(
        j.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        ["c_mktsegment"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


@register(
    "asof_join_error_attribution",
    oracle=(
        "WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us "
        "FROM events WHERE event_type = 'error'), "
        "r0 AS (SELECT user_id, epoch_us(ts) AS click_ts, event_id AS click_id, "
        "row_number() OVER (PARTITION BY user_id, epoch_us(ts) "
        "ORDER BY event_id DESC) AS rn FROM events WHERE event_type = 'click'), "
        "r AS (SELECT user_id, click_ts, click_id FROM r0 WHERE rn = 1) "
        "SELECT l.event_id, l.user_id, l.ts_us, r.click_id, r.click_ts, "
        "l.ts_us - r.click_ts AS gap_us "
        "FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.click_ts"
    ),
    doc="As-of join (operator Spark lacks, implemented as the union + "
    "last-non-null-window merge — ONE shuffle, no inequality-join blowup): "
    "each error event attributed to the user's most recent click at or "
    "before it. Oracle: DuckDB's native ASOF JOIN — an independent "
    "implementation of the same semantics.",
    tags=("asof", "window"),
)
def asof_join_error_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", "event_type"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    clicks_unique = last_per_key(
        clicks, ["user_id", "click_ts"], [F.desc("click_id")]
    )
    out = join_asof(
        errors, clicks_unique, "user_id", "ts_us", "click_ts",
        ["click_id", "click_ts"],
    )
    return out.select(
        "event_id", "user_id", "ts_us", "click_id", "click_ts",
        (F.col("ts_us") - F.col("click_ts")).alias("gap_us"),
    )


@register(
    "salted_join_skewed",
    oracle=(
        "WITH big AS (SELECT CASE WHEN user_id % 10 < 8 THEN 0 "
        "ELSE user_id % 97 END AS skew_key, value FROM events), "
        "dim AS (SELECT k AS skew_key, 'g' || CAST(k % 7 AS VARCHAR) AS grp "
        "FROM (SELECT unnest(range(97)) AS k)) "
        "SELECT grp, COUNT(*) AS n, "
        f"{sql_dsum('value', 4)} AS total_value "
        "FROM big JOIN dim USING (skew_key) GROUP BY grp"
    ),
    doc="Skew-mitigated join (salting): 80% of event rows share one join key; "
    "the salted join spreads that key over 8 shuffle partitions by salting "
    "the big side and replicating the dim 8x — byte-identical results to the "
    "plain join (the oracle), different physical distribution. The manual "
    "complement to AQE skew-join splitting for keys it cannot split.",
    tags=("join_salted", "skew", "join_broadcast"),
)
def salted_join_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    big = ev.select(
        F.when(F.col("user_id") % 10 < 8, F.lit(0))
        .otherwise(F.col("user_id") % 97)
        .alias("skew_key"),
        "event_id",
        "value",
    )
    dim = spark.range(97).select(
        F.col("id").alias("skew_key"),
        F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias("grp"),
    )
    joined = join_salted(big, dim, "skew_key", F.col("event_id"), n_salt=8)
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", 4).alias("total_value")
    )


