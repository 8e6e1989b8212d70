"""Relational analytics over the star-schema tables (round-2 verdict
item 3: the dimension/fact query shapes an analytics-engine user hits
daily, demonstrated with explicit join-strategy choices).

The reference has no relational layer (it is an image-dedup tool); these
operators exercise the ENGINE qualities the north rule demands on the
shapes Catalyst actually optimizes: fact⋈dimension joins where every
dimension is broadcast (nation is 25 rows at ANY scale factor — shipping
it to executors beats shuffling a 10^12-row fact table on nationkey),
partial (map-side) aggregation before the one unavoidable shuffle on the
group keys, and per-key windows that never induce a global sort.

Money aggregates sum EXACT decimals (the columns are 2-decimal money;
double summation order differs between engines/partitionings and flips
low bits at 10^8 magnitudes) and convert to double only at the end —
bit-identical results at any parallelism, which is also what makes them
driver-oracle value-checkable. tests/test_relational.py asserts the
BroadcastHashJoin choices on the dimension side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _money(col: str) -> Column:
    """Exact 2-decimal representation of a money/quantity column."""
    return F.col(col).cast("decimal(18,2)")


def _disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal arithmetic."""
    one = F.lit(1).cast("decimal(3,2)")
    return _money("l_extendedprice") * (one - F.col("l_discount").cast("decimal(3,2)"))


def pricing_summary(lineitem: DataFrame, cutoff: str = "2001-09-01") -> DataFrame:
    """TPC-H Q1 shape: scan-filter → partial agg → final agg on the tiny
    (returnflag, linestatus) key space. One shuffle of ~6 groups/partition
    after map-side combine; the shipdate filter pushes into the parquet
    scan (row-group stats pruning)."""
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(_money("l_quantity")).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(3,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def region_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: fact chain lineitem⋈orders filtered by order date,
    then customer/nation/region dimensions — every dimension explicitly
    `broadcast()` (region 5 rows, nation 25, customer ≪ lineitem), so the
    only shuffles are the fact-side equi-join and the final tiny agg.
    Revenue per (region, nation)."""
    filtered_orders = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(filtered_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def top_customers(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k customers by lifetime order value, nation attached. Agg on
    o_custkey first (one fact shuffle), THEN the broadcast joins — joining
    after the agg touches |customers| rows, not |orders|. Global top-k is
    orderBy().limit() → TakeOrderedAndProject, no full sort."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_money("o_totalprice")).cast("double").alias("total_spent"),
        F.count("*").alias("n_orders"),
    )
    return (
        per_cust.join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            "total_spent",
            "n_orders",
        )
        .orderBy(F.col("total_spent").desc(), "custkey")
        .limit(k)
    )


def customer_order_ranks(orders: DataFrame, top_n: int = 3) -> DataFrame:
    """Each customer's top_n most expensive orders with their per-customer
    rank — a keyed window (partitionBy custkey), which shuffles once on
    the customer key and sorts within partitions only; there is no global
    sort anywhere in the plan."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("rnk").alias("rnk"),
        )
    )


def brand_volume(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand shipped volume/revenue: fact ⋈ broadcast(part dimension)
    then agg on the small brand key. The part side is projected to two
    columns before the broadcast — never ship unused dimension payload."""
    return (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_price"),
            F.count("*").alias("n_items"),
        )
    )
