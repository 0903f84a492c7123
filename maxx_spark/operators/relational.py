"""Relational operators: aggregations, joins, top-k.

Scale notes (100 TB design):
- Money arithmetic runs in DECIMAL so partial aggregation is exact and
  order-independent — the same query gives bit-identical results on 1
  partition or 10,000 (doubles would drift with shuffle order).
- Small dimensions (region/nation/supplier, the classic <10 MB tables) are
  broadcast explicitly; the probe side never shuffles for them.
- Final rounding happens once, after exact aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def _money(c):
    return F.col(c).cast(DEC)


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-style pricing summary report.

    groupBy is a map-side-combinable hash aggregate on two low-cardinality
    keys — the shuffle moves only |flags|x|status| x partials rows.
    """
    disc_price = (_money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))).alias("dp")
    charge = (
        _money("l_extendedprice")
        * (F.lit(1).cast(DEC) - _money("l_discount"))
        * (F.lit(1).cast(DEC) + _money("l_tax"))
    ).alias("ch")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_money("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_money("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round((F.sum(_money("l_quantity")).cast("double") / F.count(F.lit(1))), 6).alias("avg_qty"),
            F.round((F.sum(_money("l_extendedprice")).cast("double") / F.count(F.lit(1))), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Revenue per nation: fact-to-fact join on orderkey, dims broadcast.

    lineitem⨝orders is the only real shuffle (both sides hashed on
    o_orderkey); customer/nation/region ride along as broadcast hash joins.
    """
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
    # customer scales linearly with SF (~150k x SF rows) — no broadcast hint;
    # AQE still broadcasts it at runtime when it is genuinely small. Hints
    # stay only on nation/region, the fixed 25/5-row dims.
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


def top_parts_by_brand(lineitem: DataFrame, part: DataFrame, k: int = 3) -> DataFrame:
    """Top-k parts per brand by shipped quantity: one ``row_number`` rank
    filter over a two-phase bounded top-k.

    Aggregate first (shrinks the fact table to |parts| rows), then rank on
    the strict total order ``total_qty desc, p_partkey asc`` and keep
    ``rnk <= k``. Catalyst plans the literal rank filter as
    ``WindowGroupLimit Partial`` (each map task keeps k candidates per
    brand) -> ``Exchange hashpartitioning(p_brand)`` -> ``WindowGroupLimit
    Final`` -> ``Window``, so the per-brand sort sees at most k x
    map-partitions rows whatever the SF. So a rank window no longer means
    one task sorting a whole brand's parts (~|parts|/|brands| rows, growing
    with SF): that held only for a rank window without this limit, and
    ``plans.window_bounds`` gates the shape in tests/test_plans.py. ``k``
    must stay a literal (a non-literal rank filter is not pushed into the
    limit). part scales with SF (~200k x SF rows), so it carries no
    broadcast hint.
    """
    w = Window.partitionBy("p_brand").orderBy(F.desc("total_qty"), F.asc("p_partkey"))
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("total_qty"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .orderBy("p_brand", "rnk")
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4-style: orders with at least one late lineitem, by priority.

    The EXISTS is a left-semi join — no row multiplication, and Catalyst
    pushes the l_shipdate predicate into the scan.
    """
    late = lineitem.select("l_orderkey").distinct()
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Shadowing dedup (SURVEY.md E7) on the events table: latest event per
    user (ts desc, event_id desc as deterministic tiebreak)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
        .orderBy("user_id")
    )
