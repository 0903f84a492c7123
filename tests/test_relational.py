"""Exact results of the relational operators on engine-owned tiny tables."""

import duckdb
from pyspark.sql import functions as F

from maxx_spark.operators import relational as R


def _top_parts_tables(spark):
    # brand A: four parts tie at 30.0 (p2, p3, p4, p6) -> p_partkey asc keeps
    #   p2, p3, p4; p1 and p5 trail; each part's quantity is split over
    #   several lineitem rows, so partial sums meet in the aggregate
    # brand B: two parts, fewer than k=3
    # brand C: twelve parts; 24, 22 and 20 lead with 50, 40 and 35 (they
    #   hash to three different aggregate partitions), the rest sell i + 1
    # brand D: its only part never sells, so the inner join drops it
    parts = [(1, "a1", "A"), (2, "a2", "A"), (3, "a3", "A"), (4, "a4", "A"),
             (5, "a5", "A"), (6, "a6", "A"), (10, "b10", "B"), (11, "b11", "B"),
             (40, "d40", "D")]
    parts += [(20 + i, f"c{20 + i}", "C") for i in range(12)]
    lines = [(1, 4.0), (1, 6.0), (2, 10.5), (2, 19.5), (3, 30.0), (4, 15.0),
             (4, 15.0), (5, 5.25), (6, 12.0), (6, 18.0), (10, 7.0), (11, 4.5),
             (11, 4.5)]
    lead = {20: 35.0, 22: 40.0, 24: 50.0}
    lines += [(20 + i, lead.get(20 + i, float(i + 1))) for i in range(12)]
    part = spark.createDataFrame(parts, "p_partkey long, p_name string, p_brand string")
    lineitem = spark.createDataFrame(lines, "l_partkey long, l_quantity double")
    return lineitem, part


def test_top_parts_by_brand_exact(spark):
    """q03 on hand-built tables: ties on total_qty broken by p_partkey asc,
    a brand with fewer than k parts, and a brand whose top k lie in several
    map partitions of the aggregate, so the Partial group limit cuts
    candidates on more than one task. Equal to the hand-derived rows and
    to the DuckDB oracle query over the same tables."""
    import __spark_entry__ as e

    lineitem, part = _top_parts_tables(spark)
    lineitem = lineitem.repartition(3)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    # keep every aggregate partition its own task (the tables are tiny)
    spark.conf.set(key, "false")
    try:
        # precondition: brand C's top 3 (parts 24, 22, 20) span >1 partition
        pids = (
            lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_partkey", "p_name")
            .agg(F.sum("l_quantity").alias("q"))
            .where(F.col("p_partkey").isin(20, 22, 24))
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert pids > 1
        got = [tuple(r) for r in R.top_parts_by_brand(lineitem, part).collect()]
    finally:
        spark.conf.set(key, old)

    assert got == [
        ("A", 2, "a2", 30.0, 1),
        ("A", 3, "a3", 30.0, 2),
        ("A", 4, "a4", 30.0, 3),
        ("B", 11, "b11", 9.0, 1),
        ("B", 10, "b10", 7.0, 2),
        ("C", 24, "c24", 50.0, 1),
        ("C", 22, "c22", 40.0, 2),
        ("C", 20, "c20", 35.0, 3),
    ]

    con = duckdb.connect()
    try:
        con.register("lineitem", lineitem.toPandas())
        con.register("part", part.toPandas())
        want = con.execute(e.oracle_sql()["q03_top_parts_by_brand"]).fetchall()
    finally:
        con.close()
    assert got == [tuple(r) for r in want]
