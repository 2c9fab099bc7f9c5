"""Second wave of TPC-H-style queries (Q8/Q11/Q13/Q17/Q20 shapes adapted
to the reduced schema — citations are the reference's TPCH_Queries.scala
getQuery8/11/13/17/20)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from snappydata_spark.operators.registry import register
from snappydata_spark.tables import load_tables


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q08_market_share",
    oracle="""
WITH sales AS (
  SELECT YEAR(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA')
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM sales GROUP BY o_year
""",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 market share (getQuery8): conditional-sum ratio by year."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region", "supplier")
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    asia = t["region"].filter(F.col("r_name") == "ASIA")
    sales = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(asia), F.col("r_regionkey") == F.col("cn_region"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("sn_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            F.col("supp_nation"),
        )
    )
    target = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return sales.groupBy("o_year").agg(
        F.round(F.sum(target) / F.sum("volume"), 6).alias("mkt_share")
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
             AS value_dec
  FROM lineitem GROUP BY l_suppkey, l_partkey)
SELECT l_suppkey, l_partkey, CAST(ROUND(value_dec, 2) AS DOUBLE) AS value
FROM sp
WHERE CAST(value_dec AS DOUBLE) >
      (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.00008 FROM sp)
""",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (getQuery11, lineitem standing in for partsupp):
    groups above a global-total threshold (uncorrelated scalar subquery).
    Revenue sums are exact on both engines (the fuzzer's class-1
    divergence: at sf0.001 this query's double sums landed on a .xx5
    rounding boundary with different summation orders — exact addition
    is associative, so the result is order-independent)."""
    from snappydata_spark.operators.tpch import DISC_H, PRICE_C

    t = load_tables(spark, sf_dir, ("lineitem",))
    # revenue accumulates as single-level BIGINT 1e-4 dollar units; the
    # /1e4 decimal division is exact (see the bigint-cents block in
    # tpch.py).  One lineitem scan serves both sides: the threshold needs
    # only the global revenue total, and the exact value_dec group sums
    # add up to it — the oracle's own `SELECT SUM(value_dec) FROM sp`.
    # sp is persisted because both branches of the returned plan consume
    # it (consumed-by-returned-plan frames rely on the session
    # clearCache, see OPTIMIZATION_r13.md §8); AQE does not reuse the
    # grouped exchange across the broadcast-subquery boundary, so without
    # the persist the grouped aggregate runs twice.
    sp = (
        t["lineitem"]
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr(f"SUM({PRICE_C} * {DISC_H}) AS rev_u"))
        .select(
            "l_suppkey",
            "l_partkey",
            F.expr("CAST(rev_u AS DECIMAL(38,0)) / 10000 AS value_dec"),
        )
    )
    sp = sp.persist()
    threshold = sp.agg(
        (F.sum("value_dec").cast("double") * 0.00008).alias("thr")
    )
    return (
        sp.join(F.broadcast(threshold))
        .filter(F.col("value_dec").cast("double") > F.col("thr"))
        .select(
            "l_suppkey",
            "l_partkey",
            F.round("value_dec", 2).cast("double").alias("value"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders GROUP BY c_count
""",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (getQuery13): left-outer join with join-condition filter
    (not WHERE — null-extension must survive), double aggregation."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    c_orders = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (getQuery17): correlated scalar subquery over the fact
    table → expressed as a pre-aggregated per-part average joined back
    (the decorrelated plan Catalyst produces for the SQL form)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    part_avg = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    )
    brand = t["part"].filter(F.col("p_brand") == "Brand#3")
    return (
        t["lineitem"]
        .join(F.broadcast(brand), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("avg_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q20_promo_suppliers",
    oracle="""
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_suppkey
  HAVING SUM(l.l_quantity) > 100)
""",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (getQuery20): nested IN subqueries → semi-join chain
    with group-having in the middle."""
    t = load_tables(spark, sf_dir, ("supplier", "nation", "lineitem", "part"))
    promo_parts = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    shippers = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(promo_parts), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(shippers, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
    )


@register(
    "tpch_q21_suppliers_kept_waiting",
    oracle="""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F')
SELECT s.s_name, COUNT(*) AS numwait
FROM li l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.late = 1
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late = 1)
GROUP BY s.s_name
""",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (getQuery21, TPCH_Queries.scala): suppliers who were the
    sole late shipper on multi-supplier finalized orders.  "Late" is
    adapted to the reduced schema (no commit/receipt dates):
    l_shipdate > o_orderdate + 90 days.

    The EXISTS / NOT EXISTS pair is decorrelated into one per-order
    aggregate — n_supp (distinct suppliers) and n_late_supp (distinct
    late suppliers) — then late rows qualify iff n_supp > 1 and
    n_late_supp == 1.  One shuffle on l_orderkey computes both counts;
    at scale this beats the two extra self-join shuffles of the literal
    EXISTS plan and is skew-safe under AQE."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "supplier"))
    final_orders = t["orders"].filter(F.col("o_orderstatus") == "F")
    li = (
        t["lineitem"]
        .join(final_orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("late"),
        )
    )
    # r12 (guide §2.4): the per-order supplier counts come from a WINDOW
    # over the same l_orderkey partitioning instead of a groupBy + re-join
    # — the lineitem⋈orders base was computed twice (once per branch) and
    # shuffled twice; now it is computed once and shuffled once.
    # size(collect_set(...)) over the window == countDistinct per order
    # (both ignore NULLs, so the late-only set matches the filtered
    # countDistinct).  TPC-H orders have bounded line counts, so the
    # window partitions cannot skew.
    from pyspark.sql import Window as W

    w = W.partitionBy("l_orderkey")
    li2 = li.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_supp",
        F.size(
            F.collect_set(
                F.when(F.col("late") == 1, F.col("l_suppkey"))
            ).over(w)
        ),
    )
    return (
        li2.filter(
            (F.col("late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
