"""TPC-H-style analytic queries, adapted to the driver's reduced schema.

Mirrors the reference's TPC-H harness (TPCH_Queries.scala:125-2520,
getQuery1..22) with the columns actually present in the driver testdata
(TESTDATA.md): no partsupp table; lineitem/orders/part carry a column
subset — predicates are adapted accordingly, semantics per-operator kept.

Spark-first notes (scale stance, BASELINE.md):
- small dims (region/nation/supplier ≤ a few MB even at 100 TB scale
  factors; customer/part grow but stay << fact tables) are broadcast at
  join sites, mirroring the reference's REPLICATE layout
  (TPCHColumnPartitionedTable.scala — NATION/REGION/SUPPLIER replicated).
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key — the same
  key the reference buckets/colocates on (LINEITEM colocate_with ORDERS),
  so a bucketed managed-table layout elides the exchange (see
  plans/explainer.exchange_count assertions in tests).
- every filter is expressed on base columns before joins so Catalyst
  pushes it into the parquet scan (PushedFilters), and aggregates use
  built-in functions only (whole-stage codegen, no Python in hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from snappydata_spark.operators.registry import register
from snappydata_spark.tables import load_tables


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _rev_exact():
    """Revenue term accumulated in EXACT decimal arithmetic.  The money
    columns are 2-decimal values stored as doubles, so the casts are
    lossless; decimal addition is associative, which makes the SUM
    independent of partition/merge order.  Double sums drift in the last
    cent at sf>=1 (6M+ rows per group): the sf1 differential caught q07
    and q09 off the DuckDB oracle by 0.01 — not wrongness, but
    accumulation-order noise that exact decimal removes at every scale.
    The matching oracle casts the same way; the final value converts
    back to DOUBLE so the output schema is unchanged."""
    return _dec2("l_extendedprice") * _one_minus_disc()


def _dec2(col: str, p: int = 12):
    """Lossless decimal view of a 2-decimal money column stored as
    double (quantities/prices/balances in the driver's tables are all
    exact 2-decimal values)."""
    return F.col(col).cast(f"decimal({p},2)")


def _one_minus_disc():
    # (1 - x) computes in double first — the identical IEEE op on both
    # engines — then the cast pins it to the exact 2-decimal value
    return (1 - F.col("l_discount")).cast("decimal(4,2)")


def _sum_money(expr, alias: str):
    """SUM a money term exactly, round while STILL decimal (a half-cent
    tie must tie-break in decimal arithmetic on both engines — rounding
    after a double cast flips .865 to .86 vs .87), then return to DOUBLE
    so the output schema is unchanged."""
    return F.round(F.sum(expr), 2).cast("double").alias(alias)


# SQL-string twins of the decimal helpers, for the hottest (anchor-
# benchmarked) queries.  Building an expression tree through the Column
# API costs one Py4J round-trip per node — profiled at ~310 round-trips
# ≈ 60-100 ms per q06 BUILD, the dominant term of the engine-vs-vanilla
# anchor gap on sub-second queries.  F.expr parses the whole expression
# in ONE JVM call; the parsed tree (and thus the physical plan and the
# value hash) is identical to the Column-API form.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - l_discount AS DECIMAL(4,2))"
)


def _sum_money_sql(term: str, alias: str):
    """One-JVM-call equivalent of ``_sum_money`` (same decimal rounding
    discipline — see there)."""
    return F.expr(f"CAST(ROUND(SUM({term}), 2) AS DOUBLE) AS {alias}")


# ------------------------------------------------------- bigint-cents sums
#
# Money sums (q01, q18, q11, analytic.agg_cube) accumulate in BIGINT,
# not in wide decimal SUM buffers (precision > 18 means one JavaBigDecimal
# add per row, the dominant per-row cost of the scan-agg queries).  Each
# money term is an exact integer in cents / 1e-4 / 1e-6 dollar units, so
# the per-row accumulation is one machine add and the exact decimal
# conversion is deferred to a tiny outer aggregate:
#
#   inner: per (group keys, scan-partition-id) BIGINT sums.  The
#     partition id (materialized via withColumn — Catalyst rejects the
#     nondeterministic expression as a group key) bounds each inner
#     group to ONE task's rows, so the int64 partials cannot overflow at
#     ANY corpus size: task rows are input-split-bounded (~1e6 rows per
#     128 MB split, ~1e7 at 1 GB splits) and the largest per-row term
#     (charge in 1e-6 units) is < 1.3e11, keeping every partial under
#     1.3e18 < 2^63.  The exchange carries one cell per (group, task),
#     the rows a partial aggregate ships anyway, so shuffle volume does
#     not grow with scale (a modulo salt would multiply partial rows).
#   outer: SUM(CAST(partial AS DECIMAL(38,0))) — an exact decimal sum
#     over (groups × tasks) cells — then /100 (or 1e4/1e6) in decimal
#     (result scale ≥ 6, quotient needs ≤ 6 dp ⇒ exact), then the
#     ROUND(x, 2) HALF_UP and CAST DOUBLE of the oracle's expression.
#
# Single level suffices where the data model bounds a group's row count:
# q18 groups by orderkey (≤ 7 lineitems per order at any scale factor)
# and q11 by (suppkey, partkey) (~7.5 lineitems per pair at every scale
# factor; overflow would take ~8.4e9 rows in one group).
#
# Equivalence: integer arithmetic is exact, the decimal division is
# exact (above), and the rounding/conversion expressions are the
# oracle's — the output double is bit-identical to a direct decimal SUM
# (tests/test_money_sums.py checks each query against its DuckDB
# oracle).  AVG columns ride the same two-level shape as (SUM(x),
# COUNT(x)) partials; only the merge ORDER of partials can differ, the
# shuffle-fetch nondeterminism any Spark avg has, absorbed by
# ROUND(avg, 4).
QTY_C = "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"
PRICE_C = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
DISC_H = "CAST(CAST(1 - l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"
TAX_H = "CAST(CAST(1 + l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)"


def _cents_out(partial: str, unit: int, alias: str):
    """Exact decimal total from BIGINT integer-unit partials: decimal
    sum → exact /unit division → identical ROUND/CAST tail."""
    return F.expr(
        f"CAST(ROUND(SUM(CAST({partial} AS DECIMAL(38,0))) / {unit}, 2) "
        f"AS DOUBLE) AS {alias}"
    )


# --------------------------------------------------------------------- Q1

@register(
    "tpch_q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE)      AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
       ROUND(AVG(l_discount), 4)                                        AS avg_disc,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 scan-aggregate (reference getQuery1 TPCH_Queries.scala:125).

    Money sums accumulate as BIGINT integer-unit partials per (keys,
    scan partition) with an exact decimal outer sum (the bigint-cents
    block above).  Both aggregations are partial-aggregated map-side,
    so at 100 TB the first exchange carries ~6 cells per input
    partition and the second only the groups."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    base = t["lineitem"].filter("l_shipdate <= TIMESTAMP '1998-09-02'")
    inner = (
        base.withColumn("__pid", F.spark_partition_id())
        .groupBy("l_returnflag", "l_linestatus", "__pid")
        .agg(
            F.expr(f"SUM({QTY_C}) AS qty_c"),
            F.expr(f"SUM({PRICE_C}) AS price_c"),
            F.expr(f"SUM({PRICE_C} * {DISC_H}) AS rev_u"),
            F.expr(f"SUM({PRICE_C} * {DISC_H} * {TAX_H}) AS charge_u"),
            F.expr("SUM(l_quantity) AS qty_s"),
            F.expr("COUNT(l_quantity) AS qty_n"),
            F.expr("SUM(l_extendedprice) AS price_s"),
            F.expr("COUNT(l_extendedprice) AS price_n"),
            F.expr("SUM(l_discount) AS disc_s"),
            F.expr("COUNT(l_discount) AS disc_n"),
            F.expr("COUNT(1) AS n"),
        )
    )
    return (
        inner.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _cents_out("qty_c", 100, "sum_qty"),
            _cents_out("price_c", 100, "sum_base_price"),
            _cents_out("rev_u", 10000, "sum_disc_price"),
            _cents_out("charge_u", 1000000, "sum_charge"),
            F.expr("ROUND(SUM(qty_s) / CAST(SUM(qty_n) AS DOUBLE), 4) AS avg_qty"),
            F.expr("ROUND(SUM(price_s) / CAST(SUM(price_n) AS DOUBLE), 4) AS avg_price"),
            F.expr("ROUND(SUM(disc_s) / CAST(SUM(disc_n) AS DOUBLE), 4) AS avg_disc"),
            F.expr("SUM(n) AS count_order"),
        )
    )


# --------------------------------------------------------------------- Q2 (adapted)

@register(
    "tpch_q02_max_acctbal_supplier",
    oracle="""
SELECT s.s_name, n.n_name, ROUND(s.s_acctbal, 2) AS s_acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                     WHERE s2.s_nationkey = s.s_nationkey)
""",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated-scalar-subquery shape (min-cost supplier,
    TPCH_Queries.scala getQuery2) without partsupp: supplier with max
    acctbal per nation.  Expressed as a window max over the broadcast-side
    dim — no self-join, no extra shuffle."""
    t = load_tables(spark, sf_dir, ("supplier", "nation"))
    w = W.partitionBy("s_nationkey")
    best = (
        t["supplier"]
        .withColumn("max_bal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("max_bal"))
    )
    return (
        best.join(F.broadcast(t["nation"]), best.s_nationkey == F.col("n_nationkey"))
        .select("s_name", "n_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


# --------------------------------------------------------------------- Q3

@register(
    "tpch_q03_shipping_priority",
    oracle="""
SELECT l.l_orderkey, CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 join-agg-topk (getQuery3).  customer is broadcast (dim);
    lineitem ⋈ orders shuffles on orderkey (bucket-colocatable); the
    top-10 runs as TakeOrderedAndProject — no global sort at scale."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cust = t["customer"].filter("c_mktsegment = 'BUILDING'")
    orders = t["orders"].filter("o_orderdate < TIMESTAMP '1998-07-01'")
    line = t["lineitem"].filter("l_shipdate > TIMESTAMP '1998-07-01'")
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_sum_money_sql(_REV_SQL, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------- Q4

@register(
    "tpch_q04_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 EXISTS → left-semi join (getQuery4; commit/receipt dates
    absent in testdata, adapted to l_returnflag='R')."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------- Q5

@register(
    "tpch_q05_local_supplier",
    oracle="""
SELECT n.n_name, CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (getQuery5): 6-way join; all dims broadcast, the only
    shuffles are lineitem ⋈ orders on orderkey and the final group-by."""
    t = load_tables(
        spark, sf_dir, ("region", "nation", "customer", "supplier", "orders", "lineitem")
    )
    orders = t["orders"].filter(
        "o_orderdate >= TIMESTAMP '1996-01-01'"
        " AND o_orderdate < TIMESTAMP '1997-01-01'"
    )
    region = t["region"].filter("r_name = 'ASIA'")
    nation = t["nation"].join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = t["supplier"].join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(_sum_money_sql(_REV_SQL, "revenue"))
    )


# --------------------------------------------------------------------- Q6

@register(
    "tpch_q06_forecast_revenue",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 selective filter-agg (getQuery6): every predicate reaches
    the parquet scan as a pushed filter; zero shuffles (single global agg
    row via partial+final)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .filter(
            "l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1997-01-01'"
            " AND l_discount >= 0.05 AND l_discount <= 0.07"
            " AND l_quantity < 24"
        )
        .agg(
            _sum_money_sql(
                "CAST(l_extendedprice AS DECIMAL(12,2))"
                " * CAST(l_discount AS DECIMAL(4,2))",
                "revenue",
            ),
            F.expr("COUNT(1) AS n_lines"),
        )
    )


# --------------------------------------------------------------------- Q7

@register(
    "tpch_q07_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       YEAR(l.l_shipdate) AS l_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (getQuery7): nation-pair trade volume by year; the two
    nation joins use distinct broadcast copies (self-join of a dim)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "orders", "customer", "nation"))
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            # round while still decimal: a sum ending in a half-cent
            # (.xx5) must tie-break in decimal on BOTH engines — rounding
            # after the double cast flips .865 -> .86 vs .87 (sf1 catch)
            F.round(F.sum(_rev_exact()), 2).cast("double").alias("revenue")
        )
    )


# --------------------------------------------------------------------- Q8

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


# --------------------------------------------------------------------- Q9

@register(
    "tpch_q09_product_profit",
    oracle="""
SELECT n.n_name AS nation, YEAR(l.l_shipdate) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_type = 'PROMO'
GROUP BY nation, o_year
""",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 profit by nation/year (getQuery9, adapted: no partsupp
    cost term).  part filter pushes down before the join."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "nation"))
    promo = t["part"].filter("p_type = 'PROMO'")
    return (
        t["lineitem"]
        .join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.expr("n_name AS nation"), F.expr("YEAR(l_shipdate) AS o_year")
        )
        .agg(_sum_money_sql(_REV_SQL, "profit"))
    )


# --------------------------------------------------------------------- Q10

@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 top returned-revenue customers (getQuery10)."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_money(_rev_exact(), "revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------- Q11

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
    t = load_tables(spark, sf_dir, ("lineitem",))
    # revenue accumulates as single-level BIGINT 1e-4 dollar units; the
    # /1e4 decimal division is exact (see the bigint-cents block
    # above).  One lineitem scan serves both sides: the threshold needs
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


# --------------------------------------------------------------------- Q12

@register(
    "tpch_q12_priority_lines",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
           AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
           AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus
""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 conditional-count shape (getQuery12; shipmode column
    absent, grouped by linestatus)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    line = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        line.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------- Q13

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


# --------------------------------------------------------------------- Q14

@register(
    "tpch_q14_promo_revenue",
    oracle="""
SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo share (getQuery14)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    line = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1997-09-01"))
        & (F.col("l_shipdate") < _ts("1997-10-01"))
    )
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        line.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(_rev()), 4).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------- Q15

@register(
    "tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier via scalar subquery over a derived view
    (getQuery15).  Max comparison happens on the *rounded* revenue on both
    sides so FP noise can't flip the winner."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_sum_money(_rev_exact(), "total_revenue"))
    )
    # materialize the derived view once: the scalar-max subquery and the
    # final join otherwise re-run the lineitem scan-agg three times (the
    # reference caches the revenue view the same way — Q15's CREATE VIEW).
    # Per-supplier aggregates stay tiny at any scale factor.
    revenue = revenue.persist()
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------- Q16

@register(
    "tpch_q16_part_supplier_count",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#9'
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 distinct-count by part attrs (getQuery16; lineitem stands
    in for partsupp).  Spark plans the two-phase distinct rewrite
    (RewriteDistinctAggregates) automatically."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    part = t["part"].filter(F.col("p_brand") != "Brand#9")
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------- Q17

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


# --------------------------------------------------------------------- Q18

@register(
    "tpch_q18_large_orders",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(o.o_totalprice, 2) AS o_totalprice,
       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume orders: group-having semi-join (getQuery18).

    r12 shape (guide §2.3/§2.4): every reported group key is
    functionally dependent on o_orderkey (orders' PK), so ONE
    per-orderkey aggregation over lineitem computes both the HAVING sum
    (double, as the oracle's) and the reported decimal sum_qty — the
    former plan scanned lineitem twice, re-joined it against its own
    aggregate, and re-grouped on the full 5-column key (4 exchanges);
    this one aggregates lineitem once and attaches orders + customer
    (1 lineitem exchange; the filtered aggregate is selective, so AQE
    broadcasts it against orders at bench scale and a key-partitioned
    join serves 100 TB)."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    # sum_qty accumulates as BIGINT cents, single-level (see the
    # bigint-cents block)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.expr("SUM(l_quantity) AS q"),
            F.expr(
                f"CAST(ROUND(CAST(SUM({QTY_C}) AS DECIMAL(38,0)) / 100, 2) "
                "AS DOUBLE) AS sum_qty"
            ),
        )
        .filter("q > 300")
        .select("l_orderkey", "sum_qty")
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .selectExpr(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "ROUND(o_totalprice, 2) AS o_totalprice",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------- Q19

@register(
    "tpch_q19_disjunctive_filter",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunction-of-conjunctions (getQuery19)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    j = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey")
    )
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#2") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#3") & size.between(20, 50) & qty.between(20, 40))
    )
    return j.filter(cond).agg(
        _sum_money(_rev_exact(), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------- Q20

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


# --------------------------------------------------------------------- Q21

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


# --------------------------------------------------------------------- Q22

@register(
    "tpch_q22_idle_customers",
    oracle="""
SELECT c.c_nationkey, COUNT(*) AS numcust, CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (getQuery22): uncorrelated scalar subquery + anti-join
    (adapted: "no recent orders" — every customer has *some* order in the
    testdata, so the classic no-orders-at-all predicate selects nothing)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = t["customer"].join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    recent = t["orders"].filter(F.col("o_orderdate") >= _ts("2000-01-01"))
    return (
        rich.join(recent, rich.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _sum_money(_dec2("c_acctbal"), "totacctbal"),
        )
    )
