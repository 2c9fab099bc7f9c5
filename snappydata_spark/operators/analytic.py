"""Window / grouping / set-op / scalar-function operator coverage.

The reference inherits all of these from Spark SQL (SURVEY.md §2.5-§2.7,
§2.10: windows via WindowSpec grammar SnappyParser.scala:792-823, GROUPING
SETS/CUBE/ROLLUP :559-606, set-ops :1111-1121, PIVOT :1152-1165, LATERAL
VIEW explode :1137-1151, and the whole Spark function registry re-registered
at SnappySessionCatalog.scala:1280-1286).  Each registered query exercises
one family end-to-end against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from snappydata_spark.functions import text as T
from snappydata_spark.operators.registry import register
from snappydata_spark.tables import load_tables


# ------------------------------------------------------------- windows

@register(
    "win_topk_per_group",
    oracle="""
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rn
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
""",
)
def win_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-k per group — the window-based top-k the reference
    gets from Spark's WindowExec.  One shuffle on the partition key."""
    t = load_tables(spark, sf_dir, ("orders",))
    # SQL-string build (3 JVM calls instead of ~25): the Column-API
    # window spec costs one Py4J round-trip per node, which dominated
    # this anchor's engine-vs-vanilla residual (see tpch._REV_SQL note)
    return (
        t["orders"]
        .selectExpr(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            "ROW_NUMBER() OVER (PARTITION BY o_orderpriority"
            " ORDER BY o_totalprice DESC, o_orderkey) AS rn",
        )
        .filter("rn <= 3")
        .selectExpr(
            "o_orderpriority",
            "o_orderkey",
            "ROUND(o_totalprice, 2) AS o_totalprice",
            "rn",
        )
    )


@register(
    "win_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
""",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    — frameBound grammar SnappyParser.scala:813-823)."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "win_rank_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       RANK()       OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       LAG(o_orderkey)  OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       NTILE(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic functions over a named window (queryOrganization
    named windows, SnappyParser.scala:738-774)."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "win_range_frame",
    oracle="""
SELECT s_suppkey,
       ROUND(s_acctbal, 2) AS s_acctbal,
       COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                      RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)
           AS peers_within_500
FROM supplier
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on a numeric ordering (RANGE BETWEEN n PRECEDING ...).

    Partitioned by nation so the window sort is per-partition — an
    unpartitioned RANGE frame forces all rows into one WindowExec
    partition, which cannot scale."""
    t = load_tables(spark, sf_dir, ("supplier",))
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal").rangeBetween(-500, 0)
    return t["supplier"].select(
        "s_suppkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
        F.count(F.lit(1)).over(w).alias("peers_within_500"),
    )


# ------------------------------------------------------------- grouping

@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers (cubeRollUpGroupingSet grammar
    SnappyParser.scala:559-606; CubeRollupGroupingSetsTest).

    CUBE Expands every input row ×4 (one copy per grouping set) before
    the partial aggregate, and SUM and COUNT are decomposable, so the
    scan is pre-aggregated per (flag, status, scan partition) in BIGINT
    0.01-quantity units (the bigint-cents block in tpch.py) and the
    CUBE runs over that ~|6 × tasks| cell frame.  GROUPING() markers
    come from the outer CUBE over the same two columns, so grouping ids
    and the NULL-value vs ALL-cell distinction are the oracle's."""
    from snappydata_spark.operators.tpch import QTY_C, _cents_out

    t = load_tables(spark, sf_dir, ("lineitem",))
    inner = (
        t["lineitem"]
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("l_returnflag", "l_linestatus", "__pid")
        .agg(F.expr(f"SUM({QTY_C}) AS qty_u"), F.expr("COUNT(1) AS cnt_p"))
    )
    return (
        inner.cube("l_returnflag", "l_linestatus")
        .agg(
            F.expr("GROUPING(l_returnflag) AS g_flag"),
            F.expr("GROUPING(l_linestatus) AS g_status"),
            _cents_out("qty_u", 100, "sum_qty"),
            F.expr("SUM(cnt_p) AS cnt"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "sum_qty", "cnt",
        )
    )


@register(
    "agg_rollup",
    oracle="""
SELECT YEAR(o_orderdate) AS o_year, o_orderstatus,
       COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_year, o_orderstatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money SUM accumulates in exact decimal (lossless for 2-decimal
    values stored as double, associative → partition-order-independent):
    the sf10 differential caught the grand-total rollup row a cent off
    the oracle when summed in double over 1.5M+ rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .rollup(F.year("o_orderdate").alias("o_year"), F.col("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(
                "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)"
                " AS DOUBLE) AS total"
            ),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry (same plan as the grammar
    path in the reference).  Money SUM accumulates in exact decimal (see
    agg_rollup — the () grand-total row sums the whole scaling table)."""
    t = load_tables(spark, sf_dir, ("customer",))
    t["customer"].createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       ROUND(SUM(DISTINCT l_quantity), 2) AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate (planAggregateWithOneDistinct
    SnappyStrategies.scala:606-760 → Spark RewriteDistinctAggregates)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        )
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


# ------------------------------------------------------------- pivot

@register(
    "pivot_status_counts",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (grammar SnappyParser.scala:1152-1165 → df.groupBy().pivot())."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # absent pivot cells arrive as NULL
        # OUTSIDE the agg and are handled by na.fill below
        .na.fill(0, ["F", "O", "P"])
    )


# ------------------------------------------------------------- set ops

@register(
    "setop_union_intersect_except",
    oracle="""
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
 INTERSECT
 SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F')
UNION
(SELECT c_custkey FROM customer WHERE c_acctbal > 9000
 EXCEPT
 SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""",
)
def setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT (query rule SnappyParser.scala:1111-1121)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    machinery = (
        t["customer"].filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    )
    finished = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    rich = t["customer"].filter(F.col("c_acctbal") > 9000).select("c_custkey")
    building = (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    # subtract() IS EXCEPT DISTINCT (the oracle's EXCEPT verbatim) —
    # exceptAll().distinct() planned an ExceptAll plus an extra Aggregate
    return machinery.intersect(finished).union(rich.subtract(building)).distinct()


# ------------------------------------------------------------- lateral view / explode

@register(
    "explode_tokens",
    oracle=f"""
SELECT token, COUNT(*) AS cnt
FROM (SELECT UNNEST({T.TOKENS_SQL}) AS token
      FROM documents)
GROUP BY token
""",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode (SnappyParser.scala:1137-1151) — token counts
    over documents.  At scale this is the map-side-heavy wordcount shape:
    explode happens before the single shuffle on token."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ------------------------------------------------------------- scalar functions

@register(
    "scalar_string_funcs",
    oracle="""
SELECT c_custkey,
       UPPER(c_name) AS uname,
       SUBSTR(c_name, 10, 9) AS id_part,
       LENGTH(c_name) AS name_len,
       CONCAT(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
       REPLACE(c_name, 'Customer#', 'C-') AS short_name
FROM customer
WHERE c_name LIKE 'Customer#%'
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (inherited Spark registry,
    SnappySessionCatalog.scala:1280-1286)."""
    t = load_tables(spark, sf_dir, ("customer",))
    return (
        t["customer"]
        .filter(F.col("c_name").like("Customer#%"))
        .select(
            "c_custkey",
            F.upper("c_name").alias("uname"),
            F.substring("c_name", 10, 9).alias("id_part"),
            F.length("c_name").alias("name_len"),
            F.concat(
                F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string")
            ).alias("seg_nation"),
            F.regexp_replace("c_name", "Customer#", "C-").alias("short_name"),
        )
    )


@register(
    "scalar_date_funcs",
    oracle="""
SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m, QUARTER(o_orderdate) AS q,
       COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY y, m, q
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.quarter("o_orderdate").alias("q"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "scalar_case_bucketing",
    oracle="""
SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
            WHEN o_totalprice < 10000 THEN 'medium'
            WHEN o_totalprice < 50000 THEN 'large'
            ELSE 'jumbo' END AS bucket,
       COUNT(*) AS cnt,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY bucket
""",
)
def scalar_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    bucket = (
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 10000, "medium")
        .when(F.col("o_totalprice") < 50000, "large")
        .otherwise("jumbo")
    )
    return (
        t["orders"]
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@register(
    "scalar_json_funcs",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
       COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY k_mod
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props payload column (complex types
    exposed as JSON — complexTypeAsJson hint, Literals.scala:423)."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"),
            "value",
        )
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(
                "CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)"
                " AS DOUBLE) AS total_value"
            ),
        )
    )


# ------------------------------------------------------------- sampling

@register(
    "sample_tablesample",
    oracle="""
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE ('0x' || substr(md5('ts~' || l_orderkey || '~' || l_linenumber),
                      1, 8))::BIGINT % 10 = 0
""",
)
def sample_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE (SnappyParser.scala:608-630), BUCKET 1 OUT OF 10 form:
    a 10% sample drawn by a deterministic md5 hash of the row key — the
    Hive/Spark bucket-sampling semantics, which (unlike the RNG Bernoulli
    `x PERCENT` form) is reproducible across engines, task retries, and
    reruns, so r6 upgrades this row from rows-only to hash-exact.  The
    seeded-Bernoulli form stays available via standard
    `.sample(fraction, seed)` / `TABLESAMPLE (10 PERCENT)`.

    Scale: the hash predicate evaluates map-side on the scan beside the
    pushed filters — no shuffle, no sort, resumable sampling."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("ts~"),
                    F.col("l_orderkey").cast("string"),
                    F.lit("~"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        t["lineitem"].filter(h % 10 == 0).select("l_orderkey", "l_linenumber")
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderpriority
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont).  At 100 TB you'd switch to percentile_approx
    (t-digest, mergeable partials) — exact percentile sorts per group."""
    t = load_tables(spark, sf_dir, ("orders",))
    return t["orders"].groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )
