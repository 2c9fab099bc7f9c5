"""SQL-surface coverage (SURVEY.md §2.4-§2.7, §2.10-§2.11).

Set-op ALL variants, posexplode/lateral view, math/regexp/array/
conditional function families and UDF registration; then the remaining
grammar/function families the reference parser supports
(SnappyParser.scala windowSpec/queryOrganization/intervalExpression,
subquery predicates, DISTRIBUTE BY/CLUSTER BY) plus statistical and
bitwise functions — all vanilla Catalyst expressions (JVM-side,
whole-stage-codegen'd), hash-checked against DuckDB oracles.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window as W

from snappydata_spark.functions import text as T
from snappydata_spark.operators.registry import register
from snappydata_spark.tables import load_tables, register_views


@register(
    "setop_all_variants",
    oracle="""
SELECT c_nationkey, COUNT(*) AS cnt FROM (
  (SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
   UNION ALL
   SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
  EXCEPT ALL
  SELECT c_nationkey FROM customer WHERE c_acctbal > 9500
) GROUP BY c_nationkey
""",
)
def setop_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / EXCEPT ALL (multiset semantics — each occurrence in the
    right side cancels ONE occurrence on the left)."""
    t = load_tables(spark, sf_dir, ("customer",))
    c = t["customer"]
    left = (
        c.filter(F.col("c_acctbal") > 5000)
        .select("c_nationkey")
        .unionAll(c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey"))
    )
    minus = c.filter(F.col("c_acctbal") > 9500).select("c_nationkey")
    return left.exceptAll(minus).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "lateral_posexplode",
    oracle="""
SELECT doc_id, x - 1 AS pos, t[x] AS token
FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents WHERE doc_id < 20),
     UNNEST(range(1, len(t) + 1)) AS u(x)
""",
)
def lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode (grammar SnappyParser.scala:1137-1151) —
    position-preserving token explosion."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            # T.tokens: a bare split yields [''] for blank text, which the
            # oracle's list_filter excludes
            F.posexplode(T.tokens(F.col("text"))).alias("pos", "token"),
        )
    )


@register(
    "scalar_math_funcs",
    oracle="""
SELECT l_linenumber,
       CAST(ROUND(SUM(CAST(sqrt(l_quantity) AS DECIMAL(28,16))), 4)
            AS DOUBLE) AS sum_sqrt,
       CAST(ROUND(SUM(CAST(pow(l_discount, 2) AS DECIMAL(28,16))), 6)
            AS DOUBLE) AS sum_sq,
       CAST(ROUND(SUM(CAST(abs(l_extendedprice - 1000) AS DECIMAL(12,2))), 2)
            AS DOUBLE) AS sum_absdev,
       CAST(ROUND(SUM(CAST(ln(l_quantity) AS DECIMAL(28,16))), 4)
            AS DOUBLE) AS sum_ln,
       CAST(SUM(CAST(floor(l_extendedprice / 100) AS BIGINT)) AS BIGINT) AS sum_floor,
       CAST(SUM(CAST(ceil(l_quantity / 7) AS BIGINT)) AS BIGINT) AS sum_ceil,
       CAST(SUM(CAST(l_orderkey AS BIGINT) % 97) AS BIGINT) AS sum_mod
FROM lineitem
GROUP BY l_linenumber
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family (inherited registry §2.10).

    Sums of IRRATIONAL doubles (sqrt/pow/ln) cannot be made exact, but
    can be made ORDER-INDEPENDENT: both engines compute the identical
    IEEE double per row, cast it to DECIMAL(28,16), and decimal
    addition is associative — double sums flipped the last rounded
    digit at the sf10 differential.  The two engines' double→decimal
    casts are NOT bit-identical at the 16th digit (DuckDB scales by
    10^16 in double arithmetic, which overflows 2^53 for values ≥~1,
    while Spark rounds the decimal string HALF_UP), so per-row decimals
    can differ by a few ulps at scale 16; the 4-6dp output rounding
    absorbs that drift, which is what the differential verifies.  abs(money-1000) is exact
    2-decimal, so it takes the standard DECIMAL(12,2) path."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_linenumber")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(sqrt(l_quantity) AS DECIMAL(28,16))),"
                " 4) AS DOUBLE) AS sum_sqrt"
            ),
            F.expr(
                "CAST(ROUND(SUM(CAST(pow(l_discount, 2) AS DECIMAL(28,16))),"
                " 6) AS DOUBLE) AS sum_sq"
            ),
            F.expr(
                "CAST(ROUND(SUM(CAST(abs(l_extendedprice - 1000)"
                " AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_absdev"
            ),
            F.expr(
                "CAST(ROUND(SUM(CAST(ln(l_quantity) AS DECIMAL(28,16))),"
                " 4) AS DOUBLE) AS sum_ln"
            ),
            F.sum(F.floor(F.col("l_extendedprice") / 100).cast("long")).alias(
                "sum_floor"
            ),
            F.sum(F.ceil(F.col("l_quantity") / 7).cast("long")).alias("sum_ceil"),
            F.sum(F.col("l_orderkey").cast("long") % 97).alias("sum_mod"),
        )
    )


@register(
    "scalar_regexp_funcs",
    oracle="""
SELECT c_custkey,
       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
       regexp_matches(c_name, '^Customer#0+[0-9]+$') AS well_formed,
       regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devoweled
FROM customer WHERE c_custkey < 100
""",
)
def scalar_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp family: extract / match-test / global replace."""
    t = load_tables(spark, sf_dir, ("customer",))
    return (
        t["customer"]
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"([0-9]+)", 1).cast("long").alias("name_num"),
            F.col("c_name").rlike(r"^Customer#0+[0-9]+$").alias("well_formed"),
            F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("devoweled"),
        )
    )


@register(
    "scalar_conditional_funcs",
    oracle="""
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'),
                              'UNSPECIFIED') = 'UNSPECIFIED'
                THEN 1 ELSE 0 END) AS BIGINT) AS unspecified_cnt,
       CAST(ROUND(SUM(CAST(greatest(o_totalprice, 10000.0) AS DECIMAL(12,2))), 2)
            AS DOUBLE) AS sum_floor_10k,
       CAST(ROUND(SUM(CAST(least(o_totalprice, 50000.0) AS DECIMAL(12,2))), 2)
            AS DOUBLE) AS sum_cap_50k
FROM orders GROUP BY o_orderstatus
""",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE / NULLIF / GREATEST / LEAST."""
    t = load_tables(spark, sf_dir, ("orders",))
    unspec = F.coalesce(
        F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
        F.lit("UNSPECIFIED"),
    )
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(unspec == "UNSPECIFIED", 1).otherwise(0)).alias(
                "unspecified_cnt"
            ),
            # decimal accumulation: greatest/least of 2-decimal money is
            # still exact 2-decimal; status groups absorb the whole
            # scaling table (double sums drift a cent — sf10 catch class)
            F.expr(
                "CAST(ROUND(SUM(CAST(greatest(o_totalprice, 10000.0)"
                " AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_floor_10k"
            ),
            F.expr(
                "CAST(ROUND(SUM(CAST(least(o_totalprice, 50000.0)"
                " AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_cap_50k"
            ),
        )
    )


@register(
    "array_funcs_embeddings",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(embedding[1]::DOUBLE, 4) AS first_val,
       ROUND(list_aggregate([v::DOUBLE for v in embedding[1:8]], 'sum'), 4)
           AS head_sum,
       ROUND(list_max([v::DOUBLE for v in embedding]), 4) AS max_val,
       ROUND(list_min([v::DOUBLE for v in embedding]), 4) AS min_val
FROM embeddings WHERE vec_id < 50
""",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over the embedding column: size / index /
    slice-fold / max / min (§1.2 nested types)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        t["embeddings"]
        .filter(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.element_at(dbl, 1), 4).alias("first_val"),
            F.round(
                F.aggregate(
                    F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x
                ),
                4,
            ).alias("head_sum"),
            F.round(F.array_max(dbl), 4).alias("max_val"),
            F.round(F.array_min(dbl), 4).alias("min_val"),
        )
    )


@register(
    "udf_python_registered",
    oracle="""
SELECT o_orderstatus,
       CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 0.07, 2) AS DECIMAL(12,2))), 2)
            AS DOUBLE) AS total_tax
FROM orders GROUP BY o_orderstatus
""",
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION surface (SnappyDDLParser.createFunction:765-795) →
    spark.udf.register.  Deliberately a slow-path row UDF: the point is
    the registration contract; the pandas variant below is the fast path."""

    def tax(p: float) -> float:
        # half-away-from-zero to match SQL ROUND (Python's round() is
        # half-even and drifts from the oracle on .xx5 boundaries —
        # surfaced at sf0.1, invisible at sf0.01)
        import math

        return math.floor(p * 0.07 * 100 + 0.5) / 100 if p is not None else None

    spark.udf.register("py_tax", tax, DoubleType())
    t = load_tables(spark, sf_dir, ("orders",))
    t["orders"].createOrReplaceTempView("orders_udf_v")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(ROUND(SUM(CAST(py_tax(o_totalprice) AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_tax
        FROM orders_udf_v GROUP BY o_orderstatus
        """
    )


@register(
    "udf_pandas_vectorized",
    oracle="""
SELECT o_orderstatus,
       CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 0.07, 2) AS DECIMAL(12,2))), 2)
            AS DOUBLE) AS total_tax
FROM orders GROUP BY o_orderstatus
""",
)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas_udf — the 10-100× faster path for
    unavoidable Python (SURVEY.md scale stance)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def pd_tax(p: pd.Series) -> pd.Series:
        import numpy as np

        # half-away-from-zero to match SQL ROUND (pandas .round is
        # half-even and would drift from the oracle on .xx5 boundaries)
        return np.floor(p * 0.07 * 100 + 0.5) / 100

    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum(pd_tax(F.col("o_totalprice")).cast("decimal(12,2)")), 2
            )
            .cast("double")
            .alias("total_tax")
        )
    )


@register(
    "udtf_lateral_split",
    oracle="""
SELECT doc_id,
       COUNT(*) AS n_words,
       COUNT(DISTINCT word) AS n_distinct,
       MAX(LENGTH(word)) AS max_len
FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 40
)
WHERE word <> ''
GROUP BY doc_id
""",
)
def udtf_lateral_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (the reference's table-valued-function +
    LATERAL VIEW grammar, SnappyParser.scala:657-675,1137-1151): a
    registered table function called per input row via SQL LATERAL,
    fanning one document into one row per word.  The UDTF streams rows
    out per partition (Arrow-batched) — no driver fan-out; the word
    rows are aggregated back per doc so the result is hash-stable."""
    from ..session import SnappySession

    def split_words(text):
        if text is None:
            return
        for pos, w in enumerate(text.split(" ")):
            if w:
                yield w, pos

    SnappySession.register_table_function(
        spark, "split_words_tf", split_words, "word string, pos int"
    )
    t = load_tables(spark, sf_dir, ("documents",))
    t["documents"].filter(F.col("doc_id") < 40).createOrReplaceTempView(
        "docs_udtf_v"
    )
    return spark.sql(
        """
        SELECT d.doc_id,
               COUNT(*) AS n_words,
               COUNT(DISTINCT w.word) AS n_distinct,
               MAX(LENGTH(w.word)) AS max_len
        FROM docs_udtf_v d, LATERAL split_words_tf(d.text) w
        GROUP BY d.doc_id
        """
    )


@register(
    "join_types_matrix",
    oracle="""
WITH big AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey <= 60),
     dim AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10)
SELECT 'full' AS join_kind, COUNT(*) AS n,
       COUNT(c_custkey) AS left_rows, COUNT(n_name) AS right_rows
FROM big FULL OUTER JOIN dim ON c_nationkey = n_nationkey
UNION ALL
SELECT 'anti', COUNT(*), COUNT(c_custkey), 0
FROM big ANTI JOIN dim ON c_nationkey = n_nationkey
UNION ALL
SELECT 'cross', COUNT(*), COUNT(c_custkey), COUNT(n_name)
FROM big CROSS JOIN dim
""",
)
def join_types_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-type coverage beyond the TPC-H set (parser joinType rule
    SnappyParser.scala:701-713): FULL OUTER (null-extended both sides),
    LEFT ANTI, CROSS — counted so the matrix is one hashable row each."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    big = t["customer"].filter(F.col("c_custkey") <= 60).select(
        "c_custkey", "c_nationkey"
    )
    dim = t["nation"].filter(F.col("n_nationkey") < 10).select(
        "n_nationkey", "n_name"
    )
    on = F.col("c_nationkey") == F.col("n_nationkey")

    def counted(kind, df, with_right=True):
        right = (
            F.count("n_name") if with_right else F.lit(0).cast("long")
        )
        return df.agg(
            F.lit(kind).alias("join_kind"),
            F.count(F.lit(1)).alias("n"),
            F.count("c_custkey").alias("left_rows"),
            right.alias("right_rows"),
        )

    full = counted("full", big.join(dim, on, "full_outer"))
    anti = counted("anti", big.join(dim, on, "left_anti"), with_right=False)
    cross = counted("cross", big.crossJoin(dim))
    return full.unionAll(anti).unionAll(cross)


@register(
    "unpivot_stack",
    oracle="""
SELECT o_orderpriority, metric, ROUND(val, 2) AS val FROM (
  SELECT o_orderpriority,
         ROUND(AVG(o_totalprice), 2) AS avg_price,
         ROUND(MAX(o_totalprice), 2) AS max_price,
         ROUND(MIN(o_totalprice), 2) AS min_price
  FROM orders GROUP BY o_orderpriority)
UNPIVOT (val FOR metric IN (avg_price, max_price, min_price))
""",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long; the inverse of the PIVOT grammar
    SnappyParser.scala:1152-1165) via DataFrame.unpivot."""
    t = load_tables(spark, sf_dir, ("orders",))
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
    )
    return wide.unpivot(
        "o_orderpriority",
        ["avg_price", "max_price", "min_price"],
        "metric",
        "val",
    ).select("o_orderpriority", "metric", F.round("val", 2).alias("val"))


@register(
    "sql_correlated_scalar_subquery",
    oracle="""
SELECT c_custkey, c_acctbal,
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE c_acctbal > 9000
""",
)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery straight through the SQL entry point —
    Catalyst decorrelates it to a left-outer aggregate join
    (RewriteCorrelatedScalarSubquery, inherited by the reference and us)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    t["customer"].createOrReplaceTempView("sq_customer")
    t["orders"].createOrReplaceTempView("sq_orders")
    return spark.sql(
        """SELECT c_custkey, c_acctbal,
                  (SELECT COUNT(*) FROM sq_orders o
                   WHERE o.o_custkey = c.c_custkey) AS n_orders
           FROM sq_customer c
           WHERE c_acctbal > 9000"""
    )


@register(
    "udaf_grouped_median",
    oracle="""
SELECT o_orderstatus,
       ROUND(MEDIAN(o_totalprice), 2) AS med_price,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""",
)
def udaf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom AGGREGATE function (the reference's UDAF jars,
    SnappyUDFTest.scala UDAF cases) as a grouped-agg pandas UDF — the
    SnappySession.create_function(aggregate=True) path.  Runs as a real
    hash aggregate over Arrow batches: only group keys + group values
    shuffle.  Two UDAFs compose in one GROUP BY (Spark disallows mixing
    grouped-agg pandas UDFs with built-in aggregates, so the row count is
    itself a UDAF).  Median interpolation (mean of the two middle values
    on even counts) matches DuckDB's MEDIAN on DOUBLE exactly."""
    from snappydata_spark.session import SnappySession

    def median_of(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(v))

    SnappySession.register_aggregate(spark, "sg_median", median_of, "double")
    SnappySession.register_aggregate(spark, "sg_count", len, "long")
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("sg_median(o_totalprice)"), 2).alias("med_price"),
            F.expr("sg_count(o_totalprice)").alias("n"),
        )
    )


# ------------------------------------------------------ window functions

@register(
    "win_distribution_funcs",
    oracle="""
SELECT s_suppkey,
       NTILE(4)       OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey) AS quartile,
       ROUND(PERCENT_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 6) AS pct_rank,
       ROUND(CUME_DIST()    OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 6) AS cume,
       NTH_VALUE(s_suppkey, 2) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_poorest
FROM supplier
""",
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/ranking window functions (ntile, percent_rank,
    cume_dist, nth_value) — reference inherits these from Spark's
    FunctionRegistry (SnappySessionCatalog.scala:1280-1286).  Ordering key
    includes s_suppkey so tie order (and thus ntile/nth_value) is
    deterministic across engines."""
    t = load_tables(spark, sf_dir, ("supplier",))
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    wall = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t["supplier"].select(
        "s_suppkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("s_suppkey", 2).over(wall).alias("second_poorest"),
    )


@register(
    "win_named_window",
    oracle="""
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER w, 2) AS running_spend,
       ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause (queryOrganization grammar
    SnappyParser.scala:738-774) — SQL entry path so the WINDOW binding
    itself is exercised."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(SUM(o_totalprice) OVER w, 2) AS running_spend,
               ROW_NUMBER() OVER w AS order_seq
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )


# --------------------------------------------------- subquery predicates

@register(
    "sql_exists_subquery",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                    AND o2.o_totalprice > 300000)
GROUP BY c_mktsegment
""",
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS → semi/anti joins (Catalyst
    RewritePredicateSubquery; reference inherits Spark's subquery
    handling, SnappyStrategies.scala:858-870 only tokenizes results)."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice > 300000)
        GROUP BY c_mktsegment
        """
    )


@register(
    "sql_in_subquery",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subquery predicates (parser `inExpression`; planned as
    LeftSemi/LeftAnti with null-aware anti join where needed).

    SCALE NOTE: Spark can only execute a null-aware anti join (NOT IN
    over a nullable key) as a BROADCAST — the filtered subquery side
    ships whole to every task, unbounded in subquery size (~15M keys at
    sf10 here).  That is the price of NOT IN's three-valued NULL
    semantics; when keys are known non-null, write NOT EXISTS instead —
    sql_not_in_scalable is this query's shuffle-anti twin (SortMergeJoin
    LeftAnti, 2.7x faster at sf10, no driver-side collect) with the
    identical result on null-free keys.  tools/audit_plans.py flags the
    null-aware broadcast shape; this query is allowlisted as the
    surface-coverage exemplar."""
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
          AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        GROUP BY o_orderpriority
        """
    )


@register(
    "sql_not_in_scalable",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def sql_not_in_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe twin of sql_in_subquery: NOT EXISTS replaces NOT IN
    so the anti join plans as a SHUFFLED SortMergeJoin LeftAnti instead
    of the null-aware broadcast (which ships the whole filtered subquery
    side to every task — unbounded at 100 TB).  Identical results on
    null-free keys (TPC-H keys are NOT NULL); the oracle is the same
    NOT IN statement, proving the equivalence hash-exactly."""
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
          AND NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = orders.o_orderkey
                            AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
        """
    )


# ------------------------------------------------- interval arithmetic

@register(
    "scalar_interval_funcs",
    oracle="""
SELECT o_orderkey,
       o_orderdate + INTERVAL 3 MONTH  AS due_date,
       o_orderdate + INTERVAL 45 DAY   AS followup_date,
       DATE_TRUNC('quarter', o_orderdate) AS quarter_start,
       DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS days_to_cutoff
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
""",
)
def scalar_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL literal arithmetic (intervalExpression
    SnappyParser.scala:263-331; units SnappyDDLParser.scala:246-258) —
    month/day addition, quarter truncation, day difference."""
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"].where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
    # outputs stay TIMESTAMP on both sides: Spark DATE collects as
    # datetime.date while DuckDB DATE collects as datetime64 — a pandas
    # canonicalizer renders those differently even when values agree
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("due_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")).alias("followup_date"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_cutoff"
        ),
    )


# ------------------------------------------- statistical aggregates

@register(
    "agg_stats_funcs",
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_extendedprice), 2) AS price_stddev,
       ROUND(VAR_POP(l_quantity), 4)          AS qty_var,
       ROUND(CORR(l_quantity, l_extendedprice), 6)      AS qty_price_corr,
       ROUND(COVAR_POP(l_quantity, l_extendedprice), 2) AS qty_price_covar,
       (ARRAY_AGG(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey))[1]
           AS priciest_order,
       (ARRAY_AGG(l_orderkey ORDER BY l_extendedprice ASC, l_orderkey))[1]
           AS cheapest_order
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate coverage (stddev/variance/corr/covar +
    max_by/min_by argmax aggregates) — all Catalyst DeclarativeAggregates,
    map-side partial + merge, no extra shuffle beyond the group-by."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            F.round(F.var_pop("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_covar"
            ),
            # tie-break on the order key (registry determinism policy —
            # a bare argmax is arbitrary on tied prices, and Spark's
            # partial-agg merge order varies run to run)
            F.max_by(
                "l_orderkey",
                F.struct(F.col("l_extendedprice"), (-F.col("l_orderkey")).alias("tb")),
            ).alias("priciest_order"),
            F.min_by(
                "l_orderkey",
                F.struct(F.col("l_extendedprice"), F.col("l_orderkey").alias("tb")),
            ).alias("cheapest_order"),
        )
    )


# ------------------------------------------------- bitwise functions

@register(
    "scalar_bitwise_funcs",
    oracle="""
SELECT event_id,
       user_id & 255                  AS low_byte,
       user_id | 4096                 AS with_flag,
       XOR(user_id, event_id)         AS mixed,
       (user_id & 15) << 2            AS shifted_left,
       user_id >> 3                   AS shifted_right,
       BIT_COUNT(user_id)             AS popcount
FROM events
WHERE event_id <= 5000
""",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression coverage (&, |, xor, shifts, bit_count) — the
    same JVM-side expressions our simhash/fingerprint operators build on
    (functions/text.py)."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"].where(F.col("event_id") <= 5000)
    return e.select(
        "event_id",
        F.expr("user_id & 255").alias("low_byte"),
        F.expr("user_id | 4096").alias("with_flag"),
        F.expr("user_id ^ event_id").alias("mixed"),
        F.expr("shiftleft(user_id & 15, 2)").alias("shifted_left"),
        F.expr("shiftright(user_id, 3)").alias("shifted_right"),
        F.expr("bit_count(user_id)").alias("popcount"),
    )


# ------------------------------------------------- nested/complex types

@register(
    "complex_types_nested",
    oracle="""
SELECT o_orderkey,
       struct_pack(key := o_orderkey, price := o_totalprice).price AS struct_price,
       [o_orderkey, o_custkey][1]                                  AS arr_first,
       len([o_orderkey, o_custkey, 7])                             AS arr_len,
       map([o_orderstatus], [o_totalprice])[o_orderstatus][1]      AS map_price
FROM orders
WHERE o_orderkey <= 20000
""",
)
def complex_types_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY/MAP/STRUCT construction + field/element access (type grammar
    SnappyBaseParser.scala:280-299; stored complex types
    SerializedRow/Map/Array — ours are native Catalyst nested types)."""
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"].where(F.col("o_orderkey") <= 20000)
    return o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price")
        )["price"].alias("struct_price"),
        F.array("o_orderkey", "o_custkey")[0].alias("arr_first"),
        F.size(F.array("o_orderkey", "o_custkey", F.lit(7))).alias("arr_len"),
        F.element_at(
            F.create_map(F.col("o_orderstatus"), F.col("o_totalprice")),
            F.col("o_orderstatus"),
        ).alias("map_price"),
    )


# ------------------------------------- DISTRIBUTE BY / CLUSTER BY dialect

@register(
    "sql_distribute_cluster_by",
    oracle="""
SELECT l_suppkey, ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem GROUP BY l_suppkey
""",
)
def sql_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / CLUSTER BY grammar (SnappyParser.scala:738-790):
    repartition-by-expression in SQL.  Row content is partition-layout
    independent, so the oracle is the plain aggregate (the driver's
    compare is order-insensitive); the clause itself exercises
    RepartitionByExpression planning."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_suppkey, ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem GROUP BY l_suppkey
        CLUSTER BY l_suppkey
        """
    )


# ------------------------------------------------- recursive CTE

_RECURSIVE_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS root, c_custkey AS cur, 0 AS depth
  FROM customer WHERE c_custkey <= 100
  UNION ALL
  SELECT root, CAST(FLOOR(cur / 2.0) AS BIGINT) AS cur, depth + 1 AS depth
  FROM chain WHERE cur > 1
)
SELECT root, MAX(depth) AS chain_len, COUNT(*) AS n_nodes
FROM chain GROUP BY root
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 recursive CTEs; the reference inherits
    Spark 2.1 which lacks them — dedup/__init__.py's iterative
    connected-components fixpoint is the DataFrame-loop equivalent for
    engines without the SQL form): binary ancestor walk per customer,
    depth bounded by log2(max key).  The IDENTICAL SQL text runs on both
    engines — recursion semantics, not just results, are cross-checked.
    Scale: each iteration is a bounded self-union; Spark materializes the
    frontier per step, so state is O(frontier), not O(closure)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_RECURSIVE_SQL)


# ------------------------------------------------- JSON construction / VARIANT

@register(
    "json_roundtrip_extract",
    oracle="""
WITH e AS (
  SELECT o_orderstatus AS st, o_totalprice AS price, o_orderkey % 7 AS tag
  FROM orders WHERE o_orderkey <= 2000
  UNION ALL
  SELECT o_orderstatus, o_totalprice, o_orderkey % 11
  FROM orders WHERE o_orderkey <= 2000
)
SELECT st, COUNT(*) AS n_tag_rows, ROUND(SUM(price), 2) AS sum_price,
       CAST(SUM(tag) AS BIGINT) AS sum_tags
FROM e GROUP BY st
""",
)
def json_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON construction + parse surface (to_json / from_json /
    get_json_object — the reference exposes complex types as JSON,
    complexTypeAsJson Literals.scala:423, and inherits Spark's JSON
    function family wholesale, SnappySessionCatalog.scala:1280-1286).
    Each order is serialized to a JSON doc (nested struct + array),
    parsed back with an explicit schema, the tags array exploded, and a
    cross-check field extracted path-wise; the oracle computes the same
    result with no JSON detour, so serialize→parse→explode must be
    lossless.  All JVM-side Catalyst expressions — codegen'd, no Python."""
    t = load_tables(spark, sf_dir, ("orders",))
    doc = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("id"),
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_totalprice").alias("price"),
                    F.array(
                        F.col("o_orderkey") % 7, F.col("o_orderkey") % 11
                    ).alias("tags"),
                )
            ).alias("doc")
        )
    )
    parsed = doc.select(
        F.from_json(
            "doc", "id bigint, st string, price double, tags array<bigint>"
        ).alias("j"),
        F.get_json_object("doc", "$.st").alias("st_path"),
    )
    exploded = parsed.select(
        F.col("j.st").alias("st"),
        F.col("j.price").alias("price"),
        F.explode("j.tags").alias("tag"),
        "st_path",
    )
    # st == st_path guards that path extraction agrees with schema parse
    return (
        exploded.filter(F.col("st") == F.col("st_path"))
        .groupBy("st")
        .agg(
            F.count(F.lit(1)).alias("n_tag_rows"),
            F.round(F.sum("price"), 2).alias("sum_price"),
            F.sum("tag").alias("sum_tags"),
        )
    )


@register(
    "json_variant_extract",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
       COUNT(*) AS n,
       COUNT(CAST(json_extract(props, '$.zzz') AS INTEGER)) AS n_missing
FROM events WHERE event_id < 5000
GROUP BY k_mod
""",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured payloads: parse_json →
    open binary VARIANT, variant_get typed extraction, try_variant_get
    null-on-missing.  The scale rationale: VARIANT keeps the parsed tree
    in a binary columnar form so repeated extractions don't re-parse the
    string per path (vs get_json_object), the right default for wide
    semi-structured event payloads at 100 TB.  Oracle extracts the same
    paths with DuckDB's JSON functions."""
    t = load_tables(spark, sf_dir, ("events",))
    v = F.parse_json("props")
    return (
        t["events"]
        .filter(F.col("event_id") < 5000)
        .select(
            (F.variant_get(v, "$.k", "int") % 10).alias("k_mod"),
            F.try_variant_get(v, "$.zzz", "int").alias("missing"),
        )
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("missing").alias("n_missing"),
        )
    )
