"""Physical-plan quality gates — the 100 TB design checks (SURVEY.md §4):
filters reach the parquet scan, small dims broadcast, bucketed joins elide
the shuffle (CollapseCollocatedPlans / LinkPartitionsToBuckets intent)."""

import pytest
from pyspark.sql import functions as F

from snappydata_spark.plans import (
    exchange_count,
    scan_pushdown_info,
)
from snappydata_spark.plans.explainer import (
    broadcast_join_count,
    physical_plan,
)


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    from snappydata_spark.operators.tpch import q06

    scans = scan_pushdown_info(q06(spark, sf_dir))
    assert scans, "no parquet scan found in plan"
    pushed = scans[0]["pushed_filters"]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # column pruning: only the needed columns are read
    assert "l_returnflag" not in scans[0]["read_schema"]


def test_q5_dims_broadcast(spark, sf_dir):
    from snappydata_spark.operators.tpch import q05

    df = q05(spark, sf_dir)
    assert broadcast_join_count(df) >= 2  # customer + supplier-side dims
    # only shuffles allowed: lineitem⋈orders join and the final group-by
    assert exchange_count(df) <= 3


def test_q1_single_shuffle(spark, sf_dir):
    from snappydata_spark.operators.tpch import q01

    df = q01(spark, sf_dir)
    # bigint-cents shape: inner (keys, partition-id) BIGINT agg + outer
    # exact decimal agg = 2 exchanges; the first carries one cell per
    # (group, task), the second groups only (see the bigint-cents block
    # in operators/tpch.py)
    assert exchange_count(df) == 2
    plan = physical_plan(df)
    assert "spark_partition_id" in plan.lower()
    assert "HashAggregate" in plan


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    """The reference's colocated-join claim (LINEITEM colocate_with ORDERS
    ⇒ no exchange, CollapseCollocatedPlans SnappyStrategies.scala:768-826)
    reproduced Spark-first: both sides bucketed on the join key ⇒
    SortMergeJoin without any hashpartitioning exchange."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        line = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        line.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("b_lineitem")
        orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("b_orders")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        n_exchanges = exchange_count(j)
        assert n_exchanges == 0, physical_plan(j)
        assert j.count() > 0
        # contrast: the plain (non-bucketed) join must shuffle both sides
        plain = line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert exchange_count(plain) == 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_dedup_minhash_no_cartesian(spark, sf_dir):
    from snappydata_spark.operators.dedup_ops import dedup_minhash

    plan = physical_plan(dedup_minhash(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    from snappydata_spark.operators.tpch import q03

    plan = physical_plan(q03(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT n


def test_prepared_statement(snappy):
    snappy.spark.range(100).selectExpr("id AS k", "id * 2 AS v").createOrReplaceTempView(
        "prep_t"
    )
    ps = snappy.prepare("SELECT COUNT(*) AS n FROM prep_t WHERE k < ? AND v >= ?")
    assert ps.execute(10, 0).collect()[0].n == 10
    assert ps.execute(50, 40).collect()[0].n == 30
    import pytest as _pt
    with _pt.raises(ValueError):
        ps.execute(1)


def test_plan_cache_returns_cached_dataframe(snappy):
    """Identical query → the SAME analyzed DataFrame object (true plan
    reuse, CachedDataFrame analogue); new literal values → new text, a
    miss; mutation → invalidation."""
    snappy.spark.range(50).selectExpr("id AS k", "id * 3 AS v").createOrReplaceTempView(
        "pc_t"
    )
    pc = snappy.plan_cache
    h0, m0 = pc.hits, pc.misses
    d1 = snappy.sql("SELECT COUNT(*) AS n FROM pc_t WHERE k < 10")
    d2 = snappy.sql("SELECT COUNT(*) AS n FROM pc_t WHERE k < 10")
    assert d2 is d1  # hit returns the cached DataFrame itself
    assert pc.hits == h0 + 1
    d3 = snappy.sql("SELECT COUNT(*) AS n FROM pc_t WHERE k < 25")
    assert d3 is not d1 and d3.collect()[0].n == 25
    assert pc.misses >= m0 + 2
    assert d1.collect()[0].n == 10
    # view refresh (mutation path) clears cached plans
    pc_len = len(pc._cache)
    assert pc_len >= 2
    snappy._refresh_view("nonexistent_table")
    assert len(pc._cache) == 0


def test_plan_cache_user_scope(snappy):
    """Plans are never shared across users — RLS-filtered views are
    user-dependent (CachedKey includes user/schema, SnappySession:2807)."""
    df = snappy.spark.createDataFrame(
        [(1, "acme"), (2, "acme"), (3, "other")], "k int, org string"
    )
    snappy.create_table("pcu_t", df=df)
    snappy.sql("CREATE POLICY pcu_p ON pcu_t FOR SELECT TO alice USING (org = 'acme')")
    snappy.sql("ALTER TABLE pcu_t ENABLE ROW LEVEL SECURITY")
    q = "SELECT COUNT(*) AS n FROM pcu_t"
    snappy.current_user = "alice"
    assert snappy.sql(q).collect()[0].n == 2
    snappy.current_user = "bob"
    assert snappy.sql(q).collect()[0].n == 3
    snappy.current_user = ""
    snappy.sql("DROP POLICY pcu_p")
    snappy.drop_table("pcu_t")


def test_plan_cache_concurrent_sessions(snappy):
    """Concurrent sql() through the shared plan cache (the reference's is
    a shared Guava cache hit by every connection): 8 threads × mixed
    repeated/varied literals, every result must be correct and the cache
    must stay consistent (hits+misses == total calls)."""
    import threading

    spark = snappy.spark
    spark.range(1000).selectExpr("id", "id % 7 AS g").createOrReplaceTempView(
        "pc_conc"
    )
    snappy.plan_cache.clear()
    snappy.plan_cache.hits = snappy.plan_cache.misses = 0
    errors = []

    def worker(tid):
        try:
            for i in range(10):
                lim = (i % 3) + 1  # 3 distinct literal bindings, repeated
                n = snappy.sql(
                    f"SELECT COUNT(*) AS n FROM pc_conc WHERE g < {lim}"
                ).collect()[0].n
                expected = sum(1 for x in range(1000) if x % 7 < lim)
                assert n == expected, (tid, i, n, expected)
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    pc = snappy.plan_cache
    assert pc.hits + pc.misses == 80
    # 3 distinct plans; every thread may race the initial miss on each
    # (parse runs outside the lock by design), so worst case 8×3 misses
    assert pc.hits >= 80 - 8 * 3


@pytest.mark.parametrize(
    "q",
    [
        "SELECT 1.5 AS x",
        "SELECT 0.1 * 3 AS x",
        r"SELECT '\101' AS s",
        r"SELECT 'a\tb' AS s",
        "SELECT 'it''s' AS s",
        "SELECT DATE '2020-01-01' AS d",
    ],
)
def test_plan_cache_matches_spark_sql(snappy, q):
    """A cached statement answers exactly as spark.sql does: same schema
    (types and nullability) and rows; the second identical call is a
    cache hit returning the same plan."""
    expected = snappy.spark.sql(q)
    pc = snappy.plan_cache
    first = snappy.sql(q)
    assert first.schema == expected.schema
    assert first.collect() == expected.collect()
    hits = pc.hits
    assert snappy.sql(q) is first
    assert pc.hits == hits + 1


def test_join_hints_passthrough(snappy, sf_dir):
    """Spark 3 join hints (the reference's --+ joinType() comment hints,
    QueryHint Literals.scala:405-511) flow through session.sql."""
    spark = snappy.spark
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("h_nation")
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView("h_customer")
    from snappydata_spark.plans.explainer import physical_plan

    merged = snappy.sql(
        "SELECT /*+ MERGE(n) */ COUNT(*) AS n "
        "FROM h_customer c JOIN h_nation n ON c.c_nationkey = n.n_nationkey"
    )
    assert "SortMergeJoin" in physical_plan(merged)
    bcast = snappy.sql(
        "SELECT /*+ BROADCAST(n) */ COUNT(*) AS n "
        "FROM h_customer c JOIN h_nation n ON c.c_nationkey = n.n_nationkey"
    )
    assert "BroadcastHashJoin" in physical_plan(bcast)


def test_managed_table_scan_pushdown(snappy, sf_dir):
    """Filters on managed-table reads must reach the parquet scan
    (PushedFilters — the row-group stat-skipping §4 contract)."""
    from snappydata_spark.plans.explainer import physical_plan
    import pyspark.sql.functions as F

    snappy.create_table(
        "pd_t", df=snappy.spark.read.parquet(f"{sf_dir}/orders.parquet")
    )
    plan = physical_plan(
        snappy.table("pd_t").filter(F.col("o_totalprice") > 100000.0).select("o_orderkey")
    )
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)" in plan, plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan
    snappy.drop_table("pd_t")


def test_reference_comment_join_hints(snappy, sf_dir):
    """`--+ joinType(...)` comment hints (QueryHint Literals.scala:405-511;
    applyJoinHint SnappyStrategies.scala:86-126) flip the physical join:
    broadcast forces BroadcastHashJoin where SMJ would run, sort forces
    SortMergeJoin where broadcast would run."""
    spark = snappy.spark
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("h_ord")
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView("h_cust")
    q = (
        "SELECT c_mktsegment, COUNT(*) AS n FROM h_cust {hint} "
        "JOIN h_ord ON c_custkey = o_custkey GROUP BY c_mktsegment"
    )

    def plan_of(sql_text):
        df = snappy.sql(sql_text)
        return df._jdf.queryExecution().executedPlan().toString()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast: default is SMJ/shuffle, hint must force BHJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in plan_of(q.format(hint=""))
        assert "BroadcastHashJoin" in plan_of(
            q.format(hint="--+ joinType(broadcast)")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # with auto-broadcast back on, sort hint must force SMJ over BHJ
    assert "SortMergeJoin" in plan_of(q.format(hint="--+ joinType(sort)"))
    # hash hint → shuffled hash join
    assert "ShuffledHashJoin" in plan_of(q.format(hint="--+ joinType(hash)"))
    # joinOrder(fixed) and index() are accepted no-ops; native Spark hints
    # pass through untouched
    assert snappy.sql(
        "SELECT /*+ BROADCAST(h_cust) */ COUNT(*) AS n FROM h_cust "
        "--+ joinOrder(fixed)\n JOIN h_ord ON c_custkey = o_custkey"
    ).collect()[0].n > 0


def test_plan_cache_double_quoted_literal_protected(snappy):
    """A number inside a double-quoted string literal compares as the
    literal text, never as a placeholder such as ':p0'."""
    snappy.spark.createDataFrame(
        [("100",), (":p0",)], "c string"
    ).createOrReplaceTempView("dq_t")
    rows = snappy.sql('SELECT c FROM dq_t WHERE c = "100"').collect()
    assert [r.c for r in rows] == ["100"]


def test_plan_cache_escape_sequences_bind_exactly(snappy):
    """Backslash escapes in a cached statement's literals mean what they
    mean to spark.sql (tab, newline)."""
    snappy.spark.createDataFrame(
        [("a\tb",), ("a\\tb",), ("x\ny",)], "c string"
    ).createOrReplaceTempView("esc_t")
    rows = snappy.sql("SELECT c FROM esc_t WHERE c = 'a\\tb'").collect()
    assert [r.c for r in rows] == ["a\tb"]
    rows = snappy.sql("SELECT c FROM esc_t WHERE c = 'x\\ny'").collect()
    assert [r.c for r in rows] == ["x\ny"]
