"""SnappySession facade: DDL/DML lifecycle, SQL dialect, plan cache
(reference API surface python/pyspark/sql/snappy/snappysession.py:26-138)."""

import os
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F


@pytest.fixture()
def loaded(snappy, sf_dir):
    orders = snappy.spark.read.parquet(f"{sf_dir}/orders.parquet")
    snappy.create_table(
        "t_orders",
        options={"key_columns": "o_orderkey", "partition_by": "o_orderkey", "buckets": 4},
        df=orders,
    )
    return snappy, orders.count()


def test_create_insert_truncate_drop(loaded):
    sn, n = loaded
    assert sn.table("t_orders").count() == n
    assert "t_orders" in sn.list_tables()
    assert sn.key_columns("t_orders") == ["o_orderkey"]
    sn.insert("t_orders", sn.table("t_orders").limit(10))
    assert sn.table("t_orders").count() == n + 10
    sn.truncate_table("t_orders")
    assert sn.table("t_orders").count() == 0
    sn.drop_table("t_orders")
    assert "t_orders" not in sn.list_tables()


def test_put_update_delete_api(loaded):
    sn, n = loaded
    src = sn.table("t_orders").limit(5).withColumn("o_totalprice", F.lit(123.45))
    sn.put("t_orders", src)
    assert sn.table("t_orders").count() == n
    assert sn.table("t_orders").filter(F.col("o_totalprice") == 123.45).count() == 5
    sn.update("t_orders", "o_totalprice = 123.45", {"o_totalprice": "999.0"})
    assert sn.table("t_orders").filter(F.col("o_totalprice") == 999.0).count() == 5
    sn.delete("t_orders", "o_totalprice = 999.0")
    assert sn.table("t_orders").count() == n - 5


def test_sql_dialect_put_update_delete(loaded):
    sn, n = loaded
    sn.sql("UPDATE t_orders SET o_totalprice = 1.0 WHERE o_orderkey < 10")
    low = sn.table("t_orders").filter("o_orderkey < 10").collect()
    assert all(r.o_totalprice == 1.0 for r in low)
    sn.sql("DELETE FROM t_orders WHERE o_orderkey < 10")
    assert sn.table("t_orders").filter("o_orderkey < 10").count() == 0
    before = sn.table("t_orders").count()
    sn.sql("PUT INTO t_orders SELECT * FROM t_orders WHERE o_orderkey < 100")
    assert sn.table("t_orders").count() == before  # pure upsert, no growth


def test_sql_passthrough_and_plan_cache(snappy, sf_dir):
    snappy.spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation_v"
    )
    a = snappy.sql("SELECT count(*) AS c FROM nation_v WHERE n_regionkey = 0").collect()
    b = snappy.sql("SELECT count(*) AS c FROM nation_v WHERE n_regionkey = 1").collect()
    total = snappy.sql("SELECT count(*) AS c FROM nation_v").collect()[0].c
    assert a[0].c + b[0].c <= total
    # identical re-run = cache hit (same template AND values)
    snappy.sql("SELECT count(*) AS c FROM nation_v WHERE n_regionkey = 0")
    assert snappy.plan_cache.hits >= 1


def test_delete_from_api(loaded):
    sn, n = loaded
    doomed = sn.table("t_orders").select("o_orderkey").limit(7)
    sn.delete_from("t_orders", doomed)
    assert sn.table("t_orders").count() == n - 7


def test_statement_pins_are_per_thread(snappy, monkeypatch):
    """A session shared by two threads: thread A's PUT pins its unordered
    ``limit`` source and waits while thread B runs a deleteFrom, with its
    own pinned source, to the end.  B's statement releases only its own
    pin: A's source is still cached when A resumes, so the PUT replaces
    exactly its five rows, and A releases it when its PUT ends."""
    spark = snappy.spark
    rows = [(k, f"v{k}") for k in range(100)]
    for t in ("pin_a", "pin_b"):
        snappy.create_table(
            t,
            options={"key_columns": "k"},
            df=spark.createDataFrame(rows, "k long, v string"),
        )
    a_pinned, b_done = threading.Event(), threading.Event()
    pinned, seen, errors = [], [], []
    real_pin = snappy._pin_source

    def pin_then_wait(df):
        out = real_pin(df)
        if threading.current_thread().name == "put-a":
            pinned.append(out)
            a_pinned.set()
            seen.append((b_done.wait(timeout=120), out.storageLevel))
        return out

    monkeypatch.setattr(snappy, "_pin_source", pin_then_wait)

    def put_a():
        try:
            src = snappy.table("pin_a").limit(5).withColumn("v", F.lit("p"))
            snappy.put("pin_a", src)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def delete_b():
        try:
            if not a_pinned.wait(timeout=120):
                raise AssertionError("PUT never pinned its source")
            snappy.delete_from("pin_b", snappy.table("pin_b").select("k").limit(7))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            b_done.set()

    threads = [
        threading.Thread(target=put_a, name="put-a"),
        threading.Thread(target=delete_b, name="delete-b"),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(seen) == 1
    b_finished, level = seen[0]
    assert b_finished
    assert level != StorageLevel.NONE  # B left A's pin alone
    assert pinned[0].storageLevel == StorageLevel.NONE  # A released it
    a = {r.k: r.v for r in snappy.table("pin_a").collect()}
    assert len(a) == 100 and sum(v == "p" for v in a.values()) == 5
    assert snappy.table("pin_b").count() == 93


def test_create_table_overwrite_guard(snappy, sf_dir):
    df = snappy.spark.range(3)
    snappy.create_table("dup_t", df=df)
    with pytest.raises(ValueError):
        snappy.create_table("dup_t", df=df)
    snappy.create_table("dup_t", df=df.withColumn("y", F.lit(1)), overwrite=True)
    assert "y" in snappy.table("dup_t").columns


def test_create_function_and_exec_python(snappy):
    snappy.create_function("twice_len", lambda s: len(s) * 2 if s else 0, "int")
    row = snappy.sql("SELECT twice_len('abc') AS n").collect()[0]
    assert row.n == 6

    import pandas as pd
    snappy.create_function("vec_sq", lambda s: s * s, "double", pandas=True)
    row = snappy.sql("SELECT vec_sq(CAST(3.0 AS DOUBLE)) AS sq").collect()[0]
    assert row.sq == 9.0

    df = snappy.exec_python(
        "result = spark.range(5).selectExpr('id * 2 AS d')"
    )
    assert [r.d for r in df.collect()] == [0, 2, 4, 6, 8]

    snappy.drop_function("twice_len")
    import pytest as _pt
    with _pt.raises(Exception):
        snappy.sql("SELECT twice_len('abc') AS n").collect()


def test_create_function_table_udtf(snappy):
    """create_function(table=True) — Python UDTF (the reference's
    table-valued-function surface, SnappyParser.scala:657-675): callable
    as a bare relation and as a per-row LATERAL join; both a generator
    function and an eval-class register."""

    def splitter(s):
        for i, w in enumerate((s or "").split(",")):
            if w:
                yield w, i

    snappy.create_function(
        "csv_split", splitter, "item string, idx int", table=True
    )
    rows = snappy.sql(
        "SELECT item, idx FROM csv_split('a,b,c') ORDER BY idx"
    ).collect()
    assert [(r.item, r.idx) for r in rows] == [("a", 0), ("b", 1), ("c", 2)]

    # LATERAL: fan each source row out through the UDTF
    snappy.spark.createDataFrame(
        [("r1", "x,y"), ("r2", "z")], "id string, csv string"
    ).createOrReplaceTempView("udtf_src")
    got = sorted(
        (r.id, r.item)
        for r in snappy.sql(
            "SELECT s.id, t.item FROM udtf_src s, LATERAL csv_split(s.csv) t"
        ).collect()
    )
    assert got == [("r1", "x"), ("r1", "y"), ("r2", "z")]

    # class form (reference UDF-class analogue)
    class Expand:
        def eval(self, n):
            for i in range(int(n)):
                yield (i,)

    snappy.create_function("seq_tf", Expand, "v int", table=True)
    vals = [r.v for r in snappy.sql("SELECT v FROM seq_tf(3) ORDER BY v").collect()]
    assert vals == [0, 1, 2]


def test_create_function_aggregate(snappy):
    """create_function(aggregate=True) — custom UDAF (reference UDAF jars,
    SnappyUDFTest.scala): fn sees each group's values as a pd.Series,
    executes as a grouped-agg pandas UDF (partial/final hash aggregate)."""
    import numpy as np

    snappy.create_function(
        "agg_p90",
        lambda v: float(np.percentile(v, 90)),
        "double",
        aggregate=True,
    )
    df = snappy.spark.range(0, 100).selectExpr(
        "id % 2 AS g", "CAST(id AS DOUBLE) AS x"
    )
    df.createOrReplaceTempView("udaf_src")
    got = {
        r.g: r.p90
        for r in snappy.sql(
            "SELECT g, agg_p90(x) AS p90 FROM udaf_src GROUP BY g"
        ).collect()
    }
    # evens 0..98: p90 = np.percentile(range(0,100,2), 90); odds likewise
    assert got[0] == pytest.approx(float(np.percentile(range(0, 100, 2), 90)))
    assert got[1] == pytest.approx(float(np.percentile(range(1, 100, 2), 90)))


def test_compression_option(snappy, tmp_path):
    import glob
    df = snappy.spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    snappy.create_table("gz_t", options={"compression": "gzip"}, df=df)
    files = glob.glob(snappy.catalog.data_path("gz_t") + "/*.parquet")
    assert files and all(".gz.parquet" in f for f in files)
    snappy.drop_table("gz_t")


def test_external_table_formats(snappy, tmp_path, sf_dir):
    # csv/json/orc/parquet are the reference's documented external formats
    # (README.md:21-24); xml arrives via spark-xml there and is native in
    # Spark 4 — same generic USING path here (avro is not bundled in this
    # container: documented divergence)
    src = snappy.spark.read.parquet(f"{sf_dir}/nation.parquet")
    for fmt, wopts, ropts in [
        ("csv", {"header": "true"}, {"header": "true", "inferSchema": "true"}),
        ("json", {}, {}),
        ("orc", {}, {}),
        ("xml", {"rootTag": "rows", "rowTag": "row"}, {"rowTag": "row"}),
    ]:
        path = str(tmp_path / f"ext_{fmt}")
        src.write.format(fmt).options(**wopts).save(path)
        df = snappy.create_external_table(f"ext_{fmt}", path, fmt=fmt, options=ropts)
        assert df.count() == 25
        assert snappy.sql(f"SELECT COUNT(*) AS n FROM ext_{fmt}").collect()[0].n == 25


def test_row_level_security_policy(snappy):
    df = snappy.spark.createDataFrame(
        [(1, "acme", 10.0), (2, "acme", 20.0), (3, "other", 30.0)],
        "k int, org string, x double",
    )
    snappy.create_table("rls_t", options={"key_columns": "k"}, df=df)
    snappy.sql("CREATE POLICY p_acme ON rls_t FOR SELECT USING (org = 'acme')")
    # policies are inert until RLS is enabled on the table
    # (AlterTableToggleRowLevelSecurity SnappyDDLParser:631-637;
    # docs/security/row_level_security.md "Enabling Row Level Security")
    assert snappy.table("rls_t").count() == 3
    snappy.sql("ALTER TABLE rls_t ENABLE ROW LEVEL SECURITY")
    assert snappy.table("rls_t").count() == 2
    snappy.sql("ALTER TABLE rls_t DISABLE ROW LEVEL SECURITY")
    assert snappy.table("rls_t").count() == 3
    snappy.sql("ALTER TABLE rls_t ENABLE ROW LEVEL SECURITY")
    assert snappy.sql("SELECT COUNT(*) AS n FROM rls_t").collect()[0].n == 2
    # mutations see through the policy: update must not drop hidden rows
    snappy.update("rls_t", F.col("k") == 1, {"x": F.lit(11.0)})
    snappy.sql("DROP POLICY p_acme")
    assert snappy.table("rls_t").count() == 3
    assert snappy.table("rls_t").filter("k = 1").collect()[0].x == 11.0
    # per-user policy only binds the matching user
    snappy.sql("CREATE POLICY p_u ON rls_t FOR SELECT TO alice USING (k < 3)")
    assert snappy.table("rls_t").count() == 3
    snappy.current_user = "alice"
    assert snappy.table("rls_t").count() == 2
    # the sql() path must enforce the policy for the CURRENT user even
    # though the policy was created while current_user was '' (the RLS
    # filter is injected per query, not baked into a stale view)
    assert snappy.sql("SELECT COUNT(*) AS n FROM rls_t").collect()[0].n == 2
    snappy.current_user = ""
    assert snappy.sql("SELECT COUNT(*) AS n FROM rls_t").collect()[0].n == 3
    snappy.sql("DROP POLICY p_u")
    snappy.drop_table("rls_t")


def test_describe_show_analyze(snappy):
    snappy.create_table(
        "ds_t",
        options={"key_columns": "k", "partition_by": "k", "buckets": "4"},
        df=snappy.spark.createDataFrame([(1, "a")], "k int, v string"),
    )
    desc = {r.col_name: r.data_type for r in snappy.describe("ds_t").collect()}
    assert desc["k"] == "int" and desc["v"] == "string"
    assert desc["# key_columns"] == "k" and desc["# buckets"] == "4"
    names = {r.table_name for r in snappy.show_tables().collect()}
    assert "ds_t" in names
    stats = snappy.analyze_table("ds_t")
    assert stats["row_count"] == 1 and stats["size_bytes"] > 0
    assert snappy.catalog.load_meta("ds_t").options["row_count"] == "1"
    snappy.drop_table("ds_t")


def test_engine_conf_surface(snappy):
    snappy.sql("SET snappydata.sql.planCaching = false")
    assert snappy.plan_cache.enabled is False
    snappy.sql("SET snappydata.sql.planCaching = true")
    assert snappy.plan_cache.enabled is True
    old = snappy.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    snappy.sql("SET snappydata.sql.hashJoinSize = 52428800")
    assert snappy.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "52428800"
    snappy.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    snappy.sql("SET snappydata.column.maxDeltaRows = 5000")
    assert snappy.get_conf("snappydata.column.maxDeltaRows") == "5000"


def test_compact_table(snappy):
    df = snappy.spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    snappy.create_table("cp_t", df=df.repartition(8))
    import glob
    for _ in range(4):  # small appends accumulate files
        snappy.insert("cp_t", df.limit(10).repartition(4))
    data = snappy.catalog.data_path("cp_t")
    before = len(glob.glob(data + "/*.parquet"))
    assert before >= 12
    n_after = snappy.compact_table("cp_t")
    assert n_after < before
    assert snappy.table("cp_t").count() == 140
    snappy.drop_table("cp_t")


def test_registry_persists_across_sessions(snappy):
    from snappydata_spark import SnappySession

    snappy.create_table(
        "pr_t", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([(1, "x"), (2, "y")], "k int, org string"),
    )
    snappy.sql("CREATE INDEX pr_idx ON pr_t (k)")
    snappy.sql("CREATE POLICY pr_pol ON pr_t FOR SELECT USING (org = 'x')")
    snappy.sql("ALTER TABLE pr_t ENABLE ROW LEVEL SECURITY")
    # a NEW session over the same store sees both (incl. the RLS flag)
    sn2 = SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
    assert sn2.list_indexes() == {"pr_idx": ("pr_t", ["k"])}
    assert sn2.table("pr_t").count() == 1  # policy enforced
    sn2.sql("DROP POLICY pr_pol")
    assert sn2.table("pr_t").count() == 2
    snappy.drop_table("pr_t")


def test_grant_revoke_select(snappy):
    df = snappy.spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    snappy.create_table("acl_t", options={"key_columns": "k"}, df=df)
    # no grants recorded -> open access for any user
    snappy.current_user = "bob"
    assert snappy.table("acl_t").count() == 2
    snappy.current_user = ""
    snappy.sql("GRANT SELECT ON acl_t TO alice")
    # admin (no current_user) still reads; alice reads; bob is refused
    assert snappy.table("acl_t").count() == 2
    snappy.current_user = "alice"
    assert snappy.table("acl_t").count() == 2
    snappy.current_user = "bob"
    import pytest as _pytest

    with _pytest.raises(PermissionError):
        snappy.table("acl_t")
    # sql() enforces the same grant (not only table())
    with _pytest.raises(PermissionError):
        snappy.sql("SELECT COUNT(*) AS n FROM acl_t")
    snappy.current_user = ""
    snappy.sql("REVOKE SELECT ON acl_t FROM alice")
    snappy.current_user = "bob"
    assert snappy.table("acl_t").count() == 2  # registry empty again -> open
    snappy.current_user = ""
    snappy.drop_table("acl_t")


def test_deploy_package_registry(snappy):
    snappy.sql("DEPLOY PACKAGE sparkavro 'com.databricks:spark-avro_2.11:4.0.0'")
    snappy.sql("DEPLOY JAR myudfs '/tmp/udfs.jar'")
    rows = {r.name: (r.kind, r.coords) for r in snappy.sql("LIST PACKAGES").collect()}
    assert rows == {
        "sparkavro": ("package", "com.databricks:spark-avro_2.11:4.0.0"),
        "myudfs": ("jar", "/tmp/udfs.jar"),
    }
    snappy.sql("UNDEPLOY sparkavro")
    assert [r.name for r in snappy.sql("LIST PACKAGES").collect()] == ["myudfs"]


def test_deploy_jar_actually_loads(snappy, tmp_path):
    """DEPLOY JAR with an existing local jar goes through Spark's ADD JAR
    (classpath distribution — the reference ships jars cluster-wide,
    deployPackages SnappyDDLParser:858-874); LIST JARS must show it."""
    import shutil as _sh
    import glob as _g

    src = _g.glob(
        os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "derbytools-*.jar")
    ) or _g.glob(
        os.path.join(
            os.path.dirname(__import__("pyspark").__file__), "jars", "derbytools-*.jar"
        )
    )
    jar = str(tmp_path / "deployed_udfs.jar")
    _sh.copy(src[0], jar)
    snappy.sql(f"DEPLOY JAR realudfs '{jar}'")
    listed = [r[0] for r in snappy.spark.sql("LIST JARS").collect()]
    assert any("deployed_udfs.jar" in j for j in listed), listed


def test_deploy_package_resolves_local_maven_layout(snappy, tmp_path):
    """DEPLOY PACKAGE with a file:// maven repository (deployPackages
    SnappyDDLParser.scala:858-874): the coordinate resolves through the
    standard group/artifact/version layout and the jar is really loaded
    (ADD JAR).  Remote repos are never fetched — no-network divergence."""
    import shutil as _sh
    import glob as _g

    src = _g.glob(
        os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "derbytools-*.jar")
    ) or _g.glob(
        os.path.join(
            os.path.dirname(__import__("pyspark").__file__), "jars", "derbytools-*.jar"
        )
    )
    repo = tmp_path / "m2repo"
    jar_dir = repo / "com" / "example" / "fake-lib" / "1.2.3"
    jar_dir.mkdir(parents=True)
    _sh.copy(src[0], str(jar_dir / "fake-lib-1.2.3.jar"))

    snappy.sql(
        f"DEPLOY PACKAGE fakelib 'com.example:fake-lib:1.2.3' "
        f"REPOS 'https://repo1.maven.org/maven2,file://{repo}'"
    )
    listed = [r[0] for r in snappy.spark.sql("LIST JARS").collect()]
    assert any("fake-lib-1.2.3.jar" in j for j in listed), listed
    rows = {r.name: r.coords for r in snappy.sql("LIST PACKAGES").collect()}
    assert rows["fakelib"] == "com.example:fake-lib:1.2.3"
    # unresolvable coordinate (remote-only repo): registry-only, no error
    snappy.sql(
        "DEPLOY PACKAGE ghost 'org.nowhere:ghost:9.9.9' "
        "REPOS 'https://repo1.maven.org/maven2'"
    )
    assert "ghost" in {r.name for r in snappy.sql("LIST PACKAGES").collect()}
    snappy.sql("UNDEPLOY ghost")
    snappy.sql("UNDEPLOY fakelib")


def test_registry_consistency():
    """Every oracle belongs to a registered query; the inventory only
    grows (guards against accidental de-registration)."""
    from snappydata_spark.operators import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 97
    assert all(n == n.lower() and " " not in n for n in QUERIES)


def test_view_lifecycle(loaded, tmp_path):
    """Views (createView SnappyDDLParser:542, createTempViewUsing :577,
    alterView :606; reference test suite ViewTest).  Managed tables live as
    session temp views, so view DDL maps to Spark's native TEMP VIEW
    statements; persistent views are a documented divergence (they need a
    persistent metastore, while this engine's catalog is store_dir-scoped)."""
    sn, n = loaded
    sn.sql(
        "CREATE OR REPLACE TEMPORARY VIEW big_orders AS "
        "SELECT * FROM t_orders WHERE o_totalprice > 100000"
    )
    expect = sn.table("t_orders").filter("o_totalprice > 100000").count()
    assert sn.sql("SELECT count(*) AS c FROM big_orders").collect()[0].c == expect
    # view over view
    sn.sql(
        "CREATE OR REPLACE TEMPORARY VIEW big_open AS "
        "SELECT * FROM big_orders WHERE o_orderstatus = 'O'"
    )
    assert sn.sql("SELECT count(*) AS c FROM big_open").collect()[0].c <= expect
    # ALTER VIEW ... AS (redefinition; alterView :606)
    sn.sql("ALTER VIEW big_orders AS SELECT * FROM t_orders WHERE o_totalprice > 200000")
    redefined = sn.sql("SELECT count(*) AS c FROM big_orders").collect()[0].c
    assert redefined == sn.table("t_orders").filter("o_totalprice > 200000").count()
    # CREATE TEMPORARY VIEW ... USING parquet OPTIONS(path ...) (:577)
    p = str(tmp_path / "ext_orders")
    sn.table("t_orders").limit(50).write.parquet(p)
    sn.sql(f"CREATE TEMPORARY VIEW ext_orders USING parquet OPTIONS (path '{p}')")
    assert sn.sql("SELECT count(*) AS c FROM ext_orders").collect()[0].c == 50
    for v in ("big_open", "big_orders", "ext_orders"):
        sn.sql(f"DROP VIEW {v}")
    assert not sn.spark.catalog.tableExists("big_orders")


def test_show_members(snappy):
    """SHOW MEMBERS (SnappyParser.show:1264-1270 → SYS.MEMBERS VTI): on
    local[n] the engine is one 'loner' member; the schema mirrors the
    reference's ID/HOST/KIND/STATUS/NETSERVERS/SERVERGROUPS columns."""
    df = snappy.sql("SHOW MEMBERS")
    assert df.columns == [
        "id", "host", "kind", "status", "netservers", "servergroups"
    ]
    rows = df.collect()
    assert len(rows) >= 1
    assert rows[0].kind == "loner"
    assert rows[0].status == "running"
    assert rows[0].host in rows[0].id


def test_new_session_sql_sees_persisted_tables(snappy):
    """A fresh session over an existing store must serve sql() SELECTs on
    persisted managed tables immediately (views are re-exposed at init —
    previously they only appeared after some mutation refreshed them),
    and bucketed tables resolve through the store-derived catalog name so
    a second session can MUTATE them instead of silently no-opping."""
    from snappydata_spark import SnappySession

    snappy.create_table(
        "ns_t",
        df=snappy.spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"),
    )
    snappy.create_table(
        "ns_b",
        options={"key_columns": "k", "partition_by": "k", "buckets": "4"},
        df=snappy.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    sn2 = SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
    # sql() works without any prior mutation in sn2
    assert sn2.sql("SELECT COUNT(*) AS n FROM ns_t").collect()[0].n == 2
    assert sn2.sql("SELECT COUNT(*) AS n FROM ns_b").collect()[0].n == 2
    # and a keyed mutation through the SECOND session really lands
    sn2.put("ns_b", snappy.spark.createDataFrame([(1, "A2")], "k int, v string"))
    assert snappy.table("ns_b").filter("k = 1").collect()[0].v == "A2"
    snappy.drop_table("ns_t")
    snappy.drop_table("ns_b")


def test_persistent_views_over_managed_tables(snappy, sf_dir):
    """CREATE VIEW (createView SnappyDDLParser:542) over a managed table:
    Spark itself refuses persistent views on temp-view-backed relations,
    so the engine records the view, re-binds it per query, and routes
    grants/RLS through it."""
    import pytest as _pt
    from snappydata_spark import SnappySession

    base = snappy.spark.read.parquet(f"{sf_dir}/orders.parquet").limit(30)
    snappy.create_table("pv_t", options={"key_columns": "o_orderkey"}, df=base)
    snappy.sql(
        "CREATE VIEW pv_v AS SELECT o_orderkey, o_totalprice FROM pv_t "
        "WHERE o_totalprice > 0"
    )
    assert snappy.sql("SELECT COUNT(*) AS n FROM pv_v").collect()[0].n == 30
    # view tracks mutations of the base table
    key = base.select("o_orderkey").collect()[0].o_orderkey
    snappy.sql(f"DELETE FROM pv_t WHERE o_orderkey = {key}")
    assert snappy.sql("SELECT COUNT(*) AS n FROM pv_v").collect()[0].n == 29
    # grants on the BASE table are enforced through the view
    snappy.sql("GRANT SELECT ON pv_t TO alice")
    snappy.current_user = "bob"
    with _pt.raises(PermissionError):
        snappy.sql("SELECT COUNT(*) AS n FROM pv_v").collect()
    snappy.current_user = "alice"
    assert snappy.sql("SELECT COUNT(*) AS n FROM pv_v").collect()[0].n == 29
    snappy.current_user = None
    snappy.sql("REVOKE SELECT ON pv_t FROM alice")

    # the view survives a fresh session over the same store
    sn2 = SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
    assert sn2.sql("SELECT COUNT(*) AS n FROM pv_v").collect()[0].n == 29

    snappy.sql("DROP VIEW pv_v")
    assert "pv_v" not in snappy._views


def test_alter_view(snappy):
    snappy.sql("CREATE TABLE av_t (k INT NOT NULL) USING row OPTIONS (key_columns 'k')")
    snappy.sql("INSERT INTO av_t VALUES (1), (2), (3)")
    snappy.sql("CREATE VIEW av_v AS SELECT k FROM av_t WHERE k > 1")
    assert snappy.sql("SELECT COUNT(*) AS n FROM av_v").collect()[0].n == 2
    snappy.sql("ALTER VIEW av_v AS SELECT k FROM av_t WHERE k > 2")
    assert snappy.sql("SELECT COUNT(*) AS n FROM av_v").collect()[0].n == 1
    assert snappy._views["av_v"].endswith("k > 2")
    snappy.sql("DROP VIEW av_v")


def test_sample_table_inherits_base_rls_and_grants(snappy):
    """Derived data never widens visibility: a SAMPLE TABLE read — direct
    SQL, table(), or the WITH ERROR estimate path — carries its BASE
    table's RLS policies and SELECT grants, while sample creation and
    maintenance store the FULL base (visibility is a read-time concern;
    a restricted writer's mutation must not shrink other users' samples)."""
    df = snappy.spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(40)],
        "k int, g string, x double",
    )
    snappy.create_table("rls_base", options={"key_columns": "k"}, df=df)
    snappy.sql(
        "CREATE SAMPLE TABLE rls_base_s ON rls_base "
        "OPTIONS (qcs 'g', fraction '1.0')"
    )
    snappy.sql("ALTER TABLE rls_base ENABLE ROW LEVEL SECURITY")
    snappy.sql("CREATE POLICY p_s ON rls_base FOR SELECT USING (k < 10)")
    try:
        assert all(
            r.k < 10 for r in snappy.sql("SELECT k FROM rls_base_s").collect()
        )
        assert all(r.k < 10 for r in snappy.table("rls_base_s").collect())
        est = snappy.sql(
            "SELECT COUNT(*) AS c FROM rls_base WITH ERROR 0.9"
        ).collect()[0].c
        assert est <= 10
        # a restricted writer's maintenance keeps the stored sample full
        snappy.sql("DROP POLICY p_s")
        snappy.sql(
            "CREATE POLICY p_alice ON rls_base FOR SELECT TO alice USING (k < 10)"
        )
        snappy.current_user = "alice"
        snappy.sql("UPDATE rls_base SET x = x WHERE k = 0")
        snappy.current_user = None
        assert snappy.table("rls_base_s").count() == 40
        # grants: reading the sample requires SELECT on the base
        snappy.sql("GRANT SELECT ON rls_base TO alice")
        snappy.current_user = "bob"
        with pytest.raises(PermissionError):
            snappy.table("rls_base_s").collect()
        with pytest.raises(PermissionError):
            snappy.sql("SELECT COUNT(*) AS c FROM rls_base_s").collect()
    finally:
        snappy.current_user = None
        snappy.sql("DROP POLICY IF EXISTS p_s")
        snappy.sql("DROP POLICY IF EXISTS p_alice")


def test_sys_export_data_and_ddls(snappy, tmp_path):
    """CALL SYS.EXPORT_DATA / SYS.EXPORT_DDLS
    (reference/inbuilt_system_procedures/export_data.md, export_ddl.md):
    tables export per-table under <uri>_<millis>/, DDLs replay into an
    empty session and rebuild the catalog."""
    import glob
    import os

    from pyspark.sql import Row

    snappy.sql(
        "CREATE TABLE exp_t (k INT NOT NULL, v STRING) "
        "USING row OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO exp_t VALUES (1, 'a'), (2, 'b')")
    snappy.sql("CREATE SYNONYM exp_syn FOR exp_t")
    snappy.sql("GRANT SELECT ON exp_t TO bob")
    out = snappy.sql(
        f"CALL SYS.EXPORT_DATA('{tmp_path}/data', 'csv', 'exp_t', 'false')"
    ).collect()
    assert len(out) == 1 and out[0].rows == 2
    files = glob.glob(f"{tmp_path}/data_*/APP.EXP_T/*.csv")
    assert files, "per-table csv files written"
    ddl_out = snappy.sql(f"CALL SYS.EXPORT_DDLS('{tmp_path}/ddls')").collect()
    assert ddl_out[0].statements >= 3
    with open(ddl_out[0].path) as f:
        ddls = f.read()
    assert "CREATE TABLE" in ddls and "exp_t" in ddls.lower()
    assert "CREATE SYNONYM exp_syn FOR exp_t;" in ddls
    assert "GRANT SELECT ON exp_t TO bob;" in ddls
    # replay into a fresh store rebuilds the DDL surface
    import tempfile

    from snappydata_spark import SnappySession

    sn2 = SnappySession(snappy.spark, store_dir=tempfile.mkdtemp(prefix="ddl_rt_"))
    for stmt in ddls.splitlines():
        s = stmt.strip().rstrip(";")
        if s and "exp_t" in s.lower() or "exp_syn" in s.lower():
            sn2.sql(s)
    assert sn2.catalog.exists("exp_t")
    assert "exp_syn" in sn2._synonyms
    snappy.sql("REVOKE SELECT ON exp_t FROM bob")
    snappy.sql("DROP SYNONYM exp_syn")
    snappy.sql("DROP TABLE exp_t")


def test_sys_system_tables_queryable(snappy):
    """SELECT over SYS.MEMBERS / SYS.SYSTABLES
    (reference/system_tables/members.md, systables.md)."""
    from pyspark.sql import Row

    members = snappy.sql(
        "SELECT id, kind, status FROM SYS.MEMBERS"
    ).collect()
    assert len(members) >= 1 and members[0].status == "running"
    snappy.create_table(
        "st_q", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1)]),
    )
    snappy.sql("CREATE SYNONYM st_syn FOR st_q")
    rows = {
        r.tablename: r.tabletype
        for r in snappy.sql(
            "SELECT tablename, tabletype FROM SYS.SYSTABLES"
        ).collect()
    }
    assert rows.get("ST_Q") == "T"
    assert rows.get("ST_SYN") == "A"
    snappy.sql("DROP SYNONYM st_syn")
    snappy.drop_table("st_q")


def test_dml_privileges_enforced(snappy):
    """grant.md privilege-list: INSERT/UPDATE/DELETE table privileges
    gate mutations independently of SELECT; ALL [PRIVILEGES] grants
    everything; multi-user, multi-privilege lists parse; revoking a
    privilege from an ALL grantee leaves the explicit remainder."""
    import pytest
    from pyspark.sql import Row

    snappy.create_table(
        "priv_t", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1, v=10)]),
    )
    snappy.sql("GRANT SELECT, INSERT ON priv_t TO alice, bob")
    snappy.sql("GRANT ALL PRIVILEGES ON priv_t TO carol")
    prev = snappy.current_user
    try:
        snappy.current_user = "alice"
        assert snappy.table("priv_t").count() == 1
        snappy.sql("INSERT INTO priv_t VALUES (2, 20)")
        with pytest.raises(PermissionError, match="UPDATE"):
            snappy.sql("UPDATE priv_t SET v = 0 WHERE k = 1")
        with pytest.raises(PermissionError, match="DELETE"):
            snappy.sql("DELETE FROM priv_t WHERE k = 1")
        snappy.current_user = "carol"
        snappy.sql("UPDATE priv_t SET v = 99 WHERE k = 1")
        snappy.sql("DELETE FROM priv_t WHERE k = 2")
        snappy.current_user = "mallory"
        with pytest.raises(PermissionError, match="SELECT"):
            snappy.table("priv_t").count()
        with pytest.raises(PermissionError, match="INSERT"):
            snappy.sql("INSERT INTO priv_t VALUES (3, 30)")
        # revoke SELECT from the ALL grantee: the remainder stays
        snappy.current_user = prev
        snappy.sql("REVOKE SELECT ON priv_t FROM carol")
        snappy.current_user = "carol"
        with pytest.raises(PermissionError, match="SELECT"):
            snappy.table("priv_t").count()
        snappy.sql("DELETE FROM priv_t WHERE k = 999")  # still allowed
    finally:
        snappy.current_user = prev
    # unknown privileges fail at parse with the documented list
    import pytest as _pt

    with _pt.raises(ValueError, match="privilege"):
        snappy.sql("GRANT FLY ON priv_t TO alice")
    snappy.sql("REVOKE ALL ON priv_t FROM alice")
    snappy.sql("REVOKE ALL ON priv_t FROM bob")
    snappy.sql("REVOKE ALL ON priv_t FROM carol")
    snappy.drop_table("priv_t")


def test_execute_grant_on_function(snappy):
    """GRANT EXECUTE ON FUNCTION (grant.md routine syntax): once a
    function is granted, only grantees may call it from SQL."""
    import pytest
    from pyspark.sql import Row

    snappy.create_table(
        "fx_t", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1)]),
    )
    snappy.create_function("fx_double", lambda x: x * 2, "int")
    snappy.sql("GRANT EXECUTE ON FUNCTION fx_double TO alice")
    prev = snappy.current_user
    try:
        snappy.current_user = "alice"
        assert snappy.sql(
            "SELECT fx_double(k) AS d FROM fx_t"
        ).collect()[0].d == 2
        snappy.current_user = "mallory"
        with pytest.raises(PermissionError, match="EXECUTE"):
            snappy.sql("SELECT fx_double(k) AS d FROM fx_t")
        # unrelated queries by the same user pass
        assert snappy.sql("SELECT k FROM fx_t").collect()[0].k == 1
    finally:
        snappy.current_user = prev
    snappy.sql("REVOKE EXECUTE ON FUNCTION fx_double FROM alice")
    snappy.drop_table("fx_t")


def test_sys_tablestats_queryable(snappy):
    """SYS.TABLESTATS (system_tables/systablestats.md): row counts,
    sizes, and layout flags per managed table."""
    from pyspark.sql import Row

    snappy.create_table(
        "ts_stat", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=i) for i in range(7)]),
    )
    rows = {
        r.table: r
        for r in snappy.sql(
            "SELECT * FROM SYS.TABLESTATS WHERE row_count > 0"
        ).collect()
    }
    st = rows.get("APP.TS_STAT")
    assert st is not None and st.row_count == 7
    assert st.total_size > 0 and st.is_column_table
    snappy.drop_table("ts_stat")


def test_export_ddls_replay_order_and_fidelity(snappy, tmp_path):
    """Review fixes: EXPORT_DDLS replays in dependency order (a sample
    alphabetically BEFORE its base still replays after it), keeps the
    policy's TO-user scope, and emits layout indexes."""
    from pyspark.sql import Row

    snappy.create_table(
        "zz_base", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=i, g="a") for i in range(20)]),
    )
    snappy.sql(
        "CREATE SAMPLE TABLE aa_smp ON zz_base "
        "OPTIONS (qcs 'g', fraction '0.5')"
    )
    snappy.sql("CREATE INDEX zz_idx ON zz_base (k)")
    snappy.sql(
        "CREATE POLICY p_zz ON zz_base FOR SELECT TO bob USING (k <> 7)"
    )
    out = snappy.sql(f"CALL SYS.EXPORT_DDLS('{tmp_path}/ddl_order')").collect()
    with open(out[0].path) as f:
        ddls = f.read()
    assert ddls.index("CREATE TABLE") < ddls.index("CREATE SAMPLE TABLE")
    assert "CREATE INDEX zz_idx ON zz_base (k);" in ddls
    assert "FOR SELECT TO bob USING (k <> 7);" in ddls
    # full replay into a fresh store succeeds in file order
    import tempfile

    from snappydata_spark import SnappySession

    sn2 = SnappySession(
        snappy.spark, store_dir=tempfile.mkdtemp(prefix="ddl_order_rt_")
    )
    for stmt in ddls.splitlines():
        s = stmt.strip().rstrip(";")
        if s and ("zz_" in s.lower() or "aa_smp" in s.lower()):
            sn2.sql(s)
    assert sn2.catalog.exists("aa_smp")
    assert sn2._policies["p_zz"][2] == "bob"
    snappy.sql("DROP POLICY p_zz")
    snappy.drop_table("aa_smp")
    snappy.drop_table("zz_base")


def test_synonym_resolves_under_set_schema(snappy):
    """Review fix: a synonym created under SET SCHEMA resolves through
    bare and qualified references alike."""
    from pyspark.sql import Row

    snappy.sql("CREATE SCHEMA ssyn")
    snappy.sql("SET SCHEMA ssyn")
    try:
        snappy.create_table(
            "sst", options={"key_columns": "k"},
            df=snappy.spark.createDataFrame([Row(k=5)]),
        )
        snappy.sql("CREATE SYNONYM ss_alias FOR sst")
        assert snappy.sql("SELECT k FROM ss_alias").collect()[0].k == 5
        snappy.sql("SET SCHEMA app")
        assert snappy.sql("SELECT k FROM ssyn.ss_alias").collect()[0].k == 5
    finally:
        snappy.sql("SET SCHEMA app")
        snappy.sql("DROP SYNONYM ssyn.ss_alias")
        snappy.drop_table("ssyn.sst")


def test_public_grantee_applies_to_all_users(snappy):
    """GRANT ... TO PUBLIC (grant.md: permissions for 'all users')."""
    import pytest
    from pyspark.sql import Row

    snappy.create_table(
        "pub_t", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1)]),
    )
    snappy.sql("GRANT SELECT ON pub_t TO alice")  # locks the table down
    snappy.sql("GRANT SELECT ON pub_t TO public")
    prev = snappy.current_user
    try:
        snappy.current_user = "randomuser"
        assert snappy.table("pub_t").count() == 1
        # PUBLIC grants SELECT only: writes still gated
        with pytest.raises(PermissionError, match="INSERT"):
            snappy.sql("INSERT INTO pub_t VALUES (2)")
        snappy.current_user = prev
        snappy.sql("REVOKE SELECT ON pub_t FROM public")
        snappy.current_user = "randomuser"
        with pytest.raises(PermissionError, match="SELECT"):
            snappy.table("pub_t").count()
    finally:
        snappy.current_user = prev
    snappy.sql("REVOKE ALL ON pub_t FROM alice")
    snappy.drop_table("pub_t")


def test_sys_rebalance_all_buckets(snappy):
    """CALL SYS.REBALANCE_ALL_BUCKETS() (inbuilt_system_procedures/
    rebalance-all-buckets.md): bucketed tables re-hash through the
    bucketed writer; content unchanged, unbucketed tables untouched."""
    from pyspark.sql import Row

    snappy.create_table(
        "rb_t",
        options={"key_columns": "k", "partition_by": "k", "buckets": "4"},
        df=snappy.spark.createDataFrame([Row(k=i, v=i * 2) for i in range(40)]),
    )
    snappy.create_table(
        "rb_plain", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1, v=1)]),
    )
    out = {r.table: r.buckets for r in snappy.sql(
        "CALL SYS.REBALANCE_ALL_BUCKETS()"
    ).collect()}
    assert out.get("rb_t") == 4
    assert "rb_plain" not in out
    assert snappy.table("rb_t").count() == 40
    assert snappy.table("rb_t").agg({"v": "sum"}).collect()[0][0] == sum(
        i * 2 for i in range(40)
    )
    snappy.drop_table("rb_t")
    snappy.drop_table("rb_plain")


# ------------------------------------------------ r8 system procedures


def test_dump_stacks_and_trace_flag(snappy):
    """SYS.DUMP_STACKS writes driver-JVM thread stacks to the log and
    reports the thread count; SYS.SET_TRACE_FLAG records the flag
    (dump-stacks.md, set-trace-flag.md)."""
    out = snappy.sql("CALL SYS.DUMP_STACKS(false)").collect()
    assert out[0].threads > 0
    snappy.sql("CALL SYS.SET_TRACE_FLAG('DistributionManager.VERBOSE', true)")
    assert snappy.get_conf(
        "snappydata.trace.distributionmanager.verbose"
    ) == "true"


def test_heap_percentage_procs_validate(snappy):
    snappy.sql("CALL SYS.SET_CRITICAL_HEAP_PERCENTAGE(90.5)")
    snappy.sql("CALL SYS.SET_EVICTION_HEAP_PERCENTAGE(81)")
    assert snappy.get_conf(
        "snappydata.set_critical_heap_percentage") == "90.5"
    with pytest.raises(ValueError, match=r"\[0, 100\]"):
        snappy.sql("CALL SYS.SET_CRITICAL_HEAP_PERCENTAGE(150)")


def test_statistics_timing_records_and_zeroes(snappy):
    """SYSCS_UTIL.SET_STATISTICS_TIMING (setstatstimingproc.md): on →
    per-statement wall recorded; off → all timing values zeroed."""
    snappy.sql("CALL SYSCS_UTIL.SET_STATISTICS_TIMING(1)")
    snappy.sql("SELECT 1 AS x").collect()
    snappy.sql("SELECT 2 AS x").collect()
    stats = snappy.get_statement_stats()
    assert len(stats) >= 2
    assert all(ms > 0 for _, ms in stats)
    assert any("SELECT 1" in q for q, _ in stats)
    snappy.sql("CALL SYSCS_UTIL.SET_STATISTICS_TIMING(0)")
    assert snappy.get_statement_stats() == []


def test_remove_metastore_entry_and_syspolicies(snappy):
    """SYS.REMOVE_METASTORE_ENTRY drops the catalog entry without the
    DROP TABLE guards (sys_remove_metastore_entry.md); SYS.SYSPOLICIES
    lists RLS policies with the documented columns
    (row_level_security.md:126)."""
    snappy.sql("CREATE TABLE rme (k INT, v INT) USING column")
    snappy.sql("INSERT INTO rme VALUES (1, 1)")
    snappy.sql("CREATE POLICY p_rme ON rme FOR SELECT TO alice USING (k > 0)")
    pol = snappy.sql(
        "SELECT * FROM SYS.SYSPOLICIES WHERE tablename = 'RME'"
    ).collect()
    assert len(pol) == 1
    assert (pol[0].name, pol[0].policyfor, pol[0].applyto) == (
        "P_RME", "SELECT", "ALICE",
    )
    assert pol[0].filter == "k > 0" and pol[0].schemaname == "APP"
    # the emergency hatch: entry gone without touching policies
    snappy.sql("CALL SYS.REMOVE_METASTORE_ENTRY('APP.rme', 'false')")
    assert not snappy.catalog.exists("rme")
    assert "p_rme" in snappy._policies  # doc: drop policies separately
    snappy.sql("DROP POLICY p_rme")
