"""SQL-dialect DDL: CREATE TABLE USING COLUMN/ROW OPTIONS, CTAS, sample
tables, index registry (SnappyDDLParser statement list, SURVEY.md §2.12)."""

import pytest
from pyspark.sql import functions as F

from snappydata_spark.dialect import split_statement


def test_parse_create_table_options():
    s = split_statement(
        "CREATE TABLE t1 (k INT, v STRING) USING COLUMN "
        "OPTIONS (partition_by 'k', buckets '8', key_columns 'k')"
    )
    assert s.kind == "create_table"
    assert s.table == "t1" and s.provider == "column"
    assert s.options == {"partition_by": "k", "buckets": "8", "key_columns": "k"}
    assert "k INT" in s.schema_sql


def test_parse_create_table_as_select():
    s = split_statement("CREATE TABLE t2 USING COLUMN AS SELECT 1 AS x")
    assert s.kind == "create_table" and s.source_sql == "SELECT 1 AS x"


@pytest.mark.parametrize(
    "text,kind",
    [
        ("BEGIN", "begin"),
        ("begin transaction;", "begin"),
        ("START TRANSACTION", "begin"),
        ("COMMIT", "commit"),
        (" rollback ;", "rollback"),
    ],
)
def test_parse_transaction_control(text, kind):
    assert split_statement(text).kind == kind


@pytest.mark.parametrize("text,on", [("AUTOCOMMIT ON", True), ("autocommit off;", False)])
def test_parse_autocommit(text, on):
    s = split_statement(text)
    assert s.kind == "autocommit" and s.options == {"on": on}


@pytest.mark.parametrize(
    "text,level",
    [
        ("SET ISOLATION READ COMMITTED", "read_committed"),
        ("set isolation to Repeatable Read;", "repeatable_read"),
        ("SET ISOLATION RESET", "reset"),
    ],
)
def test_parse_set_isolation(text, level):
    s = split_statement(text)
    assert s.kind == "set_isolation" and s.options == {"level": level}


@pytest.mark.parametrize(
    "text,kind,table",
    [
        ("DESCRIBE HISTORY app.orders", "describe_history", "app.orders"),
        ("vacuum t1;", "vacuum", "t1"),
        ("COMPACT TABLE s.t2", "compact_table", "s.t2"),
    ],
)
def test_parse_table_maintenance(text, kind, table):
    s = split_statement(text)
    assert s.kind == kind and s.table == table


def test_ddl_lifecycle_via_sql(snappy, sf_dir):
    snappy.spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation_src"
    )
    snappy.sql(
        "CREATE TABLE nat USING COLUMN OPTIONS (key_columns 'n_nationkey') "
        "AS SELECT * FROM nation_src"
    )
    assert snappy.table("nat").count() == 25
    assert snappy.key_columns("nat") == ["n_nationkey"]
    snappy.sql("CREATE TABLE IF NOT EXISTS nat USING COLUMN AS SELECT 1 AS x")
    assert snappy.table("nat").count() == 25  # unchanged
    snappy.sql("PUT INTO nat SELECT n_nationkey, 'X' AS n_name, n_regionkey FROM nat WHERE n_nationkey < 3")
    assert snappy.table("nat").filter(F.col("n_name") == "X").count() == 3
    snappy.sql("DROP TABLE nat")
    assert "nat" not in snappy.list_tables()


def test_create_empty_table_with_schema_ddl(snappy):
    snappy.sql("CREATE TABLE sch_t (k INT, v STRING) USING ROW OPTIONS (key_columns 'k')")
    assert snappy.table("sch_t").columns == ["k", "v"]
    assert snappy.table("sch_t").count() == 0
    snappy.insert("sch_t", snappy.spark.createDataFrame([(1, "a")], "k int, v string"))
    assert snappy.table("sch_t").count() == 1


def test_sample_table_and_with_error_path(snappy, sf_dir):
    snappy.create_table(
        "li", df=snappy.spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    )
    snappy.sql(
        "CREATE SAMPLE TABLE li_sample ON li OPTIONS (qcs 'l_returnflag', fraction '0.3')"
    )
    assert "li_sample" in snappy.list_tables()
    n_sample = snappy.table("li_sample").count()
    n_base = snappy.table("li").count()
    assert 0 < n_sample < n_base
    est = {
        r.l_returnflag: r
        for r in snappy.approx_agg("li_sample", ["l_returnflag"], "l_quantity", "avg").collect()
    }
    true = {
        r.l_returnflag: r.a
        for r in snappy.table("li")
        .groupBy("l_returnflag")
        .agg(F.avg("l_quantity").alias("a"))
        .collect()
    }
    for flag, r in est.items():
        assert r.estimate == pytest.approx(true[flag], rel=0.25)


def test_index_registry(snappy):
    snappy.sql("CREATE TABLE idx_t (k INT, v STRING) USING COLUMN")
    snappy.sql("CREATE INDEX idx1 ON idx_t (k)")
    assert snappy.list_indexes() == {"idx1": ("idx_t", ["k"])}
    snappy.sql("DROP INDEX idx1")
    assert snappy.list_indexes() == {}


def test_zorder_index_narrows_both_columns(snappy):
    """A 2-column index Z-ORDERs the files: per-file footer min/max range
    must narrow on BOTH columns (a plain sort would only narrow the
    first), with content unchanged."""
    import os

    import pyarrow.parquet as pq

    spark = snappy.spark
    df = (
        spark.range(40000)
        .selectExpr(
            "CAST(pmod(id * 2654435761, 200) AS INT) AS x",
            "CAST(pmod(id * 40503, 200) AS INT) AS y",
            "id AS v",
        )
        .repartition(8)
    )
    snappy.create_table("zord_t", df=df)
    before = snappy.table("zord_t").count()
    snappy.sql("CREATE INDEX zord_i ON zord_t (x, y)")
    snappy.vacuum("zord_t")  # drop tombstoned pre-index files

    data = snappy.catalog.data_path("zord_t")

    def widths(col):
        out = []
        for f in os.listdir(data):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(data, f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            out.append(max(maxs) - min(mins))
        return out

    wx, wy = widths("x"), widths("y")
    assert len(wx) > 2
    # global range is ~200; every file must cover well under the full
    # range on BOTH dimensions (z-curve locality)
    assert sum(wx) / len(wx) < 0.7 * 200, wx
    assert sum(wy) / len(wy) < 0.7 * 200, wy
    assert snappy.table("zord_t").count() == before

    # --- index maintained through mutation + maintenance (reference:
    # IndexColumnFormatRelation — indexes update alongside the base
    # table): a pruned UPDATE rewrites only touched files, and a
    # compact_table cycle rewrites everything; BOTH must preserve the
    # Z-ORDER clustering (footer ranges stay narrowed on x AND y).
    snappy.sql("UPDATE zord_t SET v = -v WHERE v BETWEEN 100 AND 120")
    snappy.compact_table("zord_t", target_file_bytes=64 * 1024)
    snappy.vacuum("zord_t")
    wx2, wy2 = widths("x"), widths("y")
    assert len(wx2) > 2
    assert sum(wx2) / len(wx2) < 0.7 * 200, wx2
    assert sum(wy2) / len(wy2) < 0.7 * 200, wy2
    assert snappy.table("zord_t").count() == before
    assert (
        snappy.table("zord_t").filter("v BETWEEN -120 AND -100").count() == 21
    )
    snappy.sql("DROP INDEX zord_i")
    snappy.drop_table("zord_t")


def test_create_table_primary_key_constraint(snappy):
    """Reference row-table DDL constraints: PRIMARY KEY maps to the
    key_columns contract, NOT NULL is tolerated, DECIMAL(10,2) commas
    survive the constraint strip (GemFireXD column-constraint surface)."""
    snappy.sql(
        "CREATE TABLE pkddl_t (K INT NOT NULL PRIMARY KEY, V DECIMAL(10,2), "
        "S STRING) USING ROW"
    )
    assert snappy.catalog.load_meta("pkddl_t").key_columns == ["k"]
    assert dict(snappy.table("pkddl_t").dtypes)["V"] == "decimal(10,2)"
    snappy.sql("PUT INTO pkddl_t VALUES (1, 2.50, 'a')")
    snappy.sql("PUT INTO pkddl_t VALUES (1, 9.50, 'b')")
    rows = snappy.table("pkddl_t").collect()
    assert len(rows) == 1 and str(rows[0]["V"]) == "9.50"
    snappy.drop_table("pkddl_t")


def test_index_clusters_data_files(snappy):
    """CREATE INDEX rewrites an unbucketed table range-clustered on the
    indexed column: parquet footer min/max ranges across files must be
    non-overlapping (boundary values may repeat), so equality/range
    predicates skip every non-matching row group — the data-skipping
    'index seek'.  Content must be unchanged."""
    import os

    import pyarrow.parquet as pq

    spark = snappy.spark
    # shuffled high-cardinality column, many input partitions
    df = (
        spark.range(20000)
        .selectExpr("CAST(pmod(id * 2654435761, 20000) AS INT) AS k", "id AS v")
        .repartition(8)
    )
    snappy.create_table("idxc_t", df=df)
    before = sorted(r.k for r in snappy.table("idxc_t").select("k").collect())

    snappy.sql("CREATE INDEX idxc ON idxc_t (k)")
    snappy.vacuum("idxc_t")  # drop tombstoned pre-index files

    data = snappy.catalog.data_path("idxc_t")
    ranges = []
    for f in os.listdir(data):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(data, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "k"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1, "expected a multi-file clustered layout"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"

    after = sorted(r.k for r in snappy.table("idxc_t").select("k").collect())
    assert after == before
    snappy.sql("DROP INDEX idxc")
    snappy.drop_table("idxc_t")


def test_parse_alter_and_like():
    s = split_statement("ALTER TABLE t ADD COLUMN c DECIMAL(10,2)")
    assert s.kind == "alter_add" and s.options == {"column": "c", "type": "DECIMAL(10,2)"}
    s = split_statement("ALTER TABLE t DROP COLUMN c")
    assert s.kind == "alter_drop" and s.options["column"] == "c"
    s = split_statement("CREATE TABLE t2 LIKE t1")
    assert s.kind == "create_table_like" and s.table == "t2" and s.source_sql == "t1"


def test_alter_table_lifecycle(snappy):
    snappy.sql("CREATE TABLE alt_t (k INT, v STRING) USING COLUMN OPTIONS (key_columns 'k')")
    snappy.insert("alt_t", snappy.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    snappy.sql("ALTER TABLE alt_t ADD COLUMN score DOUBLE")
    assert snappy.table("alt_t").columns == ["k", "v", "score"]
    assert snappy.table("alt_t").filter("score IS NULL").count() == 2
    snappy.sql("ALTER TABLE alt_t DROP COLUMN v")
    assert snappy.table("alt_t").columns == ["k", "score"]
    with pytest.raises(ValueError):
        snappy.alter_table("alt_t", drop=["k"])  # key column protected
    snappy.drop_table("alt_t")


def test_create_table_like(snappy):
    snappy.sql(
        "CREATE TABLE src_t (k INT, v STRING) USING COLUMN "
        "OPTIONS (key_columns 'k', partition_by 'k', buckets '4')"
    )
    snappy.sql("CREATE TABLE dst_t LIKE src_t")
    assert snappy.table("dst_t").columns == ["k", "v"]
    assert snappy.table("dst_t").count() == 0
    assert snappy.key_columns("dst_t") == ["k"]
    snappy.drop_table("dst_t")
    snappy.drop_table("src_t")


def test_builtin_function_rewrites(snappy):
    row = snappy.sql(
        "SELECT DSID() AS d, CURRENT_SCHEMA AS s, "
        "CURRENT_USER_LDAP_GROUPS() AS g"
    ).collect()[0]
    assert row.d >= 0
    assert isinstance(row.s, str)
    assert row.g == []  # no LDAP directory: empty groups (SURVEY §8)


def test_fetch_first_rows_only(snappy):
    """FETCH FIRST n ROWS ONLY (fetchExpression SnappyParser.scala:776-785)
    rewrites to LIMIT; FETCH NEXT is the SQL-standard synonym."""
    rows = snappy.sql(
        "SELECT id FROM range(100) ORDER BY id FETCH FIRST 5 ROWS ONLY"
    ).collect()
    assert [r.id for r in rows] == [0, 1, 2, 3, 4]
    assert snappy.sql(
        "SELECT id FROM range(10) FETCH NEXT 1 ROW ONLY"
    ).count() == 1


def test_cache_uncache(snappy):
    snappy.sql("CREATE TABLE ch_t USING COLUMN AS SELECT 1 AS x")
    snappy.cache_table("ch_t")
    assert snappy.spark.catalog.isCached("ch_t")
    snappy.uncache_table("ch_t")
    assert not snappy.spark.catalog.isCached("ch_t")
    snappy.drop_table("ch_t")


def test_index_layout_survives_mutation(snappy):
    """Mutations on an indexed table must not decay the clustered layout:
    the touched rows are re-clustered on the index column, so every data
    file (incl. mut-* replacements) stays internally sorted on k and the
    file count stays bounded.  The reference maintains store B-tree
    indexes through DML (IndexColumnFormatRelation); our analogue is
    maintaining the data-skipping layout."""
    import os

    import pyarrow.parquet as pq

    spark = snappy.spark
    df = (
        spark.range(20000)
        .selectExpr("CAST(pmod(id * 2654435761, 20000) AS INT) AS k", "id AS v")
        .repartition(8)
    )
    snappy.create_table("idxm_t", options={"key_columns": "k"}, df=df)
    snappy.sql("CREATE INDEX idxm ON idxm_t (k)")
    snappy.vacuum("idxm_t")
    data = snappy.catalog.data_path("idxm_t")
    n_before = len([f for f in os.listdir(data) if f.endswith(".parquet")])

    snappy.sql("UPDATE idxm_t SET v = -1 WHERE k = 137")
    snappy.sql("DELETE FROM idxm_t WHERE k = 9999")
    snappy.vacuum("idxm_t")  # physical layout assertions need live files only

    files = [f for f in os.listdir(data) if f.endswith(".parquet")]
    assert len(files) <= n_before + 2  # replacement files, no blow-up
    for f in files:
        t = pq.read_table(os.path.join(data, f), columns=["k"])
        ks = t.column("k").to_pylist()
        assert ks == sorted(ks), f"file {f} lost its k-sorted layout"
    assert snappy.table("idxm_t").filter("k = 137").collect()[0].v == -1
    assert snappy.table("idxm_t").filter("k = 9999").count() == 0
    snappy.drop_table("idxm_t")


def test_create_table_without_using_defaults_to_row(snappy):
    """CREATE TABLE with no USING clause defaults the provider to 'row'
    (SnappyDDLParser.createTable:309-318, Consts.DEFAULT_SOURCE): managed,
    replicated-when-unpartitioned, PRIMARY KEY → key_columns."""
    snappy.sql(
        "CREATE TABLE plain_row_t (k INT NOT NULL PRIMARY KEY, v STRING)"
    )
    meta = snappy.catalog.load_meta("plain_row_t")
    assert meta.provider == "row"
    assert meta.replicate is True
    assert snappy.key_columns("plain_row_t") == ["k"]
    snappy.sql("INSERT INTO plain_row_t VALUES (1, 'a'), (2, 'b')")
    snappy.sql("PUT INTO plain_row_t VALUES (2, 'B'), (3, 'c')")
    got = {r.k: r.v for r in snappy.table("plain_row_t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # CTAS without USING is a row table too
    snappy.sql("CREATE TABLE plain_ctas_t AS SELECT k FROM plain_row_t")
    assert snappy.catalog.load_meta("plain_ctas_t").provider == "row"
    assert snappy.table("plain_ctas_t").count() == 3
    # Spark-native DDL with USING <datasource> still passes through
    snappy.sql("CREATE TABLE IF NOT EXISTS spark_native_t (k INT) USING parquet")
    assert not snappy.catalog.exists("spark_native_t")
    snappy.sql("DROP TABLE spark_native_t")
    snappy.drop_table("plain_row_t")
    snappy.drop_table("plain_ctas_t")


def test_show_create_table_roundtrip(snappy):
    """SHOW CREATE TABLE on a managed table reconstructs executable DDL
    (SnappyParser.show:1292): running the emitted statement on a fresh
    name recreates an equivalent layout."""
    snappy.sql(
        "CREATE TABLE sct_t (k INT NOT NULL, v DOUBLE) USING COLUMN "
        "OPTIONS (key_columns 'k', partition_by 'k', buckets '4')"
    )
    stmt = snappy.sql("SHOW CREATE TABLE sct_t").collect()[0].createtab_stmt
    assert "USING COLUMN" in stmt and "buckets '4'" in stmt
    snappy.sql(stmt.replace("sct_t", "sct_t2"))
    m1, m2 = (snappy.catalog.load_meta(t) for t in ("sct_t", "sct_t2"))
    assert (m1.provider, m1.key_columns, m1.partition_by, m1.buckets) == (
        m2.provider, m2.key_columns, m2.partition_by, m2.buckets
    )
    assert snappy.table("sct_t2").columns == ["k", "v"]
    snappy.drop_table("sct_t")
    snappy.drop_table("sct_t2")


def test_check_constraints_enforced(snappy):
    """CHECK constraints (GemFireXD row-DDL surface): column-level and
    named table-level checks parse out of the DDL, persist with the
    table, and reject violating INSERT/PUT/UPDATE writes; NULL passes
    (SQL semantics)."""
    snappy.sql(
        "CREATE TABLE chk_t (k INT NOT NULL PRIMARY KEY, "
        "price DOUBLE CHECK (price > 0), qty INT, "
        "CONSTRAINT qty_cap CHECK (qty <= 100)) USING ROW"
    )
    snappy.sql("INSERT INTO chk_t VALUES (1, 9.5, 10)")
    snappy.sql("INSERT INTO chk_t VALUES (2, NULL, NULL)")  # NULL passes
    assert snappy.table("chk_t").count() == 2
    with pytest.raises(ValueError, match="price > 0"):
        snappy.sql("INSERT INTO chk_t VALUES (3, -1.0, 5)")
    with pytest.raises(ValueError, match="qty_cap|qty <= 100"):
        snappy.sql("PUT INTO chk_t VALUES (1, 9.5, 500)")
    with pytest.raises(ValueError, match="price > 0"):
        snappy.sql("UPDATE chk_t SET price = -2.0 WHERE k = 1")
    # rejected writes must not have mutated anything
    assert snappy.table("chk_t").count() == 2
    assert snappy.table("chk_t").filter("price < 0 OR qty > 100").count() == 0
    snappy.drop_table("chk_t")


def test_check_constraints_on_merge_and_overwrite(snappy):
    """CHECK constraints must also gate the MERGE INTO and INSERT
    OVERWRITE write paths (they bypass insert/put/update)."""
    snappy.sql(
        "CREATE TABLE chk_m (k INT NOT NULL PRIMARY KEY, "
        "price DOUBLE CHECK (price > 0)) USING ROW"
    )
    snappy.sql("INSERT INTO chk_m VALUES (1, 5.0)")
    with pytest.raises(ValueError, match="price > 0"):
        snappy.sql(
            "MERGE INTO chk_m t USING (SELECT 1 AS k, -9.0 AS price) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET price = s.price"
        )
    with pytest.raises(ValueError, match="price > 0"):
        snappy.sql(
            "MERGE INTO chk_m t USING (SELECT 2 AS k, -1.0 AS price) s "
            "ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, price) "
            "VALUES (s.k, s.price)"
        )
    with pytest.raises(ValueError, match="price > 0"):
        snappy.sql(
            "INSERT OVERWRITE TABLE chk_m SELECT 3 AS k, -2.0 AS price"
        )
    rows = snappy.table("chk_m").collect()
    assert [(r.k, r.price) for r in rows] == [(1, 5.0)]
    snappy.drop_table("chk_m")


def test_composite_primary_key_table_constraint(snappy):
    """Table-level PRIMARY KEY (a, b): both columns become key_columns and
    no garbage '(a, b)' column reaches the schema."""
    snappy.sql(
        "CREATE TABLE cpk_t (a INT, b INT, v STRING, PRIMARY KEY (a, b)) USING ROW"
    )
    meta = snappy.catalog.load_meta("cpk_t")
    assert meta.key_columns == ["a", "b"]
    assert [f.name for f in snappy.table("cpk_t").schema.fields] == ["a", "b", "v"]
    snappy.put(
        "cpk_t", snappy.spark.createDataFrame([(1, 2, "x")], "a int, b int, v string")
    )
    assert snappy.table("cpk_t").count() == 1
    snappy.drop_table("cpk_t")


def test_merge_update_set_with_newline(snappy):
    """UPDATE <newline> SET must parse (the prefix is stripped by pattern,
    not by fixed-length slice)."""
    snappy.create_table(
        "mnl_t",
        options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([(1, "old")], "k int, v string"),
    )
    snappy.spark.createDataFrame([(1, "new")], "k int, v string").createOrReplaceTempView(
        "mnl_src"
    )
    snappy.sql(
        "MERGE INTO mnl_t t USING mnl_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE\n   SET v = s.v"
    )
    assert snappy.table("mnl_t").collect()[0].v == "new"
    snappy.drop_table("mnl_t")


def test_prepared_statement_question_mark_in_literal(snappy):
    """A '?' inside a string literal is data, not a parameter marker."""
    snappy.spark.createDataFrame(
        [("pending?", 1), ("done", 2)], "status string, id int"
    ).createOrReplaceTempView("pq_t")
    ps = snappy.prepare("SELECT id FROM pq_t WHERE status = 'pending?' AND id = ?")
    assert ps.n_params == 1
    assert [r.id for r in ps.execute(1).collect()] == [1]


def test_insert_put_column_lists(snappy):
    """ANSI column-list DML: INSERT/PUT INTO t (cols) binds the source
    positionally to the LISTED columns; unlisted columns fill with NULL;
    unknown columns are rejected."""
    import pytest as _pt

    snappy.sql(
        "CREATE TABLE cl_t (a INT NOT NULL, b INT NOT NULL, v STRING) "
        "USING column OPTIONS (key_columns 'a,b')"
    )
    snappy.sql("INSERT INTO cl_t VALUES (1, 1, 'x')")
    snappy.sql("INSERT INTO cl_t (a, b, v) VALUES (2, 1, 'z')")
    snappy.sql("INSERT INTO cl_t (v, a, b) VALUES ('rev', 4, 4)")
    snappy.sql("INSERT INTO cl_t (a, b) VALUES (3, 1)")
    snappy.sql("PUT INTO cl_t (a, b, v) VALUES (1, 1, 'x2')")
    snappy.sql("INSERT INTO cl_t (b, a) SELECT 7, 8")
    got = sorted((r.a, r.b, r.v) for r in snappy.table("cl_t").collect())
    assert got == [
        (1, 1, "x2"),
        (2, 1, "z"),
        (3, 1, None),
        (4, 4, "rev"),
        (8, 7, None),
    ]
    with _pt.raises(ValueError, match="unknown column"):
        snappy.sql("INSERT INTO cl_t (a, b, nope) VALUES (9, 9, 'q')")
    with _pt.raises(ValueError, match="column list names"):
        snappy.sql("INSERT INTO cl_t (a, b) VALUES (9, 9, 'q')")


def test_aliased_update_delete(snappy):
    """ANSI table aliases on UPDATE/DELETE (UPDATE t AS a SET ... WHERE
    a.x; DELETE FROM t a WHERE a.x): qualifiers are stripped quote-aware
    before the mutation layer filters the bare table frame."""
    snappy.sql(
        "CREATE TABLE al_t (k INT NOT NULL, v INT, s STRING) "
        "USING column OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO al_t VALUES (1, 10, 'a.b'), (2, 20, 'x'), (5, 50, 'y')")
    snappy.sql("DELETE FROM al_t a WHERE a.k = 5")
    assert sorted(r.k for r in snappy.table("al_t").collect()) == [1, 2]
    snappy.sql("UPDATE al_t AS a SET v = a.v + 1 WHERE a.k = 1")
    got = {r.k: r.v for r in snappy.table("al_t").collect()}
    assert got == {1: 11, 2: 20}
    # alias-looking text inside a string literal is untouched
    snappy.sql("UPDATE al_t a SET v = 99 WHERE a.s = 'a.b'")
    got = {r.k: r.v for r in snappy.table("al_t").collect()}
    assert got == {1: 99, 2: 20}

    from snappydata_spark.dialect import strip_alias_qualifier

    assert (
        strip_alias_qualifier("m.k = 'm.x' AND am.k > m.v", "m")
        == "k = 'm.x' AND am.k > v"
    )
    assert strip_alias_qualifier(None, "m") is None


def test_schema_qualified_names(snappy):
    """Schema-qualified table names (the reference's APP default schema,
    SnappySessionCatalog): APP.t / default.t / t are the same table;
    any other schema flattens to its own namespace.  Works across DDL,
    DML (incl. table-qualified column refs), SELECT, and joins."""
    snappy.sql(
        "CREATE TABLE app.sq_t (k INT NOT NULL, v INT) "
        "USING column OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO app.sq_t VALUES (1, 10), (2, 20)")
    snappy.sql("PUT INTO app.sq_t VALUES (1, 99)")
    snappy.sql("UPDATE app.sq_t SET v = app.sq_t.v + 1 WHERE k = 2")
    snappy.sql("DELETE FROM app.sq_t WHERE app.sq_t.v = 99")
    assert sorted(
        (r.k, r.v) for r in snappy.table("APP.SQ_T").collect()
    ) == [(2, 21)]
    # unqualified and default-qualified reads are the same table
    assert snappy.sql("SELECT COUNT(*) AS n FROM sq_t").collect()[0].n == 1
    assert (
        snappy.sql("SELECT COUNT(*) AS n FROM default.sq_t").collect()[0].n == 1
    )
    # non-default schema is its own namespace
    snappy.sql(
        "CREATE TABLE s9.sq_t (k INT NOT NULL) USING row OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO s9.sq_t VALUES (7)")
    assert snappy.sql("SELECT k FROM s9.sq_t").collect()[0].k == 7
    assert snappy.table("sq_t").count() == 1  # app table untouched
    got = snappy.sql(
        "SELECT a.k FROM app.sq_t a JOIN s9.sq_t b ON a.k + 5 = b.k"
    ).collect()
    assert [r.k for r in got] == [2]
    # alias.column dotted pairs in plain queries stay untouched
    assert (
        snappy.sql("SELECT t.v FROM sq_t t WHERE t.k = 2").collect()[0].v == 21
    )
    snappy.sql("DROP TABLE s9.sq_t")
    assert "s9__sq_t" not in snappy.list_tables()


def test_set_current_schema(snappy):
    """SET SCHEMA / USE (setCurrentSchema SnappySession.scala:1725):
    unqualified names resolve into the current schema across DDL, DML,
    and SELECT relation positions; USE app returns to the default."""
    snappy.sql("SET SCHEMA sales")
    snappy.sql(
        "CREATE TABLE cs_t (k INT NOT NULL, v INT) "
        "USING column OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO cs_t VALUES (1, 10), (2, 20)")
    assert snappy.sql("SELECT COUNT(*) AS n FROM cs_t").collect()[0].n == 2
    snappy.sql("UPDATE cs_t SET v = 0 WHERE k = 1")
    snappy.sql("DELETE FROM cs_t WHERE v = 20")
    assert sorted(
        (r.k, r.v) for r in snappy.table("cs_t").collect()
    ) == [(1, 0)]
    # string literal containing a relation keyword is untouched
    got = snappy.sql("SELECT ' FROM cs_t ' AS s, COUNT(*) AS n FROM cs_t").collect()
    assert got[0].s == " FROM cs_t " and got[0].n == 1
    snappy.sql("USE app")
    assert snappy.current_schema == "app"
    assert (
        snappy.sql("SELECT COUNT(*) AS n FROM sales.cs_t").collect()[0].n == 1
    )
    assert "sales__cs_t" in snappy.list_tables()
    snappy.sql("DROP TABLE sales.cs_t")


def test_scanner_escape_and_comment_awareness():
    """The dialect's quote-aware scanners honor backslash escapes and
    skip SQL comments (an apostrophe in a comment must not open a
    string)."""
    from snappydata_spark.dialect import (
        rewrite_qualified_names,
        strip_alias_qualifier,
    )

    res = lambda sch, t: ("X__" + t) if sch == "s" else None  # noqa: E731
    t = "SELECT 1 -- don't touch s.t here\nFROM s.t /* nor s.t's */ JOIN s.t"
    assert rewrite_qualified_names(t, res) == (
        "SELECT 1 -- don't touch s.t here\nFROM X__t /* nor s.t's */ JOIN X__t"
    )
    assert rewrite_qualified_names(r"SELECT 'esc\' s.t', s.t.k FROM s.t", res) == (
        r"SELECT 'esc\' s.t', X__t.k FROM X__t"
    )
    assert strip_alias_qualifier(r"m.k = 'bs\' m.x' AND m.v > 1", "m") == (
        r"k = 'bs\' m.x' AND v > 1"
    )


def test_correlated_subqueries_in_dml(snappy):
    """Correlated EXISTS / scalar subqueries in UPDATE/DELETE: the outer
    qualifier binds against the ALIASED target frame (replacing, not
    stripping, qualifiers — stripping would rebind the correlation to
    the inner relation and mutate every row)."""
    snappy.sql("CREATE TABLE cq_t (k INT NOT NULL, v INT) USING row OPTIONS (key_columns 'k')")
    snappy.sql("CREATE TABLE cq_u (k INT NOT NULL) USING row OPTIONS (key_columns 'k')")
    snappy.sql("INSERT INTO cq_t VALUES (1,1),(2,2),(3,3)")
    snappy.sql("INSERT INTO cq_u VALUES (2),(3)")
    snappy.sql("DELETE FROM cq_t WHERE EXISTS (SELECT 1 FROM cq_u WHERE cq_u.k = cq_t.k)")
    assert sorted(r.k for r in snappy.table("cq_t").collect()) == [1]
    snappy.sql("UPDATE cq_t SET v = v + (SELECT MAX(k) FROM cq_u) WHERE k = 1")
    assert snappy.table("cq_t").collect()[0].v == 4
    snappy.sql("INSERT INTO cq_t VALUES (7,7)")
    snappy.sql(
        "DELETE FROM cq_t p WHERE NOT EXISTS "
        "(SELECT 1 FROM cq_u WHERE cq_u.k = p.k - 5)"
    )
    assert sorted(r.k for r in snappy.table("cq_t").collect()) == [7]
    snappy.sql("DROP TABLE cq_t")
    snappy.sql("DROP TABLE cq_u")


def test_create_synonym_surface(snappy):
    """CREATE/DROP SYNONYM (reference/sql_reference/create-synonym.md):
    a synonym works in SELECT and DML, nests, rejects cycles and
    namespace collisions, and may point at a not-yet-existing target."""
    import pytest

    snappy.sql(
        "CREATE TABLE syn_t (k INT NOT NULL, v INT) "
        "USING row OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO syn_t VALUES (1, 10), (2, 20)")
    snappy.sql("CREATE SYNONYM syn_a FOR syn_t")
    # SELECT through the synonym
    assert snappy.sql("SELECT SUM(v) AS s FROM syn_a").collect()[0].s == 30
    # DML through the synonym mutates the target
    snappy.sql("UPDATE syn_a SET v = 99 WHERE k = 1")
    assert {r.v for r in snappy.table("syn_t").collect()} == {99, 20}
    snappy.sql("DELETE FROM syn_a WHERE k = 2")
    assert snappy.table("syn_t").count() == 1
    snappy.sql("INSERT INTO syn_a VALUES (5, 50)")
    assert snappy.table("syn_t").count() == 2
    # nested synonym
    snappy.sql("CREATE SYNONYM syn_b FOR syn_a")
    assert snappy.sql("SELECT COUNT(*) AS c FROM syn_b").collect()[0].c == 2
    # the python-facing table() API follows synonyms too
    assert snappy.table("syn_b").count() == 2
    # namespace is shared with tables
    with pytest.raises(ValueError, match="namespace"):
        snappy.sql("CREATE SYNONYM syn_t FOR syn_a")
    with pytest.raises(ValueError, match="synonym"):
        snappy.sql("CREATE TABLE syn_a (x INT) USING row")
    # circular chains rejected at creation (SQLSTATE 42916): self-cycle
    # and a two-hop cycle through a dangling pair
    with pytest.raises(ValueError, match="42916"):
        snappy.sql("CREATE SYNONYM syn_self FOR syn_self")
    snappy.sql("CREATE SYNONYM syn_c1 FOR syn_c2")
    with pytest.raises(ValueError, match="42916"):
        snappy.sql("CREATE SYNONYM syn_c2 FOR syn_c1")
    snappy.sql("DROP SYNONYM syn_c1")
    # DROP TABLE on a synonym points at DROP SYNONYM
    with pytest.raises(ValueError, match="DROP SYNONYM"):
        snappy.sql("DROP TABLE syn_a")
    # a synonym may reference a missing target; using it errors clearly
    snappy.sql("CREATE SYNONYM syn_ghost FOR nothing_here")
    with pytest.raises(ValueError, match="must be present"):
        snappy.sql("SELECT * FROM syn_ghost")
    snappy.sql("DROP SYNONYM syn_ghost")
    snappy.sql("DROP SYNONYM syn_b")
    snappy.sql("DROP SYNONYM syn_a")
    with pytest.raises(ValueError, match="does not exist"):
        snappy.sql("DROP SYNONYM syn_a")
    snappy.sql("DROP SYNONYM IF EXISTS syn_a")
    snappy.sql("DROP TABLE syn_t")


def test_synonym_respects_rls_and_grants(snappy):
    """A synonym never widens visibility: RLS policies and SELECT grants
    of the TARGET apply to reads through the synonym."""
    import pytest
    from pyspark.sql import Row

    snappy.create_table(
        "syn_rls", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([Row(k=1), Row(k=7)]),
    )
    snappy.sql("CREATE SYNONYM syn_r FOR syn_rls")
    snappy.sql("CREATE POLICY p_synr ON syn_rls FOR SELECT USING (k <> 7)")
    snappy.sql("ALTER TABLE syn_rls ENABLE ROW LEVEL SECURITY")
    try:
        ks = {r.k for r in snappy.sql("SELECT k FROM syn_r").collect()}
        assert ks == {1}
    finally:
        snappy.sql("ALTER TABLE syn_rls DISABLE ROW LEVEL SECURITY")
    snappy.sql("GRANT SELECT ON syn_rls TO alice")
    prev = snappy.current_user
    try:
        snappy.current_user = "mallory"
        with pytest.raises(PermissionError):
            snappy.sql("SELECT k FROM syn_r").collect()
        snappy.current_user = "alice"
        assert snappy.sql("SELECT COUNT(*) AS c FROM syn_r").collect()[0].c == 2
    finally:
        snappy.current_user = prev
        snappy.sql("REVOKE SELECT ON syn_rls FROM alice")
    snappy.sql("DROP SYNONYM syn_r")
    snappy.sql("DROP TABLE syn_rls")


def test_create_temporary_table(snappy, sf_dir):
    """CREATE TEMPORARY TABLE (create-temporary-table.md): session-scoped,
    absent from the catalog — both the USING-datasource and AS SELECT
    forms."""
    snappy.sql(
        f"CREATE TEMPORARY TABLE tmp_li USING parquet "
        f"OPTIONS (path '{sf_dir}/lineitem.parquet')"
    )
    n = snappy.sql("SELECT COUNT(*) AS c FROM tmp_li").collect()[0].c
    assert n > 0
    snappy.sql(
        "CREATE TEMPORARY TABLE tmp_li2 AS "
        "SELECT l_orderkey, l_quantity FROM tmp_li WHERE l_quantity > 10"
    )
    assert snappy.sql("SELECT COUNT(*) AS c FROM tmp_li2").collect()[0].c > 0
    # not in the managed catalog: it is a session temp view
    assert not snappy.catalog.exists("tmp_li")
    assert not snappy.catalog.exists("tmp_li2")
    snappy.spark.catalog.dropTempView("tmp_li")
    snappy.spark.catalog.dropTempView("tmp_li2")


def test_synonym_over_stream_table(snappy, tmp_path):
    """A synonym may target a STREAM TABLE (streams share the relation
    namespace): queries through the synonym read the live stream."""
    import json

    d = tmp_path / "syn_stream"
    d.mkdir()
    with open(d / "a.jsonl", "w") as f:
        f.write(json.dumps({"k": 1}) + "\n")
    snappy.sql(
        "CREATE STREAM TABLE syn_src (k int) USING file_stream "
        f"OPTIONS (format 'json', path '{d}')"
    )
    snappy.sql("CREATE SYNONYM syn_stream FOR syn_src")
    df = snappy.sql("SELECT k FROM syn_stream")
    assert df.isStreaming
    import pytest

    with pytest.raises(ValueError, match="namespace"):
        snappy.sql("CREATE SYNONYM syn_src FOR syn_stream")
    snappy.sql("DROP SYNONYM syn_stream")
    snappy.sql("DROP STREAM TABLE syn_src")


# ---------------------------------------------------------------- UNIQUE / FK
# (create-table.md:341-366: UNIQUE disallows NULLs; FOREIGN KEY values
# must exist in the referenced PK/unique columns; a multi-column FK with
# any NULL component is wholly NULL and passes.)


class TestUniqueForeignKey:
    def _parents(self, sn):
        sn.sql(
            "CREATE TABLE customers (cid INT NOT NULL PRIMARY KEY, "
            "cust_name STRING, email STRING UNIQUE) USING row"
        )
        sn.sql("INSERT INTO customers VALUES (1, 'a', 'a@x'), (2, 'b', 'b@x')")

    def test_unique_rejects_duplicate_insert(self, snappy):
        self._parents(snappy)
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("INSERT INTO customers VALUES (3, 'c', 'a@x')")

    def test_unique_rejects_null(self, snappy):
        self._parents(snappy)
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("INSERT INTO customers VALUES (3, 'c', NULL)")

    def test_unique_rejects_batch_internal_dup(self, snappy):
        self._parents(snappy)
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql(
                "INSERT INTO customers VALUES (3, 'c', 'c@x'), (4, 'd', 'c@x')"
            )

    def test_unique_accepts_fresh_values(self, snappy):
        self._parents(snappy)
        snappy.sql("INSERT INTO customers VALUES (3, 'c', 'c@x')")
        assert snappy.table("customers").count() == 3

    def test_unique_put_same_key_same_value_ok(self, snappy):
        """PUT replacing a row with its own unique value must pass (the
        surviving-rows exclusion): key 1 keeps email a@x."""
        self._parents(snappy)
        src = snappy.spark.createDataFrame(
            [(1, "a2", "a@x")], "cid int, cust_name string, email string"
        )
        snappy.put("customers", src)
        got = {r.cid: r.cust_name for r in snappy.table("customers").collect()}
        assert got[1] == "a2"

    def test_unique_put_steals_other_rows_value_rejected(self, snappy):
        self._parents(snappy)
        src = snappy.spark.createDataFrame(
            [(1, "a2", "b@x")], "cid int, cust_name string, email string"
        )
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.put("customers", src)

    def test_unique_update_collision_rejected(self, snappy):
        self._parents(snappy)
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("UPDATE customers SET email = 'b@x' WHERE cid = 1")
        # non-colliding update passes
        snappy.sql("UPDATE customers SET email = 'a2@x' WHERE cid = 1")
        emails = {r.email for r in snappy.table("customers").collect()}
        assert emails == {"a2@x", "b@x"}

    def test_table_level_unique_multi_column(self, snappy):
        snappy.sql(
            "CREATE TABLE pairs (a INT, b INT, v STRING, "
            "CONSTRAINT uq_ab UNIQUE (a, b)) USING row"
        )
        snappy.sql("INSERT INTO pairs VALUES (1, 1, 'x'), (1, 2, 'y')")
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("INSERT INTO pairs VALUES (1, 2, 'z')")
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("INSERT INTO pairs VALUES (2, NULL, 'z')")
        snappy.sql("INSERT INTO pairs VALUES (2, 1, 'z')")
        assert snappy.table("pairs").count() == 3

    def test_fk_insert_matrix(self, snappy):
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE networth (cid INT, cash DOUBLE, "
            "CONSTRAINT cust_fk FOREIGN KEY (cid) REFERENCES customers (cid)"
            ") USING row"
        )
        snappy.sql("INSERT INTO networth VALUES (1, 10.0)")  # accept
        snappy.sql("INSERT INTO networth VALUES (NULL, 5.0)")  # NULL passes
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("INSERT INTO networth VALUES (99, 1.0)")
        assert snappy.table("networth").count() == 2

    def test_fk_column_level_references_pk(self, snappy):
        """Column-level REFERENCES with omitted column list resolves to
        the parent's PRIMARY KEY at CREATE time."""
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE orders2 (oid INT PRIMARY KEY, "
            "cid INT REFERENCES customers) USING row"
        )
        snappy.sql("INSERT INTO orders2 VALUES (1, 2)")
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("INSERT INTO orders2 VALUES (2, 42)")

    def test_fk_multi_column_null_component_passes(self, snappy):
        snappy.sql(
            "CREATE TABLE parent2 (a INT, b INT, v STRING, "
            "PRIMARY KEY (a, b)) USING row"
        )
        snappy.sql("INSERT INTO parent2 VALUES (1, 1, 'x')")
        snappy.sql(
            "CREATE TABLE child2 (id INT, a INT, b INT, "
            "FOREIGN KEY (a, b) REFERENCES parent2 (a, b)) USING row"
        )
        snappy.sql("INSERT INTO child2 VALUES (1, 1, 1)")  # match
        # any NULL component -> whole key NULL -> passes no matter the rest
        snappy.sql("INSERT INTO child2 VALUES (2, 42, NULL)")
        snappy.sql("INSERT INTO child2 VALUES (3, NULL, 42)")
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("INSERT INTO child2 VALUES (4, 42, 42)")
        assert snappy.table("child2").count() == 3

    def test_fk_put_and_update_enforced(self, snappy):
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE acct (aid INT PRIMARY KEY, cid INT "
            "REFERENCES customers (cid)) USING row"
        )
        snappy.sql("INSERT INTO acct VALUES (1, 1)")
        src_bad = snappy.spark.createDataFrame([(2, 77)], "aid int, cid int")
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.put("acct", src_bad)
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("UPDATE acct SET cid = 77 WHERE aid = 1")
        snappy.sql("UPDATE acct SET cid = 2 WHERE aid = 1")
        assert snappy.table("acct").collect()[0].cid == 2

    def test_fk_parent_delete_restricted(self, snappy):
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE acct2 (aid INT PRIMARY KEY, cid INT "
            "REFERENCES customers (cid)) USING row"
        )
        snappy.sql("INSERT INTO acct2 VALUES (1, 1)")
        with pytest.raises(ValueError, match="orphan|FOREIGN KEY"):
            snappy.sql("DELETE FROM customers WHERE cid = 1")
        # unreferenced parent rows delete fine
        snappy.sql("DELETE FROM customers WHERE cid = 2")
        with pytest.raises(ValueError, match="referenced by FOREIGN KEY"):
            snappy.drop_table("customers")
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("TRUNCATE TABLE customers")
        # delete the child row, then the parent operations pass
        snappy.sql("DELETE FROM acct2 WHERE aid = 1")
        snappy.sql("DELETE FROM customers WHERE cid = 1")
        assert snappy.table("customers").count() == 0

    def test_fk_parent_update_and_put_restricted(self, snappy):
        """Parent-side NO ACTION on update()/put(): rewriting a
        REFERENCED non-key column (FKs may reference UNIQUE columns) away
        from a child's value is rejected; touching unreferenced columns
        or unreferenced values is not.  PUT against a parent whose ref
        columns are the PUT key costs nothing and passes (same key =
        same referenced value)."""
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE contacts (kid INT PRIMARY KEY, em STRING, "
            "FOREIGN KEY (em) REFERENCES customers (email)) USING row"
        )
        snappy.sql("INSERT INTO contacts VALUES (1, 'a@x')")
        with pytest.raises(ValueError, match="orphan"):
            snappy.sql("UPDATE customers SET email = 'z@x' WHERE cid = 1")
        # unreferenced value may change; unreferenced column may change
        snappy.sql("UPDATE customers SET email = 'bb@x' WHERE cid = 2")
        snappy.sql("UPDATE customers SET cust_name = 'aa' WHERE cid = 1")
        with pytest.raises(ValueError, match="orphan"):
            snappy.put(
                "customers",
                snappy.spark.createDataFrame(
                    [(1, "a", "gone@x")], "cid int, cust_name string, email string"
                ),
            )
        # PUT keeping the referenced value passes
        snappy.put(
            "customers",
            snappy.spark.createDataFrame(
                [(1, "renamed", "a@x")], "cid int, cust_name string, email string"
            ),
        )
        # child keyed by the parent PK: ref_columns ⊆ put key ⇒ no probe
        snappy.sql(
            "CREATE TABLE acct3 (aid INT PRIMARY KEY, cid INT "
            "REFERENCES customers (cid)) USING row"
        )
        snappy.sql("INSERT INTO acct3 VALUES (1, 1)")
        snappy.put(
            "customers",
            snappy.spark.createDataFrame(
                [(1, "again", "a@x")], "cid int, cust_name string, email string"
            ),
        )
        assert snappy.table("customers").filter("cid = 1").collect()[0].cust_name == "again"

    def test_fk_references_unknown_table_rejected(self, snappy):
        with pytest.raises(ValueError, match="unknown table"):
            snappy.sql(
                "CREATE TABLE broken (a INT REFERENCES nope (x)) USING row"
            )

    def test_show_create_roundtrip_preserves_constraints(self, snappy):
        """SHOW CREATE TABLE emits the constraint clauses and the emitted
        statement replays into an equivalent table (the EXPORT_DDLS
        round-trip discipline)."""
        self._parents(snappy)
        snappy.sql(
            "CREATE TABLE networth3 (cid INT, cash DOUBLE CHECK (cash >= 0), "
            "CONSTRAINT uq UNIQUE (cid), "
            "CONSTRAINT fk FOREIGN KEY (cid) REFERENCES customers (cid)"
            ") USING row"
        )
        stmt = snappy.show_create_table("networth3").collect()[0].createtab_stmt
        assert "UNIQUE (cid)" in stmt
        assert "FOREIGN KEY (cid) REFERENCES customers (cid)" in stmt
        assert "CHECK (cash >= 0)" in stmt
        # replay under a new name: constraints must be live in the clone
        replay = stmt.replace("networth3", "networth4")
        snappy.sql(replay)
        snappy.sql("INSERT INTO networth4 VALUES (1, 1.0)")
        with pytest.raises(ValueError, match="UNIQUE"):
            snappy.sql("INSERT INTO networth4 VALUES (1, 2.0)")
        with pytest.raises(ValueError, match="FOREIGN KEY"):
            snappy.sql("INSERT INTO networth4 VALUES (99, 2.0)")
        with pytest.raises(ValueError, match="CHECK"):
            snappy.sql("INSERT INTO networth4 VALUES (2, -5.0)")


# ------------------------------------------------------- identity columns
# (create-table.md Identity Columns: GENERATED ALWAYS / BY DEFAULT AS
# IDENTITY for INTEGER/BIGINT row-table columns; START WITH/INCREMENT BY
# for BY DEFAULT; insert DEFAULT or omit the column for ALWAYS.)


class TestIdentityColumns:
    def test_generated_always_assigns_unique_values(self, snappy):
        snappy.sql(
            "CREATE TABLE greetings (i INT GENERATED ALWAYS AS IDENTITY, "
            "ch VARCHAR(50)) USING row"
        )
        snappy.sql("INSERT INTO greetings VALUES (DEFAULT, 'hello')")
        snappy.sql("INSERT INTO greetings (ch) VALUES ('hi')")
        rows = snappy.table("greetings").collect()
        vals = sorted(r.i for r in rows)
        assert len(vals) == 2 and len(set(vals)) == 2
        assert vals == [1, 2]  # START defaults to 1, INCREMENT 1

    def test_generated_always_rejects_explicit_value(self, snappy):
        snappy.sql(
            "CREATE TABLE g2 (i INT GENERATED ALWAYS AS IDENTITY, "
            "ch STRING) USING row"
        )
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            snappy.sql("INSERT INTO g2 VALUES (42, 'nope')")
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            snappy.sql("INSERT INTO g2 (ch) VALUES ('x')") or snappy.sql(
                "UPDATE g2 SET i = 9"
            )

    def test_by_default_start_increment_and_mixed(self, snappy):
        snappy.sql(
            "CREATE TABLE g3 (i BIGINT GENERATED BY DEFAULT AS IDENTITY "
            "(START WITH 100, INCREMENT BY 5), v STRING) USING row"
        )
        snappy.sql("INSERT INTO g3 VALUES (7, 'explicit')")  # allowed
        snappy.sql("INSERT INTO g3 VALUES (DEFAULT, 'a'), (DEFAULT, 'b')")
        vals = sorted(r.i for r in snappy.table("g3").collect())
        assert vals == [7, 100, 105]
        # the sequence cursor persists across statements
        snappy.sql("INSERT INTO g3 (v) VALUES ('c')")
        assert max(r.i for r in snappy.table("g3").collect()) == 110

    def test_explicit_null_vs_default_into_identity(self, snappy):
        """The reference distinguishes NULL from DEFAULT in a VALUES body
        (create-table.md Identity Columns; Derby 23502): an identity
        column is implicitly NOT NULL, so a LITERAL NULL into it errors
        while DEFAULT assigns the next sequence value — and a NULL
        placed in a NON-identity position stays an ordinary NULL."""
        snappy.sql(
            "CREATE TABLE g5 (i INT GENERATED BY DEFAULT AS IDENTITY, "
            "v STRING) USING row"
        )
        with pytest.raises(ValueError, match="23502"):
            snappy.sql("INSERT INTO g5 VALUES (NULL, 'boom')")
        with pytest.raises(ValueError, match="23502"):
            snappy.sql("INSERT INTO g5 (i, v) VALUES (NULL, 'boom')")
        snappy.sql("INSERT INTO g5 VALUES (DEFAULT, NULL)")  # v NULL is fine
        rows = snappy.table("g5").collect()
        assert len(rows) == 1 and rows[0].i == 1 and rows[0].v is None
        # ALWAYS identities reject explicit NULL the same way
        snappy.sql(
            "CREATE TABLE g6 (i INT GENERATED ALWAYS AS IDENTITY, "
            "v STRING) USING row"
        )
        with pytest.raises(ValueError, match="23502"):
            snappy.sql("INSERT INTO g6 VALUES (NULL, 'x')")

    def test_identity_requires_integer_type(self, snappy):
        with pytest.raises(ValueError, match="INTEGER or BIGINT"):
            snappy.sql(
                "CREATE TABLE g4 (i STRING GENERATED ALWAYS AS IDENTITY) "
                "USING row"
            )

    def test_show_create_roundtrip_continues_sequence(self, snappy):
        snappy.sql(
            "CREATE TABLE g5 (i INT GENERATED BY DEFAULT AS IDENTITY, "
            "v STRING) USING row"
        )
        snappy.sql("INSERT INTO g5 (v) VALUES ('a'), ('b')")
        stmt = snappy.show_create_table("g5").collect()[0].createtab_stmt
        assert "GENERATED BY DEFAULT AS IDENTITY (START WITH 3" in stmt
        snappy.sql(stmt.replace("g5", "g6"))
        snappy.sql("INSERT INTO g6 (v) VALUES ('c')")
        assert snappy.table("g6").collect()[0].i == 3


def test_lob_and_legacy_type_spellings(snappy):
    """GemFireXD LOB / legacy type spellings
    (reference/misc/supported_datatypes.md): CLOB and LONG VARCHAR are
    unbounded text -> STRING, BLOB is unbounded bytes -> BINARY; an
    optional size suffix is accepted and dropped (the doc's 'work only
    if you do not provide the size' rule, relaxed like CHAR(n))."""
    snappy.sql(
        "CREATE TABLE lobs (k INT NOT NULL PRIMARY KEY, b BLOB, "
        "c CLOB, lv LONG VARCHAR, b2 BLOB(2K)) USING row"
    )
    types = {f.name: f.dataType.simpleString()
             for f in snappy.table("lobs").schema.fields}
    assert types == {"k": "int", "b": "binary", "c": "string",
                     "lv": "string", "b2": "binary"}
    snappy.sql("INSERT INTO lobs VALUES (1, CAST('ab' AS BINARY), "
               "'text', 'more text', NULL)")
    row = snappy.table("lobs").collect()[0]
    assert row.c == "text" and bytes(row.b) == b"ab"
    snappy.sql("DROP TABLE lobs")
