"""Pure mutation-rewrite semantics (reference contract: PUT INTO =
update-matched + insert-rest, ColumnTableBulkOps.scala:46-120; hard cases
from SURVEY.md §7 risk 2: null keys, duplicate source keys)."""

import os

import pytest
from pyspark.sql import functions as F

from snappydata_spark import mutate


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, v string, x double"
    )


def test_put_into_updates_and_inserts(spark, target):
    src = spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], "k int, v string, x double")
    out = mutate.put_into_df(target, src, ["k"]).orderBy("k").collect()
    assert [(r.k, r.v, r.x) for r in out] == [
        (1, "a", 10.0),
        (2, "B", 99.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]


def test_put_into_null_key_matches_null(spark):
    # eqNullSafe: a NULL key in source replaces a NULL-key row in target
    # (reference row tables treat PK null as a value via putInto join)
    tgt = spark.createDataFrame([(None, "old"), (1, "one")], "k int, v string")
    src = spark.createDataFrame([(None, "new")], "k int, v string")
    out = mutate.put_into_df(tgt, src, ["k"]).collect()
    got = {(r.k, r.v) for r in out}
    assert got == {(None, "new"), (1, "one")}


def test_put_into_duplicate_source_keys_conflate_keep_last(spark, target):
    # duplicate keys within one source batch conflate to the LAST
    # occurrence (the CDC sink's keep-last discipline,
    # SnappySinkCallback:286-309): passing both through would leave two
    # rows under one key — a key_columns-contract violation — and later
    # upserts would keep an arbitrary one (surfaced by the SQL-surface
    # hypothesis model, which caught the nondeterminism)
    src = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "k int, v string, x double"
    )
    out = mutate.put_into_df(target, src, ["k"])
    got = out.filter(F.col("k") == 2).collect()
    assert len(got) == 1
    assert (got[0].v, got[0].x) == ("y", 2.0)


def test_put_requires_keys(spark, target):
    with pytest.raises(ValueError):
        mutate.put_into_df(target, target, [])


def test_update_applies_only_where(spark, target):
    out = mutate.update_df(
        target, F.col("k") >= 2, {"x": F.col("x") * 10, "v": F.upper(F.col("v"))}
    ).orderBy("k").collect()
    assert [(r.k, r.v, r.x) for r in out] == [
        (1, "a", 10.0),
        (2, "B", 200.0),
        (3, "C", 300.0),
    ]


def test_update_assignments_see_pre_update_row(spark):
    # standard SQL UPDATE: RHS evaluates against the old row even when
    # another assignment writes the same column's source
    tgt = spark.createDataFrame([(1, 2, 3)], "k int, a int, b int")
    out = mutate.update_df(
        tgt, F.lit(True), {"a": F.col("b"), "b": F.col("a")}
    ).collect()[0]
    assert (out.a, out.b) == (3, 2)


def test_delete_where_and_null_predicate(spark):
    tgt = spark.createDataFrame([(1, 5), (2, None), (3, 20)], "k int, x int")
    # x > 10 is NULL for row 2 → three-valued logic: not deleted
    out = mutate.delete_df(tgt, F.col("x") > 10).orderBy("k").collect()
    assert [r.k for r in out] == [1, 2]


def test_delete_from_keys(spark, target):
    src = spark.createDataFrame([(1,), (3,), (99,)], "k int")
    out = mutate.delete_from_df(target, src, ["k"]).collect()
    assert [r.k for r in out] == [2]


def test_update_string_expressions(spark, target):
    out = mutate.update_df(target, "k = 1", {"x": "x + 5"}).orderBy("k").collect()
    assert out[0].x == 15.0 and out[1].x == 20.0


def test_concurrent_mutations_serialize(snappy):
    """Concurrent writers of the same table serialize (the reference
    brackets mutations in a store tx): 4 threads × disjoint-key puts must
    all land; no put may be lost to a racing copy-on-write swap."""
    import threading

    spark = snappy.spark
    snappy.create_table(
        "conc_t",
        options={"key_columns": "k"},
        df=spark.createDataFrame([(i, 0) for i in range(100)], "k int, v int"),
    )
    errors = []

    def writer(tid):
        try:
            rows = [(100 + tid * 10 + i, tid) for i in range(10)]
            snappy.put(
                "conc_t", spark.createDataFrame(rows, "k int, v int")
            )
            snappy.update("conc_t", f"k >= 100 AND v = {tid}", {"v": f"{tid} * 100"})
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = {r.k: r.v for r in snappy.table("conc_t").collect()}
    assert len(got) == 140  # 100 base + 4×10 disjoint puts, none lost
    for tid in range(4):
        for i in range(10):
            assert got[100 + tid * 10 + i] == tid * 100
    snappy.drop_table("conc_t")


def test_update_case_insensitive_and_unknown_column(spark):
    """Identifiers resolve case-insensitively (reference store semantics);
    an assignment naming no column raises instead of silently no-opping."""
    from snappydata_spark import mutate

    df = spark.createDataFrame([(1, 10), (2, 20)], "K int, V int")
    out = mutate.update_df(df, "V >= 20", {"v": "0"})
    assert {r["K"]: r["V"] for r in out.collect()} == {1: 10, 2: 0}
    with pytest.raises(ValueError, match="unknown column"):
        mutate.update_df(df, "V >= 20", {"nope": "0"})


def test_update_key_column_forbidden(snappy):
    snappy.create_table(
        "ku_t", options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([(1, "a")], "k int, v string"),
    )
    import pyspark.sql.functions as F
    with pytest.raises(ValueError, match="key column"):
        snappy.update("ku_t", F.lit(True), {"k": F.lit(9)})
    # via SQL dialect too
    with pytest.raises(ValueError, match="key column"):
        snappy.sql("UPDATE ku_t SET k = 9 WHERE v = 'a'")
    snappy.drop_table("ku_t")


def _file_state(paths):
    """{path: (size, md5)} for a list of parquet files."""
    import hashlib

    out = {}
    for p in paths:
        with open(p, "rb") as f:
            out[p] = (os.path.getsize(p), hashlib.md5(f.read()).hexdigest())
    return out


def _data_files(root):
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                found.append(os.path.join(dirpath, f))
    return sorted(found)


def test_pruned_update_leaves_unaffected_files_byte_identical(snappy):
    """Single-key UPDATE must rewrite ONLY the file(s) holding that key —
    the file-granularity analogue of the reference's column deltas
    (ColumnDeltaEncoder.scala:82): one mutation != one table rewrite."""
    df = snappy.spark.range(2000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 7 AS INT) AS grp", "id * 1.5 AS x"
    ).repartition(8)
    snappy.create_table("pr_t", options={"key_columns": "k"}, df=df)
    files_before = _data_files(snappy.catalog.data_path("pr_t"))
    assert len(files_before) >= 8
    state_before = _file_state(files_before)

    snappy.update("pr_t", "k = 1234", {"x": "x + 100"})

    files_after = _data_files(snappy.catalog.data_path("pr_t"))
    surviving = [f for f in files_before if f in files_after]
    # at most one source file was replaced; everything else is untouched
    assert len(surviving) >= len(files_before) - 1
    after_state = _file_state(surviving)
    for f in surviving:
        assert after_state[f] == state_before[f], f"{f} was rewritten"
    # and the mutation is visible
    row = snappy.table("pr_t").filter("k = 1234").collect()[0]
    assert row.x == 1234 * 1.5 + 100
    assert snappy.table("pr_t").count() == 2000
    snappy.drop_table("pr_t")


def test_pruned_update_bucketed_table(snappy):
    """Bucketed layout: unaffected bucket files stay byte-identical and
    the table remains readable through the bucketed catalog entry."""
    df = snappy.spark.range(1000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 5 AS INT) AS grp", "id * 2.0 AS x"
    )
    snappy.create_table(
        "prb_t", options={"key_columns": "k", "partition_by": "k", "buckets": "8"},
        df=df,
    )
    # bucketed tables keep their files in the table's own data dir,
    # committed through the manifest like every other table
    files_before = snappy._live_files("prb_t")
    state_before = _file_state(files_before)

    snappy.update("prb_t", "k = 77", {"x": "x + 1"})

    files_after = snappy._live_files("prb_t")
    surviving = [f for f in files_before if f in files_after]
    assert len(surviving) >= len(files_before) - 1
    after_state = _file_state(surviving)
    for f in surviving:
        assert after_state[f] == state_before[f], f"{f} was rewritten"
    got = {r.k: r.x for r in snappy.table("prb_t").filter("k IN (76, 77)").collect()}
    assert got == {76: 152.0, 77: 155.0}
    assert snappy.table("prb_t").count() == 1000
    snappy.drop_table("prb_t")


def test_pruned_delete_and_put_file_scope(snappy):
    df = snappy.spark.range(1200).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v"
    ).repartition(6)
    snappy.create_table("prd_t", options={"key_columns": "k"}, df=df)
    files0 = set(_data_files(snappy.catalog.data_path("prd_t")))

    # delete one key: ≤1 file replaced
    snappy.delete("prd_t", "k = 500")
    files1 = set(_data_files(snappy.catalog.data_path("prd_t")))
    assert len(files0 & files1) >= len(files0) - 1
    assert snappy.table("prd_t").count() == 1199

    # put: one updated key + one new key → ≤1 old file replaced, new files appended
    src = snappy.spark.createDataFrame([(7, "SEVEN"), (9999, "NEW")], "k int, v string")
    snappy.put("prd_t", src)
    got = {r.k: r.v for r in snappy.table("prd_t").filter("k IN (7, 9999)").collect()}
    assert got == {7: "SEVEN", 9999: "NEW"}
    assert snappy.table("prd_t").count() == 1200

    # predicate matching nothing: zero file churn
    files2 = set(_data_files(snappy.catalog.data_path("prd_t")))
    snappy.delete("prd_t", "k = -1")
    assert set(_data_files(snappy.catalog.data_path("prd_t"))) == files2
    snappy.drop_table("prd_t")


def test_insert_overwrite_sql(snappy):
    """INSERT OVERWRITE [TABLE] t SELECT — full replace through the
    dialect, including the self-referencing form Spark rejects on a plain
    overwrite-while-reading plan (staged via _rewrite)."""
    df = snappy.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    snappy.create_table("iow_t", df=df)
    snappy.sql("INSERT OVERWRITE iow_t SELECT k + 10 AS k, upper(v) AS v FROM iow_t")
    assert sorted((r.k, r.v) for r in snappy.table("iow_t").collect()) == [
        (11, "A"),
        (12, "B"),
    ]
    # non-self-referencing source, TABLE keyword form
    snappy.spark.createDataFrame([(9, "z")], "k int, v string").createOrReplaceTempView(
        "iow_src"
    )
    snappy.sql("INSERT OVERWRITE TABLE iow_t SELECT * FROM iow_src")
    assert [(r.k, r.v) for r in snappy.table("iow_t").collect()] == [(9, "z")]
    snappy.drop_table("iow_t")


def test_insert_overwrite_bucketed_preserves_layout(snappy):
    """Overwrite of a bucketed table re-enters through the bucketed
    writer: the layout (and hence colocated-join eligibility) survives."""
    df = snappy.spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    snappy.create_table(
        "iow_b", options={"partition_by": "k", "buckets": 4}, df=df
    )
    snappy.sql("INSERT OVERWRITE iow_b SELECT k, concat(v, '!') AS v FROM iow_b")
    assert snappy.table("iow_b").count() == 100
    meta = snappy.catalog.load_meta("iow_b")
    assert meta.buckets == 4 and meta.partition_by == ["k"]
    snappy.drop_table("iow_b")


class TestMergeInto:
    def _fresh(self, snappy, name="mg_t"):
        df = snappy.spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k int, v string, amt double",
        )
        snappy.create_table(name, options={"key_columns": "k"}, df=df)
        return name

    def test_merge_update_insert(self, snappy):
        self._fresh(snappy)
        snappy.spark.createDataFrame(
            [(2, "B2", 99.0), (4, "d", 40.0)], "k int, v string, amt double"
        ).createOrReplaceTempView("mg_src")
        snappy.sql(
            "MERGE INTO mg_t t USING mg_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = sorted((r.k, r.v, r.amt) for r in snappy.table("mg_t").collect())
        assert got == [(1, "a", 10.0), (2, "B2", 99.0), (3, "c", 30.0), (4, "d", 40.0)]
        snappy.drop_table("mg_t")

    def test_merge_conditional_clauses_first_match_wins(self, snappy):
        self._fresh(snappy)
        snappy.spark.createDataFrame(
            [(1, "x", 5.0), (2, "y", 100.0), (3, "z", 1.0)],
            "k int, v string, amt double",
        ).createOrReplaceTempView("mg_src2")
        # delete small-amt matches; update the rest; both conds overlap on
        # nothing here but order still matters for semantics
        snappy.sql(
            "MERGE INTO mg_t t USING mg_src2 s ON t.k = s.k "
            "WHEN MATCHED AND s.amt < 6.0 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt"
        )
        got = sorted((r.k, r.amt) for r in snappy.table("mg_t").collect())
        assert got == [(2, 120.0)]  # k=1 (5.0) and k=3 (1.0) deleted
        snappy.drop_table("mg_t")

    def test_merge_insert_column_list_and_subquery_source(self, snappy):
        self._fresh(snappy)
        snappy.sql(
            "MERGE INTO mg_t t USING "
            "(SELECT 7 AS kk, 'new' AS vv UNION ALL SELECT 1, 'upd') s "
            "ON t.k = s.kk "
            "WHEN MATCHED THEN UPDATE SET v = s.vv "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, concat(s.vv, '!'))"
        )
        got = {r.k: (r.v, r.amt) for r in snappy.table("mg_t").collect()}
        assert got[1] == ("upd", 10.0)
        assert got[7] == ("new!", None)  # amt unset -> NULL
        assert got[2] == ("b", 20.0)
        snappy.drop_table("mg_t")

    def test_merge_prunes_untouched_files(self, snappy):
        """Key-equality MERGE rewrites only files containing matched keys."""
        df = snappy.spark.range(1200).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v", "CAST(id AS DOUBLE) AS amt"
        ).repartition(12)
        snappy.create_table("mg_p", options={"key_columns": "k"}, df=df)
        files0 = set(_data_files(snappy.catalog.data_path("mg_p")))
        assert len(files0) >= 10
        snappy.spark.createDataFrame(
            [(600, "SIX", 0.0)], "k int, v string, amt double"
        ).createOrReplaceTempView("mg_psrc")
        snappy.sql(
            "MERGE INTO mg_p t USING mg_psrc s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        files1 = set(_data_files(snappy.catalog.data_path("mg_p")))
        assert len(files0 & files1) >= len(files0) - 1  # ≤1 file replaced
        assert snappy.table("mg_p").filter("k = 600").collect()[0].v == "SIX"
        assert snappy.table("mg_p").count() == 1200
        snappy.drop_table("mg_p")

    def test_merge_non_equi_falls_back_full_rewrite(self, snappy):
        self._fresh(snappy)
        snappy.spark.createDataFrame(
            [(25.0, "mid")], "lo double, tag string"
        ).createOrReplaceTempView("mg_rng")
        snappy.sql(
            "MERGE INTO mg_t t USING mg_rng s ON t.amt > s.lo "
            "WHEN MATCHED THEN UPDATE SET v = s.tag"
        )
        got = sorted((r.k, r.v) for r in snappy.table("mg_t").collect())
        assert got == [(1, "a"), (2, "b"), (3, "mid")]
        snappy.drop_table("mg_t")


class TestBucketFunctionPruning:
    """Keyed mutations on bucketed tables must compute their file blast
    radius from the bucket function alone — no scan of the target table
    (the reference routes keyed mutations straight to the owning bucket
    via the store's hash ring, ColumnTableBulkOps.scala:46-120)."""

    def _fresh(self, snappy, name="bfp_t", buckets=8, rows=800):
        df = snappy.spark.range(rows).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v"
        )
        snappy.create_table(
            name,
            options={
                "key_columns": "k",
                "partition_by": "k",
                "buckets": str(buckets),
            },
            df=df,
        )
        return df

    def test_put_uses_bucket_pruning_no_target_scan(self, snappy, monkeypatch):
        self._fresh(snappy)

        def _boom(*a, **k):
            raise AssertionError("semi-join target scan used on bucketed PUT")

        monkeypatch.setattr(snappy, "_affected_files", _boom)
        src = snappy.spark.createDataFrame(
            [(5, "FIVE"), (900, "NEW")], "k int, v string"
        )
        snappy.put("bfp_t", src)
        got = dict(
            (r.k, r.v)
            for r in snappy.table("bfp_t").filter("k in (5, 900)").collect()
        )
        assert got == {5: "FIVE", 900: "NEW"}
        assert snappy.table("bfp_t").count() == 801
        snappy.drop_table("bfp_t")

    def test_bucket_prune_returns_only_matching_buckets(self, snappy):
        from pyspark.sql import functions as F

        self._fresh(snappy, name="bfp_s", buckets=8)
        meta = snappy.catalog.load_meta("bfp_s")
        src = snappy.spark.createDataFrame([(5,)], "k int")
        files = snappy._bucket_affected_files(meta, src, ["k"])
        assert files is not None
        # the files must be exactly those of key 5's bucket
        want = {
            r[0]
            for r in snappy.spark.createDataFrame([(5,)], "k int")
            .select(F.pmod(F.hash(F.col("k")), F.lit(8)))
            .collect()
        }
        import re as _re

        got_buckets = {
            int(_re.search(r"_(\d{5})\.", f.rsplit("/", 1)[-1]).group(1))
            for f in files
        }
        assert got_buckets == want
        # and the pruned read really contains the key
        assert (
            snappy.spark.read.parquet(*files).filter("k = 5").count() == 1
        )
        snappy.drop_table("bfp_s")

    def test_bucket_prune_falls_back_when_keys_dont_cover(self, snappy):
        self._fresh(snappy, name="bfp_f")
        meta = snappy.catalog.load_meta("bfp_f")
        src = snappy.spark.createDataFrame([("x",)], "v string")
        assert snappy._bucket_affected_files(meta, src, ["v"]) is None
        snappy.drop_table("bfp_f")

    def test_delete_from_bucket_pruned(self, snappy, monkeypatch):
        self._fresh(snappy, name="bfp_d")

        def _boom(*a, **k):
            raise AssertionError("semi-join target scan used on deleteFrom")

        monkeypatch.setattr(snappy, "_affected_files", _boom)
        keys = snappy.spark.createDataFrame([(7,), (13,)], "k int")
        snappy.delete_from("bfp_d", keys)
        assert snappy.table("bfp_d").count() == 798
        assert snappy.table("bfp_d").filter("k in (7, 13)").count() == 0
        snappy.drop_table("bfp_d")

    def test_merge_bucket_pruned_no_target_scan(self, snappy, monkeypatch):
        self._fresh(snappy, name="bfp_m")
        snappy.spark.createDataFrame(
            [(3, "THREE"), (950, "NEW")], "k int, v string"
        ).createOrReplaceTempView("bfp_src")

        def _boom(*a, **k):
            raise AssertionError("semi-join target scan used on MERGE")

        monkeypatch.setattr(snappy, "_affected_files", _boom)
        snappy.sql(
            "MERGE INTO bfp_m t USING bfp_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = dict(
            (r.k, r.v)
            for r in snappy.table("bfp_m").filter("k in (3, 950)").collect()
        )
        assert got == {3: "THREE", 950: "NEW"}
        assert snappy.table("bfp_m").count() == 801
        snappy.drop_table("bfp_m")


def test_keyless_put_and_delete_from_refused(snappy):
    """A table with no key_columns/partition_by must REFUSE put/deleteFrom
    — the pruned path's keys=[] built a conditionless semi-join (every
    file affected) and a conditionless anti-join (keep nothing), silently
    replacing the whole table with the source rows."""
    snappy.create_table(
        "nk_t", df=snappy.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    src = snappy.spark.createDataFrame([(9, "z")], "k int, v string")
    with pytest.raises(ValueError, match="key_columns"):
        snappy.put("nk_t", src)
    with pytest.raises(ValueError, match="key_columns"):
        snappy.delete_from("nk_t", src.select("k"))
    assert snappy.table("nk_t").count() == 2  # untouched
    snappy.drop_table("nk_t")


def test_merge_multi_source_match_raises(snappy):
    """ANSI MERGE cardinality: two source rows matching one target row is
    an error, not a silent key duplication."""
    snappy.create_table(
        "mc_t",
        options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([(1, "a")], "k int, v string"),
    )
    snappy.spark.createDataFrame(
        [(1, "x"), (1, "y")], "k int, v string"
    ).createOrReplaceTempView("mc_src")
    with pytest.raises(ValueError, match="multiple source rows"):
        snappy.sql(
            "MERGE INTO mc_t t USING mc_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    assert snappy.table("mc_t").count() == 1
    snappy.drop_table("mc_t")


def test_max_delta_rows_auto_flush(snappy, spark):
    """The reference's ColumnMaxDeltaRows contract at file granularity
    (Literals.scala:138-146): trickle inserts buffer as small files;
    once the small-file tail holds >= maxDeltaRows rows it flushes into
    column-batch-sized files — content identical, file count bounded."""
    snappy.sql(
        "CREATE TABLE flush_t (k INT NOT NULL, v INT) USING column "
        "OPTIONS (key_columns 'k', maxDeltaRows '50')"
    )
    import os

    def n_files():
        live = snappy._live_files("flush_t")
        return len(live)

    total = 0
    for batch in range(4):
        vals = ", ".join(f"({batch * 20 + i}, {i})" for i in range(20))
        snappy.sql(f"INSERT INTO flush_t VALUES {vals}")
        total += 20
    # 80 rows in small files crossed the 50-row buffer limit: flushed
    assert n_files() < 4
    assert snappy.table("flush_t").count() == total
    assert snappy.table("flush_t").agg({"v": "sum"}).collect()[0][0] == 4 * sum(
        range(20)
    )
    # keys remain mutable after the flush (layout change only)
    snappy.sql("UPDATE flush_t SET v = 999 WHERE k = 0")
    assert (
        snappy.table("flush_t").filter("k = 0").collect()[0].v == 999
    )
    # without the option, inserts never flush (historical behavior)
    snappy.sql(
        "CREATE TABLE noflush_t (k INT NOT NULL, v INT) USING column "
        "OPTIONS (key_columns 'k')"
    )
    base = len(snappy._live_files("noflush_t"))
    for batch in range(3):
        snappy.sql(f"INSERT INTO noflush_t VALUES ({batch}, {batch})")
    assert len(snappy._live_files("noflush_t")) == base + 3
    snappy.drop_table("flush_t")
    snappy.drop_table("noflush_t")


def test_merge_insert_column_list_into_empty_table(snappy):
    """MERGE whose target is EMPTY must still resolve s.col references in
    the INSERT condition/column list (caught by the r12 concurrent-
    mutation fuzzer: MERGE right after TRUNCATE hit the empty-target
    branch, which applied the projection to the un-aliased source)."""
    snappy.create_table(
        "mg_empty",
        options={"key_columns": "k"},
        df=snappy.spark.createDataFrame([(1, 10)], "k long, v long"),
    )
    snappy.truncate_table("mg_empty")
    snappy.sql(
        "MERGE INTO mg_empty t USING "
        "(SELECT k, v FROM VALUES (3L, 30L), (4L, 40L) AS s0(k, v)) s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.v > 35 THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    got = sorted((r.k, r.v) for r in snappy.table("mg_empty").collect())
    assert got == [(4, 40)]  # s.v>35 filtered, s.* resolved
    snappy.drop_table("mg_empty")
