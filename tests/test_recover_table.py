"""SYS.RECOVER_TABLE — manifest scavenger (r10 verdict Missing#4): the
engine analogue of the reference's data extractor
(command_line_utilities/data_extractor.md, modify_disk_store.md) —
rebuild a managed table whose manifest is corrupted or deleted, from the
history snapshots when possible, else from surviving parquet footers."""

import os


def _mk(snappy, spark, name="rc_t"):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k long, v string"
    )
    snappy.create_table(name, options={"key_columns": "k"}, df=df)
    # a second generation so history has something to replay
    snappy.put(
        "rc_t", spark.createDataFrame([(1, "updated")], "k long, v string")
    )
    return name


def _vals(sn, t):
    return {r.k: r.v for r in sn.table(t).collect()}


def test_recover_from_history_after_manifest_deleted(snappy, spark):
    name = _mk(snappy, spark)
    before = _vals(snappy, name)
    os.remove(snappy._manifest_path(name))
    rep = snappy.sql(f"CALL SYS.RECOVER_TABLE('{name}')").collect()[0]
    assert rep.mode.startswith("history:")
    assert _vals(snappy, name) == before
    assert before[1] == "updated"
    # the table keeps working: another mutation commits normally
    snappy.put(name, spark.createDataFrame([(2, "post")], "k long, v string"))
    assert _vals(snappy, name)[2] == "post"


def test_recover_by_footer_scavenge_keyed_dedup(snappy, spark):
    """No usable history: the scavenger must keep exactly one row per key
    even though the in-grace pre-image file (old value of k=1) is still
    on disk next to its replacement."""
    import shutil

    name = _mk(snappy, spark)
    before = _vals(snappy, name)
    os.remove(snappy._manifest_path(name))
    shutil.rmtree(snappy._history_dir(name))
    rep = snappy.sql(f"CALL SYS.RECOVER_TABLE('{name}')").collect()[0]
    assert rep.mode == "scavenge:keyed-dedup"
    got = _vals(snappy, name)
    assert len(got) == 100  # one row per key — pre-image did not double k=1
    assert got[1] == "updated"  # newest file won the dedup
    assert {k: v for k, v in got.items() if k != 1} == {
        k: v for k, v in before.items() if k != 1
    }


def test_recover_skips_torn_files(snappy, spark):
    import shutil

    name = _mk(snappy, spark)
    data = snappy.catalog.data_path(name)
    with open(os.path.join(data, "zz-torn.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")
    # corrupt (not delete) the manifest: unreadable JSON
    with open(snappy._manifest_path(name), "w") as f:
        f.write("{corrupt")
    shutil.rmtree(snappy._history_dir(name))
    rep = snappy.sql(f"CALL SYS.RECOVER_TABLE('{name}')").collect()[0]
    assert rep.skipped == 1
    got = _vals(snappy, name)
    assert len(got) == 100 and got[1] == "updated"


def test_recover_bucketed_from_history(snappy, spark):
    """Bucketed tables commit through the same manifest, so a lost
    manifest replays from history exactly, the catalog entry moves to
    the recovered generation and the bucket layout survives."""
    from snappydata_spark.plans import exchange_count

    snappy.create_table(
        "rc_b",
        options={"key_columns": "k", "partition_by": "k", "buckets": "4"},
        df=spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 41)], "k long, v string"
        ),
    )
    snappy.put("rc_b", spark.createDataFrame([(1, "updated")], "k long, v string"))
    before = _vals(snappy, "rc_b")
    os.remove(snappy._manifest_path("rc_b"))
    rep = snappy.sql("CALL SYS.RECOVER_TABLE('rc_b')").collect()[0]
    assert rep.mode.startswith("history:")
    assert _vals(snappy, "rc_b") == before and before[1] == "updated"
    assert exchange_count(snappy.table("rc_b").groupBy("k").count()) == 0
    snappy.put("rc_b", spark.createDataFrame([(2, "post")], "k long, v string"))
    assert _vals(snappy, "rc_b")[2] == "post"
