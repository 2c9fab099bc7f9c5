"""Bucketed tables share the manifest protocol: their files live in the
table's own data dir, every write is one manifest generation, and the
Spark-catalog entry that carries the bucketing spec points at
gens/gen-N, a directory of hard links to generation N's live files.  So
they get time travel, DESCRIBE HISTORY, VACUUM, the tombstone grace
window and write claims, and they survive a process restart."""

import json
import os

import pytest
from pyspark.sql import functions as F

from snappydata_spark import SnappySession
from snappydata_spark.plans import exchange_count

BUCKETED = {"key_columns": "k", "partition_by": "k", "buckets": "4"}


def _mk(sn, name, n=40):
    sn.create_table(
        name,
        options=dict(BUCKETED),
        df=sn.spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k long, v string"
        ),
    )
    return name


def _vals(df):
    return {r.k: r.v for r in df.collect()}


def _put(sn, name, k, v):
    sn.put(name, sn.spark.createDataFrame([(k, v)], "k long, v string"))


def test_time_travel_history_and_vacuum(snappy):
    _mk(snappy, "bt_tt")
    _put(snappy, "bt_tt", 1, "one")
    snappy.sql("DELETE FROM bt_tt WHERE k = 2")
    hist = snappy.sql("DESCRIBE HISTORY bt_tt").collect()
    gens = [r.gen for r in hist]
    assert len(gens) == 3 and gens == sorted(gens)
    first = _vals(snappy.table_version("bt_tt", gens[0]))
    assert first[1] == "v1" and 2 in first and len(first) == 40
    mid = _vals(snappy.sql(f"SELECT * FROM bt_tt VERSION AS OF {gens[1]}"))
    assert mid[1] == "one" and 2 in mid
    cur = _vals(snappy.table("bt_tt"))
    assert cur[1] == "one" and 2 not in cur and len(cur) == 39

    removed = snappy.vacuum("bt_tt")
    assert removed >= 1
    assert [h["gen"] for h in snappy.table_history("bt_tt")] == [gens[-1] + 1]
    with pytest.raises(ValueError):
        snappy.table_version("bt_tt", gens[0])
    # only the live generation's link directory is left
    assert os.listdir(snappy._gens_dir("bt_tt")) == [f"gen-{gens[-1] + 1}"]
    assert _vals(snappy.table("bt_tt")) == cur
    assert exchange_count(snappy.table("bt_tt").groupBy("k").count()) == 0


def test_restart_registers_catalog_entry_from_manifest(snappy):
    """Dropping the catalog entry stands in for a new process: a fresh
    session reads the table, PUTs into it, and still plans the
    colocated join with no exchange."""
    spark = snappy.spark
    _mk(snappy, "bt_o")
    snappy.create_table(
        "bt_l",
        options={"partition_by": "lk", "buckets": "4", "colocate_with": "bt_o"},
        df=spark.createDataFrame(
            [(i % 40, i) for i in range(120)], "lk long, q long"
        ),
    )
    for t in ("bt_o", "bt_l"):
        spark.sql(f"DROP TABLE {snappy._cat_name(t)}")

    sn2 = SnappySession(spark, store_dir=snappy.catalog.base_dir)
    assert sn2.table("bt_o").count() == 40
    _put(sn2, "bt_o", 3, "three")
    _put(sn2, "bt_o", 100, "new")
    got = _vals(sn2.table("bt_o"))
    assert len(got) == 41 and got[3] == "three" and got[100] == "new"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sn2.table("bt_l").join(sn2.table("bt_o"), F.col("lk") == F.col("k"))
        assert exchange_count(j) == 0
        assert j.count() == 120
        j = sn2.sql("SELECT v, SUM(q) FROM bt_l JOIN bt_o ON lk = k GROUP BY v")
        assert exchange_count(j) <= 1  # the aggregate's own, none for the join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the session that lost its entry recovers it on its next read
    assert snappy.table("bt_o").count() == 41
    sn2.drop_table("bt_l")
    sn2.drop_table("bt_o")


def test_reader_survives_grace_minus_one_mutations(snappy):
    """A reader that resolved generation N completes its scan after
    _TOMBSTONE_GRACE - 1 further mutations, although every one of
    them rewrote the bucket holding k = 1."""
    _mk(snappy, "bt_r")
    pinned = snappy.table("bt_r")
    for i in range(snappy._TOMBSTONE_GRACE - 1):
        _put(snappy, "bt_r", 1, f"w{i}")
    got = _vals(pinned)
    assert len(got) == 40 and got[1] == "v1"
    assert _vals(snappy.table("bt_r"))[1] == f"w{snappy._TOMBSTONE_GRACE - 2}"


def test_readers_across_sessions_never_go_back(snappy):
    """Readers in their own sessions race a writer for the one shared
    catalog entry: every scan sees the whole table, and the value each
    reader sees for k = 1 never moves back to an older generation."""
    import sys
    import threading

    _mk(snappy, "bt_m")
    readers = [
        SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
        for _ in range(5)
    ]
    seen = [[] for _ in readers]
    errors = []
    stop = threading.Event()

    def read(i):
        while not stop.is_set():
            try:
                rows = readers[i].table("bt_m").collect()
                assert len(rows) == 40
                seen[i].append(next(r.v for r in rows if r.k == 1))
            except Exception as e:  # noqa: BLE001 — the test asserts none
                errors.append(e)
                return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=read, args=(i,)) for i in range(5)]
    try:
        for t in threads:
            t.start()
        for i in range(6):
            _put(snappy, "bt_m", 1, f"w{i}")
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert all(s == sorted(s) for s in seen), seen
    assert all(v == "w5" for v in (_vals(r.table("bt_m"))[1] for r in readers))


def test_bucketed_writers_take_claims(snappy):
    """Disjoint keyed writers on a bucketed table run under file claims
    like any other table: both commit and no update is lost."""
    import threading

    _mk(snappy, "bt_c")
    sessions = [
        SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
        for _ in range(2)
    ]
    downgraded = []
    real = type(snappy)._scope_gate

    def gate(self, meta, files, key_source=None):
        real(self, meta, files, key_source)
        downgraded.append(self._current_write_scope().downgraded)

    type(snappy)._scope_gate = gate
    errors = []

    def writer(sn, k):
        try:
            _put(sn, "bt_c", k, f"t{k}")
        except Exception as e:  # noqa: BLE001 — the test asserts none
            errors.append(e)

    try:
        threads = [
            threading.Thread(target=writer, args=(sn, k))
            for sn, k in zip(sessions, (5, 6))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        type(snappy)._scope_gate = real
    assert not errors
    assert downgraded == [True, True]
    got = _vals(snappy.table("bt_c"))
    assert len(got) == 40 and got[5] == "t5" and got[6] == "t6"


def test_restore_backup_of_earlier_layout(snappy, tmp_path):
    """A backup written before bucketed tables shared the manifest keeps
    their files under warehouse/<t> (backup.json marks them `bucketed`)
    and has no manifest for them: restore commits those files as the
    table's first manifest generation."""
    spark = snappy.spark
    src = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id int, grp int, amt double"
    )
    # the earlier layout: meta + empty data dir under store/<t>, the
    # bucketed files under warehouse/<t>
    bdir = tmp_path / "2026-01-01-00-00-00"
    tdir = bdir / "store" / "old_b"
    (tdir / "data").mkdir(parents=True)
    meta = {
        "name": "old_b", "provider": "column", "key_columns": ["id"],
        "partition_by": ["grp"], "buckets": 4, "colocate_with": "",
        "replicate": False, "options": {"bucket_gen": 1},
    }
    (tdir / "_snappy_meta.json").write_text(json.dumps(meta))
    wdir = str(bdir / "warehouse" / "old_b")
    src.repartition(4, "grp").write.bucketBy(4, "grp").sortBy("grp").option(
        "path", wdir
    ).saveAsTable("old_b_layout")
    spark.sql("DROP TABLE old_b_layout")
    desc = {"created": "2026-01-01-00-00-00", "tables": {"old_b": {
        "bucketed": True, "buckets": 4, "partition_by": ["grp"],
        "schema_ddl": "`id` int, `grp` int, `amt` double",
    }}}
    (bdir / "backup.json").write_text(json.dumps(desc))

    assert snappy.restore_store(str(bdir)) == 1
    m = snappy._load_manifest("old_b")
    assert m["gen"] == 1 and len(m["files"]) >= 1
    got = {(r.id, r.grp, r.amt) for r in snappy.table("old_b").collect()}
    assert got == {(r.id, r.grp, r.amt) for r in src.collect()}
    assert exchange_count(snappy.table("old_b").groupBy("grp").count()) == 0
    snappy.sql("UPDATE old_b SET amt = -1.0 WHERE id = 4")
    assert snappy.table("old_b").filter("id = 4").collect()[0].amt == -1.0
    assert snappy.table("old_b").count() == 30
    snappy.drop_table("old_b")
