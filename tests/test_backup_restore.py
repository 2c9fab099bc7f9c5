"""Store backup/restore (command_line_utilities/store-backup.md): a
consistent online snapshot of the managed-table store — per-table
manifest-pinned copy under the mutation lock — and a restore that
rebuilds a working store, including a bucketed table (catalog
re-registration with the bucketing spec) and a minhash-indexed table
(index serves from the restored band table without a rebuild)."""

import pytest
from pyspark.sql import Row, functions as F

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow


@pytest.fixture()
def populated(snappy, spark):
    sn = snappy
    # plain keyed table
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k int, v string"
    )
    sn.create_table("bk_plain", options={"key_columns": "k"}, df=df)
    # bucketed table (partition_by + buckets -> real bucketed layout)
    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id int, grp int, amt double",
    )
    sn.create_table(
        "bk_fact",
        options={"key_columns": "id", "partition_by": "grp", "buckets": 4},
        df=fact,
    )
    # minhash-indexed table
    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base * 3), Row(doc_id=2, text=(base * 3) + " zzz"),
         Row(doc_id=3, text="entirely different content about storage "
                            "engines and columnar formats " * 2)]
    )
    sn.create_table("bk_docs", options={"key_columns": "doc_id"}, df=docs)
    sn.sql("CREATE INDEX bk_mh ON bk_docs(text) USING minhash")
    return sn


def test_backup_mutate_restore_roundtrip(populated, spark, tmp_path):
    from snappydata_spark import index_minhash

    sn = populated
    snap_plain = {(r.k, r.v) for r in sn.table("bk_plain").collect()}
    snap_fact = {(r.id, r.amt) for r in sn.table("bk_fact").collect()}
    snap_pairs = {
        (r.doc1, r.doc2)
        for r in index_minhash.candidate_pairs(sn, "bk_mh").collect()
    }
    assert snap_pairs  # 1-2 are near dups

    out = sn.sql(f"CALL SYS.BACKUP_STORE('{tmp_path}/bk')").collect()[0]
    assert out.tables >= 4  # three bases + index band table(s)
    bdir = out.backup_path

    # mutate everything after the snapshot
    sn.sql("UPDATE bk_plain SET v = 'mutated' WHERE k < 5")
    sn.sql("DELETE FROM bk_plain WHERE k >= 8")
    sn.sql("UPDATE bk_fact SET amt = 0.0 WHERE grp = 1")
    sn.sql("DELETE FROM bk_docs WHERE doc_id = 2")
    assert {(r.k, r.v) for r in sn.table("bk_plain").collect()} != snap_plain

    restored = sn.sql(f"CALL SYS.RESTORE_STORE('{bdir}')").collect()[0]
    assert restored.tables == out.tables

    assert {(r.k, r.v) for r in sn.table("bk_plain").collect()} == snap_plain
    assert {(r.id, r.amt) for r in sn.table("bk_fact").collect()} == snap_fact
    # the restored index serves WITHOUT a rebuild and sees doc 2 again
    assert {
        (r.doc1, r.doc2)
        for r in index_minhash.candidate_pairs(sn, "bk_mh").collect()
    } == snap_pairs


def test_restored_bucketed_table_keeps_bucketing(populated, spark, tmp_path):
    """The restored bucketed table must re-register with its bucketing
    spec so the colocated-join exchange elision survives: a group-by on
    the bucket key plans without an Exchange on the scan side."""
    sn = populated
    bdir = sn.backup_store(f"{tmp_path}/bk2")
    sn.sql("DELETE FROM bk_fact WHERE grp = 2")
    sn.restore_store(bdir)
    assert sn.table("bk_fact").count() == 30
    # catalog-registered with buckets: the physical plan for a bucket-key
    # aggregate over the table has no shuffle exchange
    plan = (
        sn.table("bk_fact").groupBy("grp").agg(F.sum("amt"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    # and mutations keep working after restore (next manifest generation)
    sn.sql("UPDATE bk_fact SET amt = -1.0 WHERE id = 0")
    assert sn.table("bk_fact").filter("id = 0").collect()[0].amt == -1.0


def test_backup_skips_tombstones_and_orphans(populated, tmp_path):
    """Manifest-pinned copy: files tombstoned by earlier mutations (still
    on disk inside the grace window) must not be copied — the backup is
    exactly the live generation."""
    import json
    import os

    sn = populated
    # force tombstones: a few mutations leave dead files in data/
    sn.sql("UPDATE bk_plain SET v = 'x1' WHERE k = 1")
    sn.sql("UPDATE bk_plain SET v = 'x2' WHERE k = 2")
    live = set(sn._load_manifest("bk_plain")["files"])
    on_disk = set(sn._list_data_files("bk_plain"))
    assert on_disk - live  # tombstoned files exist on disk
    bdir = sn.backup_store(f"{tmp_path}/bk3")
    backed = set(os.listdir(os.path.join(bdir, "store", "bk_plain", "data")))
    assert backed == live
    m = json.load(open(os.path.join(bdir, "store", "bk_plain", "manifest.json")))
    assert m["tombstones"] == []


def test_restore_drops_tables_created_after_backup(snappy, spark, tmp_path):
    """r10 advice: restore is WHOLESALE (store-backup.md copies the
    snapshot back verbatim) — a table created after the backup must not
    survive restore with no registry entry behind it."""
    snappy.create_table(
        "br_old",
        options={"key_columns": "k"},
        df=spark.createDataFrame([(1, 10)], "k long, v long"),
    )
    bdir = snappy.backup_store(str(tmp_path))
    snappy.create_table(
        "br_new",
        options={"key_columns": "k"},
        df=spark.createDataFrame([(2, 20)], "k long, v long"),
    )
    assert "br_new" in snappy.catalog.list_tables()
    snappy.restore_store(bdir)
    assert "br_old" in snappy.catalog.list_tables()
    assert "br_new" not in snappy.catalog.list_tables()
    assert snappy.table("br_old").count() == 1
