"""Manifest-based atomic mutation commits (round-2 verdict items #2/#3).

Every managed table, bucketed or not, commits every mutation as ONE
os.replace of manifest.json.  The crash windows that existed in the
eager-delete design are each simulated here:

  (a) crash after new files land in the data dir but BEFORE the manifest
      commit → orphans are invisible, reads see the pre-mutation state;
  (b) crash after the commit but BEFORE tombstone GC → old files are
      still on disk yet excluded from every read — no duplicates;
  (c) a concurrent reader mid-scan while a writer swaps files → the
      reader's pinned generation stays intact for _TOMBSTONE_GRACE
      further commits (reference analogue: store-transaction snapshot
      isolation, SnapshotConnectionListener.scala).
"""

import os
import shutil
import threading

import pytest
from pyspark.sql import Row


def _mk(snappy, name, n=100):
    df = snappy.spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(n)]
    ).repartition(4)
    snappy.create_table(name, options={"key_columns": "k"}, df=df)
    return name


def test_orphan_files_invisible_until_commit(snappy):
    """Crash window (a): a data file present in the dir but absent from
    the manifest must not be read — duplicates cannot appear from a
    half-finished mutation."""
    _mk(snappy, "mf_a")
    data = snappy.catalog.data_path("mf_a")
    live = snappy._live_files("mf_a")
    assert live, "manifest should list live files after create"
    # simulate: a mutation moved its new file in, then died pre-commit
    shutil.copy(live[0], os.path.join(data, "mut-dead-orphan.parquet"))
    assert snappy.table("mf_a").count() == 100  # orphan invisible
    assert snappy.sql("SELECT COUNT(*) AS c FROM mf_a").collect()[0].c == 100
    snappy.drop_table("mf_a")


def test_commit_failure_leaves_old_state(snappy, monkeypatch):
    """Crash window (a), end-to-end: kill the mutation right before its
    manifest commit — the table must read back exactly the pre-mutation
    rows (no loss, no duplicates, no partial update)."""
    _mk(snappy, "mf_b")
    before = sorted((r.k, r.v) for r in snappy.table("mf_b").collect())

    real_commit = snappy._manifest_commit

    def dying_commit(*a, **kw):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(snappy, "_manifest_commit", dying_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        snappy.sql("UPDATE mf_b SET v = -1 WHERE k < 50")
    monkeypatch.setattr(snappy, "_manifest_commit", real_commit)

    after = sorted((r.k, r.v) for r in snappy.table("mf_b").collect())
    assert after == before
    # and the table is not wedged: the same mutation now succeeds
    snappy.sql("UPDATE mf_b SET v = -1 WHERE k < 50")
    assert snappy.table("mf_b").filter("v = -1").count() == 50
    assert snappy.table("mf_b").count() == 100
    snappy.drop_table("mf_b")


def test_tombstones_excluded_and_gc(snappy):
    """Crash window (b): after a committed mutation the replaced files
    are still on disk (grace) yet no read includes them; vacuum removes
    them physically."""
    _mk(snappy, "mf_c")
    n_files_before = len(snappy._live_files("mf_c"))
    snappy.sql("UPDATE mf_c SET v = -1 WHERE k = 7")
    m = snappy._load_manifest("mf_c")
    assert m["tombstones"], "replaced file should be tombstoned, not unlinked"
    data = snappy.catalog.data_path("mf_c")
    for t in m["tombstones"]:
        assert os.path.exists(os.path.join(data, t["file"]))
    # no duplicates through SQL or API reads
    assert snappy.table("mf_c").count() == 100
    assert snappy.table("mf_c").filter("k = 7").count() == 1
    removed = snappy.vacuum("mf_c")
    assert removed == len(m["tombstones"])
    assert snappy.table("mf_c").count() == 100
    assert len(snappy._live_files("mf_c")) >= 1
    assert n_files_before >= 1
    snappy.drop_table("mf_c")


def test_truncate_is_manifest_only(snappy):
    """TRUNCATE commits live = ∅ with the schema retained: reads return
    an empty frame (not an error), inserts work afterwards, and the old
    files stay on disk until GC."""
    _mk(snappy, "mf_d")
    snappy.sql("TRUNCATE TABLE mf_d")
    assert snappy.table("mf_d").count() == 0
    assert [f.name for f in snappy.table("mf_d").schema.fields] == ["k", "v"]
    snappy.sql("INSERT INTO mf_d VALUES (1, 1.0)")
    assert snappy.table("mf_d").count() == 1
    snappy.drop_table("mf_d")


def test_reader_writer_isolation_threaded(snappy):
    """Concurrent scans during a mutation loop: every read succeeds and
    every count equals the (constant) row count — a reader never sees a
    half-swapped table.  Exercises the manifest-pinned file list + the
    tombstone grace window under real thread interleaving."""
    _mk(snappy, "mf_e", n=2000)
    errors: list[Exception] = []
    counts: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(snappy.table("mf_e").count())
            except Exception as e:  # noqa: BLE001 — the test asserts none
                errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(12):
            snappy.sql(f"UPDATE mf_e SET v = {float(i)} WHERE k % 7 = {i % 7}")
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)

    assert not errors, f"reader failed during mutation: {errors[:3]}"
    assert counts, "readers never completed a scan"
    assert set(counts) == {2000}, f"inconsistent counts seen: {set(counts)}"
    # UPDATE must not change cardinality, and the last writes are visible
    assert snappy.table("mf_e").count() == 2000
    snappy.drop_table("mf_e")


def test_pre_manifest_table_first_mutation_no_duplicates(snappy):
    """Upgrade path: a table persisted BEFORE the manifest feature (no
    manifest file on disk) gets its first mutation — the seeding commit
    must not record the just-staged files twice (a duplicated path in
    spark.read.parquet double-reads it, silently duplicating rows)."""
    _mk(snappy, "pm_t", n=50)
    # simulate the pre-manifest state: drop the manifest, keep the data
    os.remove(snappy._manifest_path("pm_t"))
    assert snappy._load_manifest("pm_t") is None

    extra = snappy.spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(50, 60)]
    )
    snappy.insert("pm_t", extra)
    assert snappy.table("pm_t").count() == 60
    m = snappy._load_manifest("pm_t")
    assert len(m["files"]) == len(set(m["files"]))

    # and the same through the pruned-PUT path on another fresh table
    _mk(snappy, "pm_u", n=50)
    os.remove(snappy._manifest_path("pm_u"))
    src = snappy.spark.createDataFrame([(5, 555.0)], "k bigint, v double")
    snappy.put("pm_u", src)
    assert snappy.table("pm_u").count() == 50
    assert snappy.table("pm_u").filter("k = 5").collect()[0].v == 555.0
    m = snappy._load_manifest("pm_u")
    assert len(m["files"]) == len(set(m["files"]))
    snappy.drop_table("pm_t")
    snappy.drop_table("pm_u")


def _crash_before_publish(sn):
    """Make the next manifest publication of `sn` die before its commit
    point (the staged files are already in the data dir)."""

    def boom(*a, **k):
        raise RuntimeError("injected crash before publish")

    sn._publish_generation = boom
    return lambda: sn.__dict__.pop("_publish_generation")


def _bucketed_orders(snappy, sf_dir, name):
    base = snappy.spark.read.parquet(f"{sf_dir}/orders.parquet").limit(40)
    snappy.create_table(
        name,
        options={"key_columns": "o_orderkey", "partition_by": "o_orderkey",
                 "buckets": 4},
        df=base,
    )
    return base.select("o_orderkey").collect()[0].o_orderkey


def _rows(sn, name):
    return sorted(tuple(r) for r in sn.table(name).collect())


def test_bucketed_overwrite_is_generation_swapped(snappy, sf_dir):
    """A bucketed overwrite is one new manifest generation: its files are
    staged first, then the manifest flips (atomic rename).  A crash
    between the two leaves the old generation fully live."""
    import pytest as _pt
    from pyspark.sql import functions as F

    key = _bucketed_orders(snappy, sf_dir, "bg_t")
    before = _rows(snappy, "bg_t")

    restore = _crash_before_publish(snappy)
    with _pt.raises(RuntimeError, match="injected crash"):
        snappy.sql(
            f"INSERT OVERWRITE bg_t SELECT * FROM bg_t WHERE o_orderkey <> {key}"
        )
    restore()

    # a FRESH session over the store still serves the OLD generation in full
    from snappydata_spark import SnappySession

    sn2 = SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
    assert _rows(sn2, "bg_t") == before

    # redo without the crash: mutation lands with no duplicate row
    sn2.sql(
        f"INSERT OVERWRITE bg_t SELECT * FROM bg_t WHERE o_orderkey <> {key}"
    )
    after = _rows(sn2, "bg_t")
    assert len(after) == len(before) - 1 == len(set(after))
    assert sn2.table("bg_t").filter(F.col("o_orderkey") == key).count() == 0
    snappy.drop_table("bg_t")


def test_bucketed_pruned_mutation_crash_is_atomic(snappy, sf_dir):
    """A pruned bucketed mutation (stage the rewritten bucket files, then
    commit adds + removals in one manifest generation) is crash-exact: a
    crash before the commit leaves exactly the pre-mutation rows, and
    the redo lands with no duplicate row."""
    from snappydata_spark import SnappySession
    from pyspark.sql import functions as F

    key = _bucketed_orders(snappy, sf_dir, "bj_t")
    before = _rows(snappy, "bj_t")

    restore = _crash_before_publish(snappy)
    try:
        snappy.sql(f"UPDATE bj_t SET o_totalprice = 1.5 WHERE o_orderkey = {key}")
    except RuntimeError:
        pass
    finally:
        restore()

    sn2 = SnappySession(snappy.spark, store_dir=snappy.catalog.base_dir)
    assert _rows(sn2, "bj_t") == before

    sn2.sql(f"UPDATE bj_t SET o_totalprice = 1.5 WHERE o_orderkey = {key}")
    after = _rows(sn2, "bj_t")
    assert len(after) == len(before)
    assert sn2.table("bj_t").select("o_orderkey").distinct().count() == len(before)
    got = sn2.table("bj_t").filter(F.col("o_orderkey") == key).collect()
    assert len(got) == 1 and got[0].o_totalprice == 1.5
    snappy.drop_table("bj_t")
