"""The staging writer's bucket layout and write shape.

Bucketed tables stage by shuffling on their bucket id, so every row
of a bucket lands in one write task whatever the shuffle partition
count.  The session here runs 3 shuffle partitions against 8 buckets, a
count that does not divide the bucket count: a shuffle on the key
columns would split buckets across tasks and give a bucket two files."""

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from snappydata_spark import SnappySession
from snappydata_spark.session.storage import _bucket_labels
from tools.fuzz_mutations import _misplaced_rows

BUCKETS = 8
OPTS = {"key_columns": "k", "partition_by": "k", "buckets": str(BUCKETS)}


@pytest.fixture()
def sn3(spark, tmp_path):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        yield SnappySession(spark, store_dir=str(tmp_path / "store"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _rows(sn, keys, tag="v"):
    return sn.spark.createDataFrame(
        [(k, f"{tag}{k}") for k in keys], "k long, v string"
    )


def _files_by_bucket(sn, name):
    """Live files of `name` by the bucket id in their name, after
    checking that every row of every live file hashes to that bucket."""
    assert not _misplaced_rows(sn, name, OPTS)
    by_bucket: dict[int, list[str]] = {}
    for f in sn._load_manifest(name)["files"]:
        b = int(re.search(r"_(\d{5})\.", f).group(1))
        by_bucket.setdefault(b, []).append(f)
    return by_bucket


def _one_file_per_bucket(sn, name):
    by_bucket = _files_by_bucket(sn, name)
    assert all(len(fs) == 1 for fs in by_bucket.values()), by_bucket


def test_layout_holds_through_writes_and_compaction(sn3):
    sn3.create_table("bl", options=dict(OPTS), df=_rows(sn3, range(200)))
    assert len(_files_by_bucket(sn3, "bl")) == BUCKETS
    _one_file_per_bucket(sn3, "bl")
    model = {k: f"v{k}" for k in range(200)}

    sn3.put("bl", _rows(sn3, [3, 500], tag="p"))
    model.update({3: "p3", 500: "p500"})
    _one_file_per_bucket(sn3, "bl")

    sn3.sql("UPDATE bl SET v = 'u' WHERE k < 20")
    model.update({k: "u" for k in range(20)})
    _one_file_per_bucket(sn3, "bl")

    sn3.sql("DELETE FROM bl WHERE k % 3 = 0")
    model = {k: v for k, v in model.items() if k % 3}
    _one_file_per_bucket(sn3, "bl")

    # an append adds a second file to the buckets it touches
    sn3.insert("bl", _rows(sn3, range(1000, 1050)))
    model.update({k: f"v{k}" for k in range(1000, 1050)})
    assert max(len(fs) for fs in _files_by_bucket(sn3, "bl").values()) == 2

    sn3.sql("COMPACT TABLE bl")
    _one_file_per_bucket(sn3, "bl")
    assert {r.k: r.v for r in sn3.table("bl").collect()} == model


def test_keyed_write_runs_one_task_per_touched_bucket_group(sn3):
    """A 2-key PUT's write stage (the last stage of its last job) runs
    on the buckets it touches, not on every declared bucket."""
    sn3.create_table("bt", options=dict(OPTS), df=_rows(sn3, range(200)))
    keys = [1, 2]
    ids = {
        r.b
        for r in _rows(sn3, keys)
        .select(F.expr(f"pmod(hash(k), {BUCKETS})").alias("b"))
        .collect()
    }
    assert len(ids) == 2
    sc = sn3.spark.sparkContext
    tracker = sc.statusTracker()
    group = "bucket-layout-put"
    sc.setJobGroup(group, group)
    try:
        sn3.put("bt", _rows(sn3, keys, tag="p"))
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    last = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    write_stage = tracker.getStageInfo(max(last.stageIds))
    assert 1 <= write_stage.numTasks <= 2, write_stage
    assert sorted(_files_by_bucket(sn3, "bt")) == list(range(BUCKETS))
    _one_file_per_bucket(sn3, "bt")


def _jobs(sn, sql):
    """Spark jobs `sql` runs, counted through a job group."""
    sc = sn.spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sn.sql(sql)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_keyed_writes_run_in_few_jobs(sn3, monkeypatch):
    """With AQE on, a 2-key PUT takes its bucket ids from the VALUES
    batch (no job) and writes in at most 4 jobs; an UPDATE or DELETE
    whose predicate fixes the bucket column takes its files from the
    planner's bucket set, never scanning for them, and writes in at
    most 2.  One that matches no row commits nothing and leaves no
    file behind."""
    assert sn3.spark.conf.get("spark.sql.adaptive.enabled") == "true"
    sn3.create_table("kj", options=dict(OPTS), df=_rows(sn3, range(200)))
    model = {k: f"v{k}" for k in range(200)}
    sn3.sql("PUT INTO kj VALUES (1, 'w1'), (2, 'w2')")  # warm-up
    model.update({1: "w1", 2: "w2"})

    def _boom(*a, **k):
        raise AssertionError("key-fixed mutation scanned for its files")

    monkeypatch.setattr(sn3, "_affected_files", _boom)
    assert _jobs(sn3, "PUT INTO kj VALUES (3, 'p3'), (500, 'p500')") <= 4
    model.update({3: "p3", 500: "p500"})
    assert _jobs(sn3, "UPDATE kj SET v = 'u' WHERE k IN (3, 4)") <= 2
    model.update({3: "u", 4: "u"})
    assert _jobs(sn3, "DELETE FROM kj WHERE k IN (5, 6)") <= 2
    del model[5], model[6]

    history = sn3.table_history("kj")
    data = sn3.catalog.data_path("kj")
    listing = sorted(os.listdir(data))
    # absent keys, in buckets that hold files: the rewrite runs and
    # observes no match
    sn3.sql("UPDATE kj SET v = 'x' WHERE k IN (900, 901)")
    sn3.sql("DELETE FROM kj WHERE k = 902")
    assert sn3.table_history("kj") == history
    assert sorted(os.listdir(data)) == listing
    assert {r.k: r.v for r in sn3.table("kj").collect()} == model
    _one_file_per_bucket(sn3, "kj")


def test_bucket_labels_spread_buckets_over_partitions(spark):
    """Spark's own hash sends the label of bucket b to partition
    b mod n, for partition counts below, at and above the bucket count."""
    rows = [
        (n, b, v)
        for n in (1, 3, 4, 8, 200)
        for b, v in enumerate(_bucket_labels(BUCKETS, n))
    ]
    got = (
        spark.createDataFrame(rows, "n int, b int, v int")
        .select("n", "b", F.expr("pmod(hash(v), n)").alias("p"))
        .collect()
    )
    assert len(got) == len(rows)
    assert all(r.p == r.b % r.n for r in got), got


@pytest.mark.parametrize(
    "opts", [{"key_columns": "k"}, OPTS], ids=["plain", "bucketed"]
)
def test_failed_write_leaves_no_staging(snappy, opts):
    spark = snappy.spark
    snappy.create_table("fw", options=dict(opts), df=_rows(snappy, range(40)))
    root = snappy.catalog.table_path("fw")

    def state():
        tree = sorted(
            os.path.relpath(os.path.join(d, n), root)
            for d, dirs, files in os.walk(root)
            for n in dirs + files
        )
        return tree, sorted(t.name for t in spark.catalog.listTables())

    before = state()
    # one row of four source partitions fails: the other tasks write
    bad = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 99, F.raise_error(F.lit("staging boom")))
        .otherwise(F.lit("x"))
        .cast("string")
        .alias("v"),
    )
    with pytest.raises(Exception, match="staging boom"):
        snappy.put("fw", bad)
    assert state() == before
    assert snappy.table("fw").count() == 40
