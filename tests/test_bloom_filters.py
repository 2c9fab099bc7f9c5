"""Parquet bloom filters on KEY_COLUMNS (the row-table primary-key
index analogue): every data-file write path must carry the per-column
bloom option so keyed point lookups can skip row groups at scale, and
the property must not decay through mutations.

Observability: this pyarrow build doesn't expose bloom offsets in
ColumnChunkMetaData, so the tests assert the observable contract —
enabling the option grows the written footprint by the bloom bytes
(same data, same codec), and every read path stays correct.
"""

import glob
import os

from pyspark.sql import functions as F


def _data_bytes(sn, table):
    root = sn.catalog.data_path(table)
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def _mk(spark, n=20_000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )


def test_keyed_table_files_carry_bloom_bytes(spark, snappy):
    df = _mk(spark)
    snappy.create_table("bloomed", options={"key_columns": "k"}, df=df)
    snappy.create_table("plain", options={}, df=df)
    keyed = _data_bytes(snappy, "bloomed")
    plain = _data_bytes(snappy, "plain")
    # same rows, same codec — the delta is the bloom filter bytes
    assert keyed > plain
    # point lookup stays correct through the managed read path
    assert (
        snappy.sql("SELECT v FROM bloomed WHERE k = 12345").collect()[0].v
        == 12345 % 97
    )


def test_bloom_survives_put_and_update(spark, snappy):
    snappy.create_table("bloomkeep", options={"key_columns": "k"}, df=_mk(spark))
    root = snappy.catalog.data_path("bloomkeep")

    def _files():
        return set(
            glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        )

    before_files = _files()
    src = spark.range(5).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("upd").alias("payload")
    )
    snappy.put("bloomkeep", src)
    snappy.sql("UPDATE bloomkeep SET v = -2 WHERE k = 17")
    # The decisive check: take exactly the files the mutation path wrote
    # and compare them against bloom-ON / bloom-OFF control rewrites of
    # the SAME data through the same writer — if the PUT/UPDATE write
    # path silently dropped the bloom options, the rewritten bytes land
    # at the bloom-OFF control size instead of the bloom-ON one.  (The
    # old `total >= 95% of before` bound could not catch that: blooms
    # on the few rewritten files are a tiny share of total footprint.)
    rewritten = _files() - before_files
    assert rewritten, "mutations should have produced new data files"
    rewritten_bytes = sum(os.path.getsize(p) for p in rewritten)
    content = spark.read.parquet(*sorted(rewritten)).orderBy("k")
    import tempfile

    ctl = tempfile.mkdtemp(prefix="bloomctl_")
    off = os.path.join(ctl, "off")
    content.coalesce(1).write.mode("overwrite").parquet(off)

    def _sz(d):
        return sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(d, "*.parquet"))
        )

    # The rewritten files must exceed a bloom-OFF rewrite of the same
    # rows by at least half of one bloom filter (~1 MB at parquet-mr's
    # default NDV).  If the PUT/UPDATE write path silently dropped the
    # bloom option, rewritten bytes collapse to data + per-file footer
    # overhead (tens of KB here) and this fails.  (A bloom-ON control
    # write is not a reliable yardstick: parquet-mr conditionally skips
    # blooms for fully dictionary-encoded chunks, so replicating the
    # engine's exact emission needs the engine's exact row layout.)
    assert rewritten_bytes >= _sz(off) + 500_000
    got = {r.k: r.v for r in snappy.sql(
        "SELECT k, v FROM bloomkeep WHERE k IN (0, 1, 17, 9999)"
    ).collect()}
    assert got[0] == -1 and got[1] == -1 and got[17] == -2 and got[9999] == 9999 % 97


def test_bucketed_keyed_table_carries_bloom(spark, snappy):
    df = _mk(spark, 10_000)
    snappy.create_table(
        "bloombkt",
        options={"partition_by": "k", "buckets": 4, "key_columns": "k"},
        df=df,
    )
    snappy.create_table(
        "plainbkt", options={"partition_by": "k", "buckets": 4}, df=df
    )

    def _cat_bytes(sn, table):
        return sum(os.path.getsize(p) for p in sn._live_files(table))

    assert _cat_bytes(snappy, "bloombkt") > _cat_bytes(snappy, "plainbkt")
    assert (
        snappy.sql("SELECT v FROM bloombkt WHERE k = 777").collect()[0].v
        == 777 % 97
    )
