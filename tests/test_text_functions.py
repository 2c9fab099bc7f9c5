"""Edge cases for the text/vector expression builders (the oracle queries
cover the happy path at corpus scale; these cover the corners)."""

import math

import pytest
from pyspark.sql import functions as F

from snappydata_spark import dedup
from snappydata_spark.functions import text as T
from snappydata_spark.functions import vector as V


def _one(spark, text):
    return spark.createDataFrame([(text,)], "text string")


def test_short_doc_has_empty_shingles(spark):
    r = _one(spark, "a b").select(T.shingles(F.col("text"), 3).alias("sh")).collect()[0]
    assert r.sh == []


def test_shingles_overlap(spark):
    r = _one(spark, "a b c d").select(T.shingles(F.col("text"), 3).alias("sh")).collect()[0]
    assert r.sh == ["a b c", "b c d"]


def test_minhash_stable_under_duplication(spark):
    # minhash is a set signature: both texts have the shingle set
    # {x y z, y z x, z x y}, so repeating it changes nothing
    df = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "x y z x y z x y z")], "id int, text string"
    )
    rows = dedup._band_rows(df, "text", "id", 16, 4, 3).collect()
    digests = {r.id: r.sig_digest for r in rows}
    assert set(digests) == {1, 2}
    assert digests[1] == digests[2]


def test_band_rows_match_per_hash_reference(spark):
    """_band_rows' one-pass numpy signature against the per-hash
    definition in plain Python integers."""
    import hashlib

    text = "the quick brown fox jumps over the lazy dog and then some more"
    toks = text.split()
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    hs = [int(hashlib.md5(("mh~" + s).encode()).hexdigest()[:8], 16) for s in shingles]
    sig = [
        min((h * (2 * i + 1) + 12582917 * i + 1) % 2147483647 for h in hs)
        for i in range(16)
    ]

    def md5(vals):
        return hashlib.md5(",".join(str(v) for v in vals).encode()).hexdigest()

    df = spark.createDataFrame([(1, text)], "id int, text string")
    got = {
        r.band: (r.band_hash, r.sig_digest)
        for r in dedup._band_rows(df, "text", "id", 16, 4, 3).collect()
    }
    assert got == {b: (md5(sig[4 * b : 4 * b + 4]), md5(sig)) for b in range(4)}


def test_tokenizers_split_on_every_java_whitespace(spark):
    """Spark tokens(), the DuckDB oracle's TOKENS_SQL and the featurizer's
    _ascii_tokens split alike on vertical tab, form feed and CR."""
    import duckdb

    text = "a\x0bb\x0cc\rd e\tf\ng \x0b"
    spark_toks = _one(spark, text).select(T.tokens(F.col("text")).alias("t")).first().t
    duck_toks = duckdb.execute(
        f"SELECT {T.TOKENS_SQL} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()[0]
    assert spark_toks == duck_toks == dedup._ascii_tokens(text) == list("abcdefg")


def test_simhash_near_for_near_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, base), (2, base + " zzz")], "id int, text string")
    sh = {r.id: r.sh for r in dedup._simhash_frame(df, "text", "id").collect()}
    ham = bin(sh[1] ^ sh[2]).count("1")
    assert ham <= 8  # one extra token flips few bits


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world ")], "id int, text string"
    )
    fps = [r.fp for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("le chat et la souris",), ("der hund und die katze",)],
        "text string",
    )
    out = [r.g for r in df.select(T.lang_id(F.col("text")).alias("g")).collect()]
    assert out == ["en", "fr", "de"]


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a array<float>, b array<float>"
    )
    out = [r.c for r in df.select(V.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.0)


def test_l2_distance(spark):
    df = spark.createDataFrame([([0.0, 3.0], [4.0, 0.0])], "a array<float>, b array<float>")
    r = df.select(V.l2_distance(F.col("a"), F.col("b")).alias("d")).collect()[0]
    assert r.d == pytest.approx(5.0)


def test_quality_score_bounded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(T.quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_connected_components_chain(spark):
    """A long chain has diameter >> 1: min-label must propagate end to
    end, not just one hop."""
    from snappydata_spark import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 20)],
        "doc1 bigint, doc2 bigint",
    )
    labels = {r.node: r.cluster for r in dedup.connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_keep_one_per_cluster(spark):
    from snappydata_spark import dedup

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 7)], "doc_id bigint, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc1 bigint, doc2 bigint")
    clusters = dedup.connected_components(pairs)
    kept = sorted(r.doc_id for r in dedup.keep_one_per_cluster(docs, clusters).collect())
    # clusters {1,2,3} keep 1; {5,6} keep 5; 4 untouched
    assert kept == [1, 4, 5]


def test_empty_text_zero_tokens_zero_quality(spark):
    """Empty / whitespace-only text must score 0 tokens (a bare split
    yields [''] = 1 token, letting junk rows out-score real short docs)."""
    from snappydata_spark.functions import text as T
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("",), ("   ",), ("one two",)], "text string"
    ).select(
        T.token_count(F.col("text")).alias("n"),
    )
    assert [r.n for r in df.collect()] == [0, 0, 2]
