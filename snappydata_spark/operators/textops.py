"""Text-analysis operator queries over the documents table (SURVEY.md §7
M6: token counting, quality scoring, language-ID, fingerprinting).

All Spark-side logic is pure Catalyst expressions (functions/text.py); the
DuckDB oracles restate the identical arithmetic, so values hash-match
exactly (md5-derived hashes are byte-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from snappydata_spark.functions import text as T
from snappydata_spark.functions.text import TOKENS_SQL as _TOKS
from snappydata_spark.operators.registry import register
from snappydata_spark.tables import load_tables

_STOP = "('the', 'a', 'and', 'of', 'to', 'in')"


@register(
    "txt_token_metrics",
    oracle=f"""
WITH tok AS (SELECT doc_id, n_chars, {_TOKS} AS t FROM documents)
SELECT doc_id,
       len(t) AS token_count,
       ROUND(list_aggregate([length(x) for x in t], 'sum')::DOUBLE / len(t), 4)
           AS avg_token_len,
       ROUND(len([x for x in t if x in {_STOP}])::DOUBLE / len(t), 4)
           AS stopword_ratio,
       n_chars
FROM tok
""",
)
def txt_token_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — the token-counting stage of a
    training-data pipeline (whitespace tokenizer)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        T.token_count(F.col("text")).alias("token_count"),
        F.round(T.avg_token_len(F.col("text")), 4).alias("avg_token_len"),
        F.round(T.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        "n_chars",
    )


@register(
    "txt_quality_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
m AS (SELECT doc_id, lang,
             len(t)::DOUBLE AS tc,
             list_aggregate([length(x) for x in t], 'sum')::DOUBLE / len(t) AS atl,
             len([x for x in t if x in {_STOP}])::DOUBLE / len(t) AS swr
      FROM tok)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(0.4 * least(1.0, tc / 50.0)
                 + 0.3 * (1.0 - swr)
                 + 0.3 * least(1.0, atl / 6.0)), 4) AS avg_quality
FROM m GROUP BY lang
""",
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring aggregated per language — the cheap
    quality pre-filter stage."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select("lang", T.quality_score(F.col("text")).alias("q"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
    )


def _langid_oracle() -> str:
    votes = ", ".join(
        f"len([x for x in t if x in {tuple(m)}]) AS v_{lang}"
        for lang, m in T.LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"v_{lang}" for lang in T.LANG_MARKERS) + ")"
    whens = " ".join(
        f"WHEN v_{lang} = best AND best > 0 THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    return f"""
WITH tok AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
v AS (SELECT doc_id, lang, {votes} FROM tok),
g AS (SELECT doc_id, lang,
             CASE {whens} ELSE 'und' END AS lang_guess
      FROM (SELECT *, {best} AS best FROM v))
SELECT lang, lang_guess, COUNT(*) AS cnt
FROM g GROUP BY lang, lang_guess
"""


@register("txt_lang_id", oracle=_langid_oracle())
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic → confusion matrix against the
    labeled lang column.  (The synthetic corpus shares one vocabulary, so
    the heuristic mostly votes 'en' — the operator under test is the
    deterministic classifier, not its accuracy.)"""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select("lang", T.lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "txt_fingerprint",
    oracle=r"""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
       md5(array_to_string({_TOKS}[1:3], ' ')) AS prefix_fp
FROM documents
""".replace("{_TOKS}", _TOKS),
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + prefix fingerprints (rolling-hash analogue: md5 over
    normalized text; prefix fp is the cheap blocking key)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        T.prefix_fingerprint(F.col("text"), 3).alias("prefix_fp"),
    )


@register(
    "mm_binary_stats",
    oracle="""
SELECT doc_id,
       octet_length(text::BLOB) AS byte_len,
       md5(text) AS content_md5,
       substr(source, 4) AS source_id
FROM documents
""",
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing smoke: treat document text as an opaque binary
    payload column (the image/audio pattern — sources/multimodal.py) and
    compute byte-level metadata JVM-side."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        F.length(F.col("text").cast("binary")).alias("byte_len"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
        F.substring("source", 4, 100).alias("source_id"),
    )


def _mm_decode_sql() -> str:
    bytes_expr = ", ".join(
        f"ROUND(('0x' || substr(md5(text), {2 * i + 1}, 2))::INT / 255.0, 6)"
        f" AS f{i}"
        for i in range(8)
    )
    return f"""
SELECT doc_id AS item_id,
       octet_length(text::BLOB) AS byte_len,
       {bytes_expr}
FROM documents WHERE doc_id < 100
"""


@register("mm_decode_features", oracle=_mm_decode_sql())
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal decode stage (sources/multimodal.decode_images:
    Arrow-batched mapInPandas, stub codec) hash-checked end-to-end: the
    md5-derived fake features are bit-reproducible in the oracle, so the
    compare proves the Python-worker plumbing (schema, batch iteration,
    null handling), not just row counts."""
    from snappydata_spark.sources import multimodal as mm

    t = load_tables(spark, sf_dir, ("documents",))
    payloads = (
        t["documents"]
        .filter(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").alias("item_id"),
            F.lit("image").alias("modality"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    decoded = mm.decode_images(payloads)
    # flatten the feature vector into scalar columns for the differential
    # gate: the driver's pandas canonicalizer cannot hash array cells
    # (unhashable list); library users get the raw array via decode_images
    return decoded.select(
        "item_id",
        "byte_len",
        *[
            F.round(F.col("feature")[i], 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "txt_bpe_pieces",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_pieces,
       len(regexp_extract_all(text, '[0-9]+')) AS n_number_runs
FROM documents WHERE doc_id < 200
""",
)
def txt_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish piece counting (functions/text.bpe_ish_pieces): the
    letters/digits/punct pre-tokenization split, counted per doc."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(T.bpe_ish_pieces(F.col("text"))).alias("n_pieces"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
            ).alias("n_number_runs"),
        )
    )


@register(
    "txt_rolling_fingerprint",
    oracle="""
SELECT doc_id,
       list_min([('0x' || substr(md5('fp~' || substr(text, x, 5)), 1, 8))::BIGINT
                 for x in range(1, len(text) - 3)]) AS fp
FROM documents WHERE len(text) >= 5 AND doc_id < 200
""",
)
def txt_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint (functions/text.rolling_fingerprint):
    min over hashed 5-char grams — winnowing's 1-fingerprint case,
    stable under edits away from the minimizing gram."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .filter((F.length("text") >= 5) & (F.col("doc_id") < 200))
        .select("doc_id", T.rolling_fingerprint(F.col("text"), 5).alias("fp"))
    )


@register(
    "mm_frame_sample",
    oracle="""
WITH media AS (
  SELECT doc_id AS item_id, n_chars * 10 AS duration_ms
  FROM documents WHERE doc_id < 200),
counted AS (
  SELECT item_id, duration_ms,
         LEAST(8, GREATEST(1, duration_ms // 1000)) AS n_frames
  FROM media)
SELECT c.item_id, CAST(gs.g AS INT) AS frame_no, gs.g * 1000 AS offset_ms
FROM counted c,
     LATERAL (SELECT unnest(generate_series(0, CAST(c.n_frames AS BIGINT) - 1)) AS g) gs
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stage (sources/multimodal.sample_video_frames):
    1→N generator explode inside mapInPandas — the scale-safe shape for
    media decode (no driver loop, no shuffle; frames stream out of each
    Arrow batch).  Frame offsets are deterministic from duration, so the
    structure hash-checks; the stub features are exercised by
    mm_decode_features and tests/test_multimodal.py."""
    from snappydata_spark.sources import multimodal

    t = load_tables(spark, sf_dir, ("documents",))
    media = (
        t["documents"]
        .filter(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").alias("item_id"),
            F.lit("video").alias("modality"),
            F.col("text").cast("binary").alias("payload"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        )
    )
    frames = multimodal.sample_video_frames(media, every_ms=1000, max_frames=8)
    return frames.select("item_id", "frame_no", "offset_ms")


@register(
    "mm_binary_chunks",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(text::BLOB) AS hx, octet_length(text::BLOB) AS n
  FROM documents
), starts AS (
  SELECT doc_id, hx, n,
         unnest(generate_series(1, greatest(n, 1), 256)) AS off
  FROM b
)
SELECT doc_id,
       CAST((off - 1) / 256 AS BIGINT) AS chunk_idx,
       CAST(least(256, n - off + 1) AS BIGINT) AS n_bytes,
       md5(substring(hx, (off - 1) * 2 + 1, 512)) AS chunk_md5
FROM starts
""",
)
def mm_binary_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size binary chunking — the blob-sharding stage for large
    media payloads (stream an image/audio blob as 256-byte spans with
    per-chunk checksums; upload/transfer layers and content-defined dedup
    both start here).  Pure map-side Catalyst on the opaque binary column:
    sequence → explode → substring → md5, zero shuffle and zero Python —
    at 100 TB the stage is embarrassingly parallel over files.  The
    per-chunk signature is md5 over the HEX encoding of the byte span
    (DuckDB's substring/md5 are VARCHAR-only — hex makes the span
    comparison byte-accurate on both engines regardless of encoding)."""
    t = load_tables(spark, sf_dir, ("documents",))
    b = t["documents"].select(
        "doc_id",
        F.hex(F.col("text").cast("binary")).alias("hx"),
        F.length(F.col("text").cast("binary")).alias("n"),
    )
    size = 256
    exploded = b.select(
        "doc_id",
        "hx",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.greatest("n", F.lit(1)), F.lit(size))
        ).alias("off"),
    )
    return exploded.select(
        "doc_id",
        ((F.col("off") - 1) / size).cast("long").alias("chunk_idx"),
        F.least(F.lit(size), F.col("n") - F.col("off") + 1)
        .cast("long")
        .alias("n_bytes"),
        F.md5(
            F.expr(f"substring(hx, (off - 1) * 2 + 1, {size * 2})")
        ).alias("chunk_md5"),
    )
