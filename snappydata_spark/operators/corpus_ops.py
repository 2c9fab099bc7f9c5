"""Corpus-scale training-data operators, round 4: exact substring
dedup, semantic dedup (SemDeDup), and int8 scalar-quantized ANN.

These extend the dedup/similarity families (dedup/, ann.py) with three
published pipeline patterns the reference has no analogue for but a
100 TB training-data user runs daily:

- exact duplicated-SPAN detection (the ExactSubstr discipline of
  "Deduplicating Training Data Makes Language Models Better", Lee et
  al. 2021) — not whole-doc dedup but per-document duplicated-byte
  accounting;
- SemDeDup (Abbas et al. 2023): k-means cluster the embedding space,
  generate candidate pairs ONLY within clusters, drop members over a
  cosine threshold — the cluster bound is what keeps pair generation
  sub-quadratic at corpus scale;
- scalar-quantization ANN: int8-per-dim compressed vectors give ~4x
  less scan bandwidth; search runs approximate top-C in the quantized
  domain, then exact rerank of the bounded candidate set.

Scale notes are on each operator; every float path is fold-order
deterministic so the DuckDB oracles hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from snappydata_spark.functions.text import TOKENS_SQL as _TOKS
from snappydata_spark.functions import vector as V
from snappydata_spark.operators.registry import _cleanup_at_exit, register
from snappydata_spark.tables import load_tables

# ------------------------------------------------ exact substring dedup

GRAM_LEN = 40  # duplicated-span unit (chars)
ANCHOR_LEN = 8  # content-defined sampling anchor (chars)
ANCHOR_BASE = 31  # polynomial rolling-hash base over code points
ANCHOR_MOD = 997  # selection modulus (odd prime, coprime to the base)
ANCHOR_RATE = 62  # select iff H % ANCHOR_MOD < ANCHOR_RATE (~1/16.1)
# Exactness: H = sum(cp_i * 31^(A-1-i)) with A=8 and code points
# <= 0x10FFFF peaks at ~3e16 per term / 2.4e17 total — exact in int64
# (numpy) and BIGINT (DuckDB); no float ever touches the hash.
_ANCHOR_POWS = [ANCHOR_BASE ** (ANCHOR_LEN - 1 - i) for i in range(ANCHOR_LEN)]


def _anchor_sel_sql(s_expr: str) -> str:
    """DuckDB predicate reproducing the Spark-side anchor selection at
    1-based char position `s_expr`: polynomial hash of the ANCHOR_LEN
    code points with integer power literals (DuckDB's ** is DOUBLE and
    loses exactness past 2^53, so powers are inlined as BIGINTs)."""
    terms = " + ".join(
        f"unicode(substr(text, ({s_expr}) + {i}, 1))::BIGINT * {p}"
        for i, p in enumerate(_ANCHOR_POWS)
    )
    return f"(({terms}) % {ANCHOR_MOD}) < {ANCHOR_RATE}"


def _substring_dedup_oracle() -> str:
    L = GRAM_LEN
    return f"""
WITH g AS (
  SELECT doc_id, t.s AS s, substr(text, t.s, {L}) AS gram, length(text) AS len
  FROM documents, LATERAL (
    SELECT unnest(range(1, length(text) - {L} + 2)) AS s) t
  WHERE length(text) >= {L}
    AND {_anchor_sel_sql('t.s')}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
d AS (SELECT g.doc_id, g.s, g.s + {L} AS e, g.len
      FROM g JOIN dup USING (gram)),
m AS (
  SELECT doc_id, s, e, len,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM d),
i AS (SELECT doc_id, len, s, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
sp AS (SELECT doc_id, MIN(len) AS len, island,
              MIN(s) AS st, MAX(e) AS en
       FROM i GROUP BY doc_id, island)
SELECT doc_id, COUNT(*) AS n_dup_spans,
       CAST(SUM(en - st) AS BIGINT) AS dup_chars,
       ROUND(SUM(en - st)::DOUBLE / MIN(len), 4) AS dup_frac
FROM sp GROUP BY doc_id"""


def sampled_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, len, s, gram) at content-defined positions, computed by
    a VECTORIZED polynomial rolling hash in numpy via mapInPandas.

    Selection contract (reproduced literally in the DuckDB oracles):
    position s (1-based) is sampled iff
      H(s) = sum_{i<A} codepoint(text[s+i]) * B^(A-1-i)  (exact int64)
    satisfies H % ANCHOR_MOD < ANCHOR_RATE (~1/16 rate).  Content-
    defined, so identical duplicated text selects identical grams at
    any byte offset (a fixed stride provably misses shifted dups).

    The hash is computed for ALL positions of a document with A=8
    vectorized int64 multiply-adds over the code-point array (utf-32
    view) — this replaced a per-position interpreted md5(anchor) HOF
    that dominated the query (3.7 s -> ~0.2 s for the sf0.1 scan).
    Arrow-batched; per-task memory is one code-point array per doc.

    Reference shape: ExactSubstr suffix-array dedup (Lee et al. 2021),
    bounded to sampled char grams."""
    L, A = GRAM_LEN, ANCHOR_LEN
    pows = _ANCHOR_POWS

    def scan(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "len": [], "s": [], "gram": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < L:
                    continue
                n = len(text)
                cp = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = n - A + 1
                h = np.zeros(m, dtype=np.int64)
                for i, p in enumerate(pows):
                    h += cp[i : i + m] * p
                # valid gram starts: 0-based 0..n-L (A <= L so the
                # anchor window always fits inside the gram window)
                sel = np.nonzero((h[: n - L + 1] % ANCHOR_MOD) < ANCHOR_RATE)[0]
                for s0 in sel.tolist():
                    out["doc_id"].append(doc_id)
                    out["len"].append(n)
                    out["s"].append(s0 + 1)
                    out["gram"].append(text[s0 : s0 + L])
            yield pd.DataFrame(out)

    id_type = dict(docs.dtypes)["doc_id"]
    # Small SFs read as one parquet split; fan the scan out across the
    # cluster (round-robin on the narrow (doc_id, text) projection) so
    # the per-doc numpy pass parallelizes.  At real scale the source
    # already has many splits and this repartition is a cheap rebalance.
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(scan, f"doc_id {id_type}, len int, s int, gram string")
    )


@register("txt_substring_dedup", oracle=_substring_dedup_oracle())
def txt_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (the ExactSubstr discipline of
    Lee et al. 2021, bounded to sampled char grams): a span is
    duplicated if its GRAM_LEN-char gram occurs in >= 2 distinct
    documents.  Gram positions are CONTENT-DEFINED (winnowing-style): a
    position is sampled iff the polynomial anchor hash of its
    ANCHOR_LEN-char prefix lands under ANCHOR_RATE (~1/16 rate, see
    sampled_grams) — so the same duplicated text selects the same grams
    in every document regardless of byte offset (a fixed stride would
    only catch alignment-preserving duplicates; the unit test proved
    that defect before this design).  Overlapping flagged spans are
    merged per document (interval-merge via a running-max window) into
    per-doc duplicated-char counts.

    Scale: candidate volume is ~n_chars/16 grams; document frequency is
    ONE shuffle on the gram with map-side partial aggregation, and the
    flag join back is the same key — no pair generation anywhere, so a
    boilerplate gram shared by k docs costs k rows, not k^2.  The
    anchor-hash test itself is a map-only vectorized numpy pass.  The
    interval merge windows per doc_id — state bounded by doc length.
    At 100 TB you'd group on xxhash64(gram) to shrink the shuffle key;
    the raw string is kept here for an exact cross-engine oracle."""
    L = GRAM_LEN
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # The gram frame feeds BOTH sides of the duplicate-flag join with
    # different downstream exchanges, so ReuseExchange cannot dedupe it;
    # without persist the O(n_chars) anchor scan executes twice (the
    # dominant stage).  persist() caches it at first materialization and
    # the second subtree reads the cache — same discipline as the
    # minhash signature persist (BASELINE.md round 1, 19 s -> 0.93 s).
    # Identical repeated invocations share one CacheManager entry (keyed
    # by analyzed plan), so this does not accumulate across calls.  At
    # 100 TB you would write the gram table out and join against it.
    # The count() materializes the cache EAGERLY: AQE submits the two
    # consuming shuffle stages concurrently, so a lazy persist would
    # have both race through the uncached scan (measured 6.0 s vs
    # 2.x s eager at sf0.1).
    g = sampled_grams(docs).persist()
    g.count()
    # r12 (guide §2.3): "occurs in >= 2 distinct docs" needs only
    # min(doc_id) != max(doc_id), not COUNT(DISTINCT doc_id) — the
    # distinct plan shuffles every (gram, doc_id) pair through TWO
    # exchanges (partial-dedup + count), while min/max partial-aggregate
    # map-side to one row per gram per partition and one exchange; a
    # boilerplate gram shared by k docs collapses before the shuffle
    # instead of skewing one reducer key.
    dup_grams = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("gram")
    )
    d = g.join(dup_grams, "gram").select(
        "doc_id", "len", "s", (F.col("s") + L).alias("e")
    )
    spans = merge_intervals(d, group_cols=("doc_id",), carry_cols=("len",))
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("en") - F.col("st")).alias("dup_chars"),
        F.round(
            F.sum(F.col("en") - F.col("st")).cast("double") / F.min("len"), 4
        ).alias("dup_frac"),
    )


def merge_intervals(
    d: DataFrame,
    group_cols: tuple[str, ...],
    s_col: str = "s",
    e_col: str = "e",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Classic interval merge per group via a running-max window: a row
    opens a new island iff its start exceeds the max end seen so far
    (half-open [s, e) intervals — touching intervals merge).  Returns
    one row per merged island: (group_cols..., carry_cols... (min),
    island, st, en).  One shuffle on the group key; window state is one
    running max — linear in rows per group."""
    w = W.partitionBy(*group_cols).orderBy(s_col, e_col)
    prev_max_end = F.max(e_col).over(w.rowsBetween(W.unboundedPreceding, -1))
    m = d.withColumn(
        "ni",
        F.when(
            prev_max_end.isNull() | (F.col(s_col) > prev_max_end), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w.rowsBetween(W.unboundedPreceding, 0)))
    return m.groupBy(*group_cols, "island").agg(
        *[F.min(c).alias(c) for c in carry_cols],
        F.min(s_col).alias("st"),
        F.max(e_col).alias("en"),
    )


def _substring_clean_oracle() -> str:
    L = GRAM_LEN
    return f"""
WITH g AS (
  SELECT doc_id, t.s AS s, substr(text, t.s, {L}) AS gram, length(text) AS len
  FROM documents, LATERAL (
    SELECT unnest(range(1, length(text) - {L} + 2)) AS s) t
  WHERE length(text) >= {L}
    AND {_anchor_sel_sql('t.s')}
),
own AS (
  SELECT gram, MIN(doc_id) AS owner FROM g
  GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
rem AS (
  SELECT g.doc_id, g.len, g.s, g.s + {L} AS e
  FROM g JOIN own USING (gram) WHERE g.doc_id <> own.owner),
mm AS (
  SELECT doc_id, s, e, len,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM rem),
ii AS (SELECT doc_id, len, s, e,
              SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS island
       FROM mm),
m AS (SELECT doc_id, MIN(len) AS len, island,
             MIN(s) AS st, MAX(e) AS en
      FROM ii GROUP BY doc_id, island),
gaps_a AS (
  SELECT doc_id,
         COALESCE(LAG(en) OVER (PARTITION BY doc_id ORDER BY st), 1) AS gs,
         st AS ge
  FROM m),
gaps_b AS (
  SELECT doc_id, MAX(en) AS gs, MIN(len) + 1 AS ge FROM m GROUP BY doc_id),
pieces AS (
  SELECT * FROM gaps_a WHERE ge > gs
  UNION ALL SELECT * FROM gaps_b WHERE ge > gs),
cleaned AS (
  SELECT p.doc_id,
         string_agg(substr(d.text, p.gs, p.ge - p.gs), '' ORDER BY p.gs) AS ct
  FROM pieces p JOIN documents d ON d.doc_id = p.doc_id
  GROUP BY p.doc_id),
stats AS (SELECT doc_id, SUM(en - st) AS rc FROM m GROUP BY doc_id)
SELECT d.source,
       COUNT(*) AS n_docs_affected,
       CAST(SUM(s.rc) AS BIGINT) AS chars_removed,
       CAST(SUM(('0x' || substr(md5(COALESCE(c.ct, '')), 1, 8))::BIGINT)
            AS BIGINT) AS cleaned_sig
FROM stats s
LEFT JOIN cleaned c ON c.doc_id = s.doc_id
JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source"""


@register("txt_substring_dedup_clean", oracle=_substring_clean_oracle())
def txt_substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2021): every
    duplicated span is CUT from every document except the owner (lowest
    doc_id holding the gram), and the surviving text is reconstructed
    from the complement intervals.  Output: per-source affected-doc
    counts, removed chars, and an order-independent signature of the
    cleaned texts (sum of md5-derived 32-bit hashes) — so the oracle
    hash-checks the RECONSTRUCTED BYTES, not just counts.

    Scale: inherits the detection shape (one shuffle on the gram, no
    pair generation; the owner is a min aggregate on the same key).
    Removal intervals merge per doc (running-max window), complements
    come from a lag window on the merged spans, and reconstruction is
    one join back to the text + a per-doc sorted-struct fold — every
    stage keyed on doc_id, text crossing the wire exactly once."""
    L = GRAM_LEN
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # g feeds the owner aggregate AND the removal join; m (merged
    # removal spans) is consumed three times (complement gaps a/b +
    # removed-char stats).  Persist both so the gram scan and the
    # interval-merge window run once instead of 2-3x (see the
    # detection-variant note; shared CacheManager entry across calls).
    # Eager count() for the same AQE concurrent-stage reason.
    g = sampled_grams(docs).persist()
    g.count()
    # r12 (guide §2.3): df > 1 ⟺ min(doc_id) != max(doc_id) — same
    # min/max partial-agg rewrite as the detection variant (one
    # exchange, map-side collapse, no distinct expansion); `owner` was
    # already the min.
    own = (
        g.groupBy("gram")
        .agg(
            F.min("doc_id").alias("owner"),
            F.max("doc_id").alias("mx"),
        )
        .filter(F.col("owner") != F.col("mx"))
        .select("gram", "owner")
    )
    rem = (
        g.join(own, "gram")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "len", "s", (F.col("s") + L).alias("e"))
    )
    m = merge_intervals(rem, group_cols=("doc_id",), carry_cols=("len",)).persist()
    m.count()
    w = W.partitionBy("doc_id").orderBy("st")
    gaps_a = m.select(
        "doc_id",
        F.coalesce(F.lag("en").over(w), F.lit(1)).alias("gs"),
        F.col("st").alias("ge"),
    )
    gaps_b = m.groupBy("doc_id").agg(
        F.max("en").alias("gs"), (F.min("len") + 1).alias("ge")
    )
    pieces = gaps_a.filter("ge > gs").unionByName(gaps_b.filter("ge > gs"))
    cleaned = (
        pieces.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "gs",
            F.col("text").substr(F.col("gs"), F.col("ge") - F.col("gs")).alias(
                "piece"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gs", "piece"))),
                    lambda x: x.piece,
                ),
            ).alias("ct")
        )
    )
    stats = m.groupBy("doc_id").agg(
        F.sum(F.col("en") - F.col("st")).alias("rc")
    )
    sig = F.conv(
        F.substring(F.md5(F.coalesce(F.col("ct"), F.lit(""))), 1, 8), 16, 10
    ).cast("long")
    return (
        stats.join(cleaned, "doc_id", "left")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_affected"),
            F.sum("rc").cast("long").alias("chars_removed"),
            F.sum(sig).cast("long").alias("cleaned_sig"),
        )
    )


# ------------------------------------------------------------ SemDeDup

SEM_TAU = 0.30  # synthetic embeddings peak ~0.45 pairwise cosine
SEM_SUB_CAP = 256  # hard within-cluster pair bound (knn sub_cap discipline)


def _semdedup_oracle() -> str:
    from snappydata_spark.operators.dedup_ops import _cos_sql
    from snappydata_spark.operators.ml_ops import _kmeans_cte_blocks

    blocks, prev = _kmeans_cte_blocks()
    final = f"""
dfin AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY list_aggregate(
                              [ (e.embedding[j]::DOUBLE - c.ce[j]) ^ 2
                                for j in range(1, len(c.ce) + 1) ], 'sum'),
                            c.cid) AS rn
  FROM embeddings e CROSS JOIN {prev} c),
afin AS (SELECT vec_id, cid AS cluster FROM dfin WHERE rn = 1),
mem AS (SELECT a.vec_id, a.cluster, e.embedding,
               CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY a.cluster
                                              ORDER BY a.vec_id) - 1)
                          / {SEM_SUB_CAP}) AS BIGINT) AS sub
        FROM afin a JOIN embeddings e USING (vec_id)),
dupes AS (
  SELECT DISTINCT x.vec_id
  FROM mem x JOIN mem y
    ON x.cluster = y.cluster AND x.sub = y.sub AND x.vec_id > y.vec_id
  WHERE {_cos_sql('x.embedding', 'y.embedding')} >= {SEM_TAU}
)
SELECT m.cluster, COUNT(*) AS n_members,
       COUNT(d.vec_id) AS n_removed,
       COUNT(*) - COUNT(d.vec_id) AS n_kept
FROM mem m LEFT JOIN dupes d ON m.vec_id = d.vec_id
GROUP BY m.cluster"""
    blocks.append(final)
    return "WITH " + ",".join(blocks)


@register("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space (the
    trained quantizer from ml_ops.kmeans_train), then WITHIN each
    cluster mark any vector whose cosine to a lower-id cluster-mate is
    >= SEM_TAU (greedy keep-lowest-id), and report per-cluster
    member/removed/kept counts.

    Scale: the pair join is cluster-bounded — with k scaled to hold
    mean cluster size at a constant m (k = n/m), candidate pairs are
    O(n*m), linear in corpus size, vs O(n^2) for all-pairs cosine; the
    kmeans pass itself collects only the k x dims model per iteration.
    On top of the published recipe, a HARD sub-bucket split (the
    knn_graph_candidates sub_cap discipline) bounds even a degenerate
    hot cluster LSH/kmeans cannot separate: members are row_number-
    chopped into sub-buckets of <= SEM_SUB_CAP, so worst-case pairs are
    n*SEM_SUB_CAP, never n^2 (cross-sub duplicates are missed in that
    pathological case — the documented trade).  Two shuffles total
    (assign window, self-join on (cluster, sub))."""
    from snappydata_spark.operators.ml_ops import kmeans_train

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    _, assigned = kmeans_train(emb)
    mem = assigned.select("vec_id", "cluster", "embedding")
    dupes = (
        semdedup_candidate_pairs(mem, sub_cap=SEM_SUB_CAP)
        .filter(F.col("sim") >= SEM_TAU)
        .select(F.col("src").alias("vec_id"))
        .distinct()
    )
    return (
        mem.join(dupes.withColumn("is_dup", F.lit(1)), "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dup").alias("n_removed"),
            (F.count(F.lit(1)) - F.count("is_dup")).alias("n_kept"),
        )
    )


# ------------------------------------- DSIR importance resampling

DSIR_BUCKETS = 64
DSIR_TOPN = 100


def _dsir_oracle() -> str:
    B = DSIR_BUCKETS
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir~' || t.token), 1, 15))::BIGINT % {B} AS b
  FROM (SELECT doc_id, lang, unnest({_TOKS}) AS token FROM documents) t),
cnt AS (
  SELECT r.b,
         COALESCE(SUM(CASE WHEN tok.lang = 'en' THEN 1 ELSE 0 END), 0) AS tc,
         COUNT(tok.b) AS sc
  FROM range(0, {B}) r(b) LEFT JOIN tok ON tok.b = r.b
  GROUP BY r.b),
tot AS (SELECT SUM(tc) AS t, SUM(sc) AS s FROM cnt),
lr AS (
  SELECT list(ROUND(LN((c.tc + 1.0) / (tot.t + {B}))
                    - LN((c.sc + 1.0) / (tot.s + {B})), 9)
              ORDER BY c.b) AS l
  FROM cnt c, tot),
cb AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b),
per AS (
  SELECT cb.doc_id,
         CAST(SUM(cb.c) AS BIGINT) AS n_tokens,
         list_aggregate(list(cb.c * lr.l[cb.b + 1] ORDER BY cb.b), 'sum')
           AS fold
  FROM cb, lr GROUP BY cb.doc_id)
SELECT d.doc_id, d.lang, p.n_tokens,
       ROUND(p.fold / p.n_tokens, 6) AS score
FROM per p JOIN documents d ON d.doc_id = p.doc_id
ORDER BY p.fold / p.n_tokens DESC, d.doc_id
LIMIT {DSIR_TOPN}"""


@register("pipeline_dsir_sample", oracle=_dsir_oracle())
def pipeline_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    score every document by the average hashed-unigram log-likelihood
    ratio between a TARGET distribution (here: the lang='en' slice) and
    the full SOURCE corpus, and keep the top DSIR_TOPN — the published
    recipe for selecting in-domain pretraining data at corpus scale.

    Scale: hashed features (md5 % 64 buckets) keep the model at B
    cells; the bucket stats are one shuffle + a B-row collect (model,
    not data), the log-ratios re-enter as a literal array, and the
    per-doc score is a (doc, bucket)-count shuffle + a fold over <= B
    sorted cells.  Nothing grows with corpus size except the two linear
    passes.  Determinism: lr values round to 9 (Python libm vs DuckDB
    libm may differ in the last ulp), the per-doc fold walks buckets in
    ascending order on both engines, so the unrounded score doubles —
    and hence the top-N cut — are bit-identical."""
    import math

    B = DSIR_BUCKETS
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    tok = tok.withColumn(
        "b",
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir~"), F.col("token"))), 1, 15), 16, 10)
        .cast("long")
        % B,
    )
    # r12 (guide §2.3 — aggregate before you shuffle / one pass): the
    # bucket stats and the per-doc score both reduce the SAME exploded
    # token stream; counting per (doc_id, lang, b) ONCE and persisting
    # the slim count frame replaces two full tokenize+md5 passes over
    # the corpus with one (lang is functionally dependent on doc_id, so
    # the counts are identical).  Stats then aggregate B rows per
    # bucket from the counts; exact integer sums — same tc/sc.
    cnt = (
        tok.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    stats = {
        r.b: (r.tc, r.sc)
        for r in cnt.groupBy("b")
        .agg(
            F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("tc"),
            F.sum("c").alias("sc"),
        )
        .collect()  # bounded: B rows of model stats
    }
    tc_tot = sum(v[0] for v in stats.values())
    sc_tot = sum(v[1] for v in stats.values())
    lr = [
        round(
            math.log((stats.get(b, (0, 0))[0] + 1.0) / (tc_tot + B))
            - math.log((stats.get(b, (0, 0))[1] + 1.0) / (sc_tot + B)),
            9,
        )
        for b in range(B)
    ]
    lr_lit = F.expr("array(" + ", ".join(repr(v) + "D" for v in lr) + ")")
    # grouping by (doc_id, lang) — lang rides along for free (one value
    # per doc), so the docs re-join for the lang column is gone too
    per = (
        cnt.groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("b", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s.c.cast("double") * F.element_at(
                    lr_lit, s.b.cast("int") + 1
                ),
            ).alias("fold"),
        )
    )
    return (
        per.withColumn("_s", F.col("fold") / F.col("n_tokens"))
        .orderBy(F.desc("_s"), "doc_id")
        .limit(DSIR_TOPN)
        .select(
            "doc_id", "lang", "n_tokens", F.round("_s", 6).alias("score")
        )
    )


# ------------------------------------- distributed BPE-merge training

BPE_MERGES = 3


def _bpe_oracle() -> str:
    head = f"""
w0 AS (
  SELECT ' ' || regexp_replace(t.word, '(.)', '\\1 ', 'g') AS ws,
         COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents) t
  GROUP BY t.word)"""
    blocks = [head]
    prev = "w0"
    outs = []
    for i in range(1, BPE_MERGES + 1):
        blocks.append(f"""
p{i} AS (
  SELECT l[j] || ' ' || l[j + 1] AS pair, CAST(SUM(w.cnt) AS BIGINT) AS freq
  FROM (SELECT string_split(trim(ws), ' ') AS l, cnt FROM {prev}) w,
       unnest(range(1, len(w.l))) t(j)
  GROUP BY pair),
b{i} AS (SELECT pair, freq FROM p{i} ORDER BY freq DESC, pair LIMIT 1),
w{i} AS (
  SELECT replace(w.ws, ' ' || b.pair || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS ws, w.cnt
  FROM {prev} w CROSS JOIN b{i} b)""")
        outs.append(
            f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, freq FROM b{i}"
        )
        prev = f"w{i}"
    return "WITH " + ",".join(blocks) + "\n" + "\nUNION ALL\n".join(outs)


@register("txt_bpe_train", oracle=_bpe_oracle())
def txt_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-merge training (the byte-pair-encoding vocab
    induction of Sennrich et al. 2016), BPE_MERGES rounds: split the
    corpus into whitespace words, aggregate to a WORD-FREQUENCY table
    (the classic trainer trick — iterations then run over the
    vocabulary, not the corpus), then per round count adjacent symbol
    pairs weighted by word frequency, pick the global argmax (ties to
    the lexicographically smallest pair), and merge it into one symbol
    everywhere.

    Scale: the corpus is touched ONCE (tokenize + word count, one
    shuffle); each merge round is a pair-count shuffle over the bounded
    vocab table plus a 1-row argmax collect (the model), and the merge
    itself is a map-only string replace with the pair as a literal —
    the same data-pass/model-collect discipline as kmeans/logreg.
    Merge semantics: left-to-right non-overlapping replace on the
    space-delimited symbol string (both engines' replace(); a shared-
    boundary occurrence immediately after a replacement is skipped —
    documented divergence from classic BPE's rescan, deterministic and
    identical across engines).  Output: (step, pair, merged, freq)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")
            ).alias("ws"),
            "cnt",
        )
    )
    # r12 (guide §1.2): only the BASE word-frequency table is persisted;
    # each round's merged view is a LAZY chain of map-only string
    # replaces over it instead of a per-round persist + count
    # materialization (3 jobs + 3 cache round-trips saved).  Round k's
    # pair-count job re-applies the k-1 previous replaces map-side —
    # strictly cheaper than materializing each intermediate at any
    # scale, because the vocabulary table the replaces run over is
    # bounded by DISTINCT words, not corpus size.
    base = words.persist()
    words = base
    try:
        merges = []
        for step in range(1, BPE_MERGES + 1):
            syms = F.split(F.trim("ws"), " ")
            pairs = (
                words.select(
                    F.explode(
                        F.zip_with(
                            F.slice(syms, 1, F.size(syms) - 1),
                            F.slice(syms, 2, F.size(syms) - 1),
                            lambda a, b: F.concat(a, F.lit(" "), b),
                        )
                    ).alias("pair"),
                    "cnt",
                )
                .groupBy("pair")
                .agg(F.sum("cnt").alias("freq"))
            )
            top = pairs.orderBy(F.desc("freq"), "pair").limit(1).collect()
            if not top:
                break
            pair, freq = top[0].pair, int(top[0].freq)
            merged = pair.replace(" ", "")
            merges.append((step, pair, merged, freq))
            words = words.select(
                F.replace(
                    F.col("ws"), F.lit(f" {pair} "), F.lit(f" {merged} ")
                ).alias("ws"),
                "cnt",
            )
    finally:
        base.unpersist()
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, freq bigint"
    )


def semdedup_candidate_pairs(mem: DataFrame, sub_cap: int = SEM_SUB_CAP) -> DataFrame:
    """(src, dst, sim) pairs with src > dst, sub-bucket-bounded within
    clusters: `mem` is (vec_id, cluster, embedding).  Pair count is
    <= n * sub_cap even on a degenerate single hot cluster.

    r12 (guide §8 / §4.2): pairs are generated AND scored inside ONE
    applyInPandas per (cluster, sub) group, so each embedding crosses
    the Arrow boundary once per vector — the former embedding⋈embedding
    self-join shipped both 64-dim payloads per PAIR and then evaluated
    V.cosine as ~|pairs|·dims interpreted Catalyst lambdas (the
    measured 10 s of dedup_semdedup's noop wall at sf0.1).  Cosines are
    float-exact to V.cosine: products in float64 (float→double widening
    is exact), sequential left-to-right fold via np.cumsum == the
    F.aggregate fold, same sqrt/divide IEEE ops."""
    w = W.partitionBy("cluster").orderBy("vec_id")
    sb = mem.select("vec_id", "cluster", "embedding").withColumn(
        "sub", F.floor((F.row_number().over(w) - 1) / sub_cap)
    )

    def score(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        # sequential fold per row (cumsum == the F.aggregate fold)
        nrm = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])
        srcs, dsts, sims = [], [], []
        for i in range(n):
            mask = ids[i] > ids
            if not mask.any():
                continue
            d = np.cumsum(vecs[i] * vecs[mask], axis=1)[:, -1]
            s = d / (nrm[i] * nrm[mask])
            srcs.append(np.full(int(mask.sum()), ids[i], dtype=np.int64))
            dsts.append(ids[mask])
            sims.append(s)
        if not srcs:
            return empty
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "sim": np.concatenate(sims),
            }
        )

    return sb.groupBy("cluster", "sub").applyInPandas(
        score, "src long, dst long, sim double"
    )


# ------------------------------------- int8 scalar-quantization ANN

SQ_CAND = 50  # approximate candidates reranked exactly
SQ_TOPK = 10


def _sq8_expr_sql() -> tuple[str, str]:
    """(mn_list_sql, mx_list_sql): per-dim min/max over the corpus.
    unnest and generate_subscripts expand in lockstep over the same
    list, so (pos, value) stay aligned."""
    mn = """(SELECT list(mnv ORDER BY pos) FROM (
      SELECT pos, MIN(v) AS mnv FROM (
        SELECT generate_subscripts(embedding, 1) AS pos,
               unnest([x::DOUBLE for x in embedding]) AS v
        FROM embeddings) GROUP BY pos))"""
    mx = """(SELECT list(mxv ORDER BY pos) FROM (
      SELECT pos, MAX(v) AS mxv FROM (
        SELECT generate_subscripts(embedding, 1) AS pos,
               unnest([x::DOUBLE for x in embedding]) AS v
        FROM embeddings) GROUP BY pos))"""
    return mn, mx


def _sq8_deq_sql(vec: str) -> str:
    """Dequantized value per element of `vec` against the stats CTE `s`:
    q = clamp(floor((v - mn)/(mx - mn) * 255)), deq = mn + q/255*(mx-mn)."""
    return f"""[ CASE WHEN s.mx[i] = s.mn[i] THEN s.mn[i]
         ELSE s.mn[i] + GREATEST(0, LEAST(255,
                FLOOR(({vec}[i]::DOUBLE - s.mn[i]) / (s.mx[i] - s.mn[i]) * 255)))
              / 255.0 * (s.mx[i] - s.mn[i]) END
       for i in range(1, len({vec}) + 1) ]"""


def _sq8_oracle() -> str:
    mn, mx = _sq8_expr_sql()
    deq = _sq8_deq_sql

    from snappydata_spark.operators.dedup_ops import _cos_sql

    return f"""
WITH s AS (SELECT {mn} AS mn, {mx} AS mx),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
dq AS (
  SELECT e.vec_id, e.embedding, {deq('e.embedding')} AS de, {deq('q.qe')} AS dq
  FROM embeddings e CROSS JOIN q CROSS JOIN s
  WHERE e.vec_id <> 0),
approx AS (
  SELECT vec_id, embedding, {_cos_sql('de', 'dq')} AS acos
  FROM dq),
cand AS (
  SELECT vec_id, embedding, acos FROM approx
  ORDER BY acos DESC, vec_id LIMIT {SQ_CAND})
SELECT c.vec_id,
       ROUND({_cos_sql('c.embedding', 'q.qe')}, 4) AS cos,
       ROUND(c.acos, 4) AS approx_cos
FROM cand c CROSS JOIN q
ORDER BY {_cos_sql('c.embedding', 'q.qe')} DESC, c.vec_id
LIMIT {SQ_TOPK}"""


@register("sim_sq8_topk", oracle=_sq8_oracle())
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN: compress each dim to int8 against
    per-dim corpus [min, max] (the standard SQ8 codec of FAISS/
    Milvus), search by cosine in the DEQUANTIZED domain, keep SQ_CAND
    approximate candidates, rerank them with exact full-precision
    cosine, return the top SQ_TOPK.

    Scale: the stats pass is one posexplode agg collecting d rows (the
    model, like the kmeans centroids); the search scan reads int8-width
    data (4x less bandwidth than float32 — the reason this codec exists)
    and the exact rerank touches only SQ_CAND rows.  Quantization error
    never affects correctness of the rerank set hash because both
    engines quantize with the identical clamp/floor arithmetic."""
    from snappydata_spark.index_ann import codec_stats, sq8_scores_pandas

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    mn, mx = codec_stats(emb, "embedding")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    q_vec = [float(x) for x in query.limit(1).collect()[0].qe]
    # vectorized quantize+score (float-exact to the expression-side
    # composition — see sq8_scores_pandas); raw embedding echoed
    # through for the exact rerank of the bounded candidate set
    approx = sq8_scores_pandas(
        emb.filter(F.col("vec_id") != 0),
        col="embedding",
        id_col="vec_id",
        mn=mn,
        mx=mx,
        q_vec=q_vec,
        from_codes=False,
    )
    # narrow (id, acos) through the top-k, then join the raw vectors
    # back by id for the exact rerank — echoing the vectors through the
    # scorer would pay the Arrow transfer twice (memory: narrow pairs +
    # join-back beats carrying wide payloads)
    cand = (
        approx.orderBy(F.desc("acos"), "vec_id")
        .limit(SQ_CAND)
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("embedding"), F.col("qe")), 4).alias("cos"),
            F.round(F.col("acos"), 4).alias("approx_cos"),
            V.cosine(F.col("embedding"), F.col("qe")).alias("_exact"),
        )
        .orderBy(F.desc("_exact"), "vec_id")
        .limit(SQ_TOPK)
        .drop("_exact")
    )


# ----------------------------------------- IVF-SQ8 composed index

IVFSQ_NPROBE = 4


def _ivf_sq8_oracle(exclude_self: bool = True, include_approx: bool = True) -> str:
    from snappydata_spark.operators.dedup_ops import _cos_sql
    from snappydata_spark.operators.ml_ops import _kmeans_cte_blocks

    blocks, prev = _kmeans_cte_blocks()
    mn, mx = _sq8_expr_sql()
    deq = _sq8_deq_sql
    excl = "WHERE e.vec_id <> 0" if exclude_self else ""
    approx_col = (
        ",\n       ROUND(c.acos, 4) AS approx_cos" if include_approx else ""
    )
    search = f"""
s AS (SELECT {mn} AS mn, {mx} AS mx),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cc AS (SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.ce')} AS cc
       FROM embeddings e, {prev} c),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
    FROM cc) WHERE rn = 1),
probe AS (SELECT cid AS cell FROM
    (SELECT c.cid, {_cos_sql('c.ce', 'q.qe')} AS qc FROM {prev} c, q)
    ORDER BY qc DESC, cid LIMIT {IVFSQ_NPROBE}),
dq AS (
  SELECT e.vec_id, e.embedding,
         {deq('e.embedding')} AS de, {deq('q.qe')} AS dqv
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN probe p ON p.cell = a.cell
  CROSS JOIN q CROSS JOIN s
  {excl}),
approx AS (
  SELECT vec_id, embedding, {_cos_sql('de', 'dqv')} AS acos FROM dq),
cand AS (
  SELECT vec_id, embedding, acos FROM approx
  ORDER BY acos DESC, vec_id LIMIT {SQ_CAND})
SELECT c.vec_id,
       ROUND({_cos_sql('c.embedding', 'q.qe')}, 4) AS cos{approx_col}
FROM cand c CROSS JOIN q
ORDER BY {_cos_sql('c.embedding', 'q.qe')} DESC, c.vec_id
LIMIT {SQ_TOPK}"""
    search = search.replace(
        "{excl}", "\n  WHERE e.vec_id <> q.qid" if exclude_self else ""
    ).replace("{approx}", ", approx_cos" if include_approx else "")
    return "WITH " + ",".join(blocks) + "," + search


@register("sim_ivf_sq8_topk", oracle=_ivf_sq8_oracle())
def sim_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production vector index composition (FAISS's IVF-SQ8): TRAIN
    a k-means coarse quantizer → ASSIGN every vector to its cell
    (vectorized numpy path) → at query time probe the IVFSQ_NPROBE
    nearest cells and scan ONLY those — in the int8-DEQUANTIZED domain
    (4x less bandwidth) — then exact-rerank the SQ_CAND survivors.

    Scale: the two prunes COMPOSE — IVF cuts the scan to ~nprobe/C of
    the corpus, SQ8 cuts the bytes per scanned vector by 4x; model
    state (centroids + d codec stats) is collected once and re-enters
    as literals/closures.  Every stage (training iterations, cell
    assignment, probe list, quantized scores, final ranks) is
    reproduced by the composed CTE oracle."""
    from snappydata_spark.operators.ml_ops import kmeans_train

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    centroids, _ = kmeans_train(emb)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    from snappydata_spark.index_ann import codec_stats, sq8_scores_pandas

    mn, mx = codec_stats(emb, "embedding")
    q_vec = [float(x) for x in query.limit(1).collect()[0].qe]
    # r12 (guide §2.3/§2.4): the centroid model is already driver-side,
    # so the probe list is pure numpy — the SAME sequential-fold cosine
    # as V.cosine (cumsum prefix semantics), ties to the lower cid, the
    # exact ORDER BY qc DESC, cid LIMIT nprobe of the oracle — and the
    # assignment pass FUSES into the scoring scan (sq8_scores_pandas
    # cell_filter): one corpus pass where there were two, and the
    # assign⋈probe semi + emb⋈pruned shuffle joins disappear.
    import numpy as np

    cent_list = sorted(
        (int(cid), [float(x) for x in ce]) for cid, ce in centroids.items()
    )
    cmat = np.array([v for _, v in cent_list], dtype=np.float64)
    qarr = np.array(q_vec, dtype=np.float64)
    qc = np.cumsum(cmat * qarr, axis=1)[:, -1] / (
        np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
        * np.sqrt(np.cumsum(qarr * qarr)[-1])
    )
    # NaN qc (zero-norm centroid/query) must mirror Spark's ORDER BY
    # qc DESC where NaN sorts greatest, i.e. first — map it to +inf so
    # the python sort cannot produce an inconsistent comparison chain
    probe_order = sorted(
        range(len(cent_list)),
        key=lambda i: (
            -(qc[i] if qc[i] == qc[i] else float("inf")),
            cent_list[i][0],
        ),
    )
    probe_cells = {cent_list[i][0] for i in probe_order[:IVFSQ_NPROBE]}
    cand = (
        sq8_scores_pandas(
            emb.filter(F.col("vec_id") != 0),
            col="embedding",
            id_col="vec_id",
            mn=mn,
            mx=mx,
            q_vec=q_vec,
            from_codes=False,
            cent_rows=cent_list,
            probe_cells=probe_cells,
        )
        .orderBy(F.desc("acos"), "vec_id")
        .limit(SQ_CAND)
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("embedding"), F.col("qe")), 4).alias("cos"),
            F.round(F.col("acos"), 4).alias("approx_cos"),
            V.cosine(F.col("embedding"), F.col("qe")).alias("_exact"),
        )
        .orderBy(F.desc("_exact"), "vec_id")
        .limit(SQ_TOPK)
        .drop("_exact")
    )


# ------------------------------------ materialized IVF-SQ8 index

_ANN_SESSIONS: dict[str, object] = {}


def _ann_index_session(spark: SparkSession, sf_dir: str):
    """Build-once/query-many: a per-(process, sf_dir) SnappySession whose
    store holds the managed embeddings copy + its materialized ivf_sq8
    index.  First call trains and materializes (CREATE INDEX ... USING
    ivf_sq8); every later call — and every later QUERY — reuses the
    stored model and index table with zero training jobs (the
    build-once contract of the reference's CREATE INDEX,
    SnappyDDLParser.scala:519, IndexColumnFormatRelation)."""
    key = sf_dir.rstrip("/")
    sn = _ANN_SESSIONS.get(key)
    if sn is not None:
        return sn
    import tempfile

    from snappydata_spark import SnappySession

    sn = SnappySession(
        spark, store_dir=tempfile.mkdtemp(prefix="ann_index_store_")
    )
    _cleanup_at_exit(sn.catalog.base_dir)
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    sn.create_table("emb_base", options={"key_columns": "vec_id"}, df=emb)
    sn.sql("CREATE INDEX emb_ivf ON emb_base(embedding) USING ivf_sq8")
    _ANN_SESSIONS[key] = sn
    return sn


@register("sim_ivf_sq8_index_topk", oracle=_ivf_sq8_oracle())
def sim_ivf_sq8_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-index twin of sim_ivf_sq8_topk: identical
    semantics and oracle, but the coarse quantizer, codec stats, and
    per-vector (cell, int8 code) rows come from the PERSISTED index
    built once per session (index_ann.py) instead of being retrained
    per query.  The query path is: probe nprobe cells against the
    stored centroids → scan only those cells' STORED codes (file-pruned
    by the cell-range clustering) → exact rerank against the base
    table.  Exactness: stored code == clamp(floor(...)) of the build,
    so dequantized scores are bit-identical to the composed path and
    the same DuckDB CTE oracle validates both."""
    from snappydata_spark import index_ann

    sn = _ann_index_session(spark, sf_dir)
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    return index_ann.search_ivf_sq8(
        sn,
        "emb_ivf",
        query,
        topk=SQ_TOPK,
        cand=SQ_CAND,
        nprobe=IVFSQ_NPROBE,
        exclude_ids=[0],
    )


BATCH_Q = 8  # query-set size for the batch ANN registry query


def _ivf_sq8_batch_oracle(exclude_self: bool = True, include_approx: bool = True) -> str:
    """Composed CTE oracle for the BATCH index serve: the same unrolled
    k-means + assign simulation, then per-QUERY probe / candidate-cut /
    exact-rerank via windows partitioned by qid — mirroring the Spark
    plan stage for stage."""
    from snappydata_spark.operators.dedup_ops import _cos_sql
    from snappydata_spark.operators.ml_ops import _kmeans_cte_blocks

    blocks, prev = _kmeans_cte_blocks()
    mn, mx = _sq8_expr_sql()
    deq = _sq8_deq_sql
    search = f"""
s AS (SELECT {mn} AS mn, {mx} AS mx),
qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       WHERE vec_id < {BATCH_Q}),
cc AS (SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.ce')} AS cc
       FROM embeddings e, {prev} c),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
    FROM cc) WHERE rn = 1),
qprobe AS (SELECT qid, cell FROM (
    SELECT q.qid, c.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {_cos_sql('c.ce', 'q.qe')} DESC, c.cid)
             AS rn
    FROM {prev} c CROSS JOIN qs q) WHERE rn <= {IVFSQ_NPROBE}),
dq AS (
  SELECT q.qid, e.vec_id, e.embedding, q.qe,
         {deq('e.embedding')} AS de, {deq('q.qe')} AS dqv
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN qprobe p ON p.cell = a.cell
  JOIN qs q ON q.qid = p.qid
  CROSS JOIN s{{excl}}),
approx AS (
  SELECT qid, vec_id, embedding, qe, {_cos_sql('de', 'dqv')} AS acos FROM dq),
cand AS (
  SELECT qid, vec_id, embedding, qe, acos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY acos DESC, vec_id) AS rn
    FROM approx) WHERE rn <= {SQ_CAND})
SELECT qid, vec_id, cos{{approx}} FROM (
  SELECT qid, vec_id,
         ROUND({_cos_sql('embedding', 'qe')}, 4) AS cos,
         ROUND(acos, 4) AS approx_cos,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY {_cos_sql('embedding', 'qe')} DESC,
                                     vec_id) AS rk
  FROM cand) WHERE rk <= {SQ_TOPK}"""
    search = search.replace(
        "{excl}", "\n  WHERE e.vec_id <> q.qid" if exclude_self else ""
    ).replace("{approx}", ", approx_cos" if include_approx else "")
    return "WITH " + ",".join(blocks) + "," + search


@register("sim_ann_batch_topk", oracle=_ivf_sq8_batch_oracle())
def sim_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH serve from the materialized ivf_sq8 index: a query TABLE
    of BATCH_Q vectors, each retrieving its own exact-reranked top-k in
    ONE distributed plan — the production many-queries shape (offline
    eval sets, semantic-dedup probes, candidate generation), vs the
    single literal vector of sim_ivf_sq8_index_topk.  Self-matches are
    excluded per query (a query drawn from the corpus must not retrieve
    itself).

    Scale: the probe is a map-only pass over the query table (centroids
    enter as a model-sized closure); the probed-cell list (≤ k values)
    pushes as a literal IN so file pruning survives batching; candidate
    cut and exact rerank are windows PARTITIONED BY qid — parallel
    across queries, never a global sort.  Reference parity: the batch
    analogue of index-serving point lookups
    (IndexColumnFormatRelation, ColumnFormatRelation.scala:633)."""
    from snappydata_spark import index_ann

    sn = _ann_index_session(spark, sf_dir)
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < BATCH_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return index_ann.search_ivf_sq8_batch(
        sn,
        "emb_ivf",
        queries,
        topk=SQ_TOPK,
        cand=SQ_CAND,
        nprobe=IVFSQ_NPROBE,
        exclude_same_id=True,
        # the oracle simulates a FIXED nprobe — pin it at every sf
        widen_to_full_recall=False,
    )


@register(
    "sim_ann_sql_routed",
    oracle=_ivf_sq8_oracle(exclude_self=False, include_approx=False),
)
def sim_ann_sql_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic index routing, the reference's ResolveIndex analogue
    (SnappyOptimizations.scala:110-250): the user writes PLAIN top-k SQL
    — `SELECT vec_id, ROUND(cosine_sim(embedding, array(...)), 4) AS cos
    FROM emb_base ORDER BY cosine_sim(...) DESC, vec_id LIMIT k` — and
    the session rewrites it to serve from the materialized ivf_sq8 index
    (probe stored centroids → scan only the probed cells' stored codes →
    exact rerank), never running the full-scan HOF cosine.  The physical
    plan reads the index table; tests/test_index_routing.py asserts the
    provenance, the `--+ noIndex` / useIndexes=false opt-outs, and
    routed == exact-scan parity.  Oracle: the same IVF-SQ8 CTE
    simulation as the index query (query vector included — plain SQL has
    no exclude list)."""
    sn = _ann_index_session(spark, sf_dir)
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    arr = ", ".join(repr(v) for v in q)
    return sn.sql(
        f"SELECT vec_id, ROUND(cosine_sim(embedding, array({arr})), 4) AS cos "
        f"FROM emb_base ORDER BY cosine_sim(embedding, array({arr})) DESC, "
        f"vec_id LIMIT {SQ_TOPK}"
    )


@register(
    "sim_ann_batch_sql_routed",
    oracle=_ivf_sq8_batch_oracle(exclude_self=False, include_approx=False),
)
def sim_ann_batch_sql_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH retrieval form routed from PLAIN SQL: the standard
    per-query top-k window idiom over a stored query TABLE —

        SELECT qid, vec_id, cos FROM (
          SELECT q.qid AS qid, t.vec_id, ROUND(cosine_sim(...), 4) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY q.qid
                                    ORDER BY cosine_sim(...) DESC,
                                             t.vec_id) AS rn
          FROM ann_q q CROSS JOIN emb_base t) WHERE rn <= k

    — rewrites onto index_ann.search_ivf_sq8_batch (resolve_index
    _parse_batch_shape): ONE distributed plan probing stored centroids
    per query row, candidate/rerank windows partitioned by qid, never
    the cross-join full scan the SQL literally states.  Oracle: the
    batch IVF-SQ8 CTE simulation without self-exclusion (plain SQL has
    no exclude list)."""
    sn = _ann_index_session(spark, sf_dir)
    if not sn.catalog.exists("ann_q"):
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        sn.create_table(
            "ann_q",
            options={"key_columns": "qid"},
            df=emb.filter(F.col("vec_id") < BATCH_Q).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
            ),
        )
    return sn.sql(
        f"""SELECT qid, vec_id, cos FROM (
  SELECT q.qid AS qid, t.vec_id,
         ROUND(cosine_sim(t.embedding, q.qe), 4) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY cosine_sim(t.embedding, q.qe) DESC,
                                     t.vec_id) AS rn
  FROM ann_q q CROSS JOIN emb_base t) WHERE rn <= {SQ_TOPK}"""
    )


ANN_TAU = 0.2  # similarity threshold for the routed threshold-form query


def _ann_threshold_oracle() -> str:
    from snappydata_spark.operators.dedup_ops import _cos_sql

    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT b.vec_id, ROUND({_cos_sql('b.embedding', 'q.qe')}, 4) AS cos
FROM embeddings b, q
WHERE {_cos_sql('b.embedding', 'q.qe')} > {ANN_TAU}
"""


@register("sim_ann_threshold_sql_routed", oracle=_ann_threshold_oracle())
def sim_ann_threshold_sql_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THRESHOLD retrieval form routed through the index: `SELECT
    vec_id, score FROM emb_base WHERE cosine_sim(embedding, array(...))
    > tau` (no LIMIT) serves from the materialized ivf_sq8 index by
    pruning cells whose residual-radius bound cos(max(0, angle(q,c) -
    radius(c))) cannot reach tau, then EXACT-scoring only surviving
    cells' members (index_ann.threshold_scan_ivf).  Unlike the top-k
    forms, the routed result is provably EQUAL to the full scan (the
    radius bound is sound and the final filter is the exact cosine) —
    the oracle is therefore the plain quadratic filter, no IVF
    simulation needed.  Deletes never shrink stored radii (stale =
    conservative); inserts raise them (refresh_ivf_sq8)."""
    sn = _ann_index_session(spark, sf_dir)
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    arr = ", ".join(repr(v) for v in q)
    return sn.sql(
        f"SELECT vec_id, ROUND(cosine_sim(embedding, array({arr})), 4) AS cos "
        f"FROM emb_base WHERE cosine_sim(embedding, array({arr})) > {ANN_TAU}"
    )
