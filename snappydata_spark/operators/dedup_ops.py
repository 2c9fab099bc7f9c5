"""Dedup + similarity-search operator queries (SURVEY.md §7 M6).

Each near-dup query runs over an augmented corpus = documents UNION a
perturbed copy of each document (id + 1_000_000, one extra token) so the
candidate generation provably *recalls* real near-duplicates — with the
original all-distinct corpus the result sets would be trivially empty.
The DuckDB oracles rebuild the identical md5-derived signatures, so the
hash compare checks the full pipeline (shingle → signature → banding →
pair join), not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from snappydata_spark import dedup
from snappydata_spark.functions import text as T
from snappydata_spark.functions.text import TOKENS_SQL as _TOKS
from snappydata_spark.functions import vector as V
from snappydata_spark.operators.registry import _cleanup_at_exit, register
from snappydata_spark.tables import load_tables


# corpus with perturbed near-dup copies (one extra token per copy)
_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz' FROM documents)
"""

# ... plus VERBATIM duplicate copies (groups of 3 identical docs): the
# corpus shape that makes per-doc pair emission quadratic — the
# minhash/simhash edge queries run over this so the exact-dup collapse
# (member→representative edges, see dedup.collapse_banded_pairs) is
# exercised and hash-verified, not just argued.
_CORPUS_DUP_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz' FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    copies = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return docs.unionByName(copies)


def _corpus_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _CORPUS_DUP_SQL: perturbed copies + two verbatim
    copies of every document (exact-dup groups of size 3)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    verbatim = [
        docs.select(
            (F.col("doc_id") + off).alias("doc_id"), F.col("text")
        )
        for off in (2000000, 3000000)
    ]
    out = _corpus(spark, sf_dir)
    for v in verbatim:
        out = out.unionByName(v)
    return out


# ----------------------------------------------------------------- exact

@register(
    "dedup_exact",
    oracle=r"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string({_TOKS}[1:2], ' ')) AS fp
  FROM documents),
g AS (SELECT fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM fp GROUP BY fp)
SELECT COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
       CAST(SUM(n_copies) AS BIGINT) AS total_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS removable
FROM g
""".replace("{_TOKS}", _TOKS),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a prefix fingerprint (2 tokens —
    full-text fingerprints are all-distinct in this corpus; the blocking
    key makes real groups).  Summary row: groups / dup groups / removable."""
    t = load_tables(spark, sf_dir, ("documents",))
    groups = (
        t["documents"]
        .select("doc_id", T.prefix_fingerprint(F.col("text"), 2).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )
    dup = F.col("n_copies") > 1
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(dup, 1).otherwise(0)).alias("dup_groups"),
        F.sum("n_copies").alias("total_docs"),
        F.sum(F.when(dup, F.col("n_copies") - 1).otherwise(0)).alias("removable"),
    )


# ----------------------------------------------------------------- minhash+LSH

def _minhash_ctes(
    num_hashes: int = 16, bands: int = 4, corpus_sql: str = _CORPUS_SQL
) -> str:
    rows = num_hashes // bands
    # one md5 per shingle + affine rehash family — mirrors
    # dedup._band_rows exactly
    sig_items = ", ".join(
        f"list_min([(h * {2 * i + 1} + {12582917 * i + 1}) % 2147483647 for h in hs])"
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(
                f"sig[{b * rows + r + 1}]::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""{corpus_sql},
tok AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
sh AS (SELECT doc_id,
              [t[x] || ' ' || t[x+1] || ' ' || t[x+2] for x in range(1, len(t) - 1)]
                  AS sh
       FROM tok WHERE len(t) >= 3),
hs AS (SELECT doc_id,
              [('0x' || substr(md5('mh~' || s), 1, 8))::BIGINT for s in sh] AS hs
       FROM sh),
sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hs),
bands AS ({band_selects}),
mh_pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id)"""


def _minhash_edge_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Exact-dup-collapsed edge set over the verbatim-dup corpus: the
    DuckDB statement of dedup.collapse_banded_pairs — group docs by the
    band-ordered hash tuple (equal iff every minhash agrees), emit
    member→min-id-rep edges, self-join bands over representatives only."""
    return f"""WITH {_minhash_ctes(num_hashes, bands, _CORPUS_DUP_SQL)},
dockey AS (SELECT doc_id, string_agg(band_hash, ',' ORDER BY band) AS sk
           FROM bands GROUP BY doc_id),
grp AS (SELECT sk, MIN(doc_id) AS rep FROM dockey GROUP BY sk),
member_edges AS (SELECT g.rep AS doc1, d.doc_id AS doc2
                 FROM dockey d JOIN grp g ON d.sk = g.sk
                 WHERE d.doc_id <> g.rep),
rep_bands AS (SELECT b.doc_id, b.band, b.band_hash
              FROM bands b JOIN grp g ON b.doc_id = g.rep),
rep_pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
              FROM rep_bands a JOIN rep_bands b
                ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id)
SELECT doc1, doc2 FROM member_edges
UNION ALL
SELECT doc1, doc2 FROM rep_pairs"""


@register("dedup_minhash_lsh", oracle=_minhash_edge_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 hashes) + LSH (4 bands × 4 rows) candidate edges over
    the verbatim-dup corpus (each doc has a perturbed near-dup copy plus
    two exact copies): the exact-dup groups collapse to member→rep edges
    before the band self-join, so a k-copy page emits k-1 edges instead
    of k(k-1)/2 pairs — the output stays linear in rows while the edge
    set's transitive closure equals the full pair set
    (dedup.collapse_banded_pairs)."""
    return dedup.minhash_lsh_candidates(
        _corpus_dup(spark, sf_dir), num_hashes=16, bands=4
    )


# ----------------------------------------------------------------- simhash

def _simhash_expr_sql() -> str:
    """DuckDB statement of dedup._simhash_frame (60-bit)."""
    bit_terms = " + ".join(
        f"(CASE WHEN list_aggregate([((h >> {b}) & 1) * 2 - 1 for h in hs], 'sum') > 0"
        f" THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(60)
    )
    return f"""
tok AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM corpus),
hashed AS (SELECT doc_id,
                  [('0x' || substr(md5('sh~' || x), 1, 15))::BIGINT for x in t] AS hs
           FROM tok),
sh AS (SELECT doc_id, {bit_terms} AS simhash FROM hashed)
"""


@register(
    "dedup_simhash",
    oracle=f"""
WITH {_CORPUS_DUP_SQL},
{_simhash_expr_sql()},
grp AS (SELECT simhash, MIN(doc_id) AS rep FROM sh GROUP BY simhash)
SELECT g.rep AS doc1, s.doc_id AS doc2, 0 AS hamming
FROM sh s JOIN grp g ON s.simhash = g.simhash
WHERE s.doc_id <> g.rep
UNION ALL
SELECT LEAST(a.rep, b.rep) AS doc1, GREATEST(a.rep, b.rep) AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM grp a JOIN grp b ON a.simhash < b.simhash
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup edges (hamming ≤ 3) over the verbatim-dup
    corpus.  Spark side blocks DISTINCT signatures on byte-bands
    (pigeonhole) and collapses exact-dup groups to member→rep edges, so
    both candidate generation AND output stay linear in documents; the
    oracle states the same edge set quadratically over distinct
    signatures."""
    return dedup.simhash_candidates(_corpus_dup(spark, sf_dir), max_hamming=3)


# ----------------------------------------------------------------- ngram jaccard

@register(
    "dedup_ngram_jaccard",
    oracle=r"""
WITH {CORPUS},
tok AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
sh0 AS (SELECT doc_id,
               md5(array_to_string(t[1:2], ' ')) AS blk,
               list_distinct([t[x] || ' ' || t[x+1] || ' ' || t[x+2]
                              for x in range(1, len(t) - 1)]) AS sh
        FROM tok),
shf AS (SELECT doc_id, blk, sh,
               md5(array_to_string(list_sort(sh), chr(1))) AS sk
        FROM sh0 WHERE len(sh) > 0),
grp AS (SELECT blk, sk, MIN(doc_id) AS rep FROM shf GROUP BY blk, sk),
member_edges AS (
  SELECT g.rep AS doc1, s.doc_id AS doc2, CAST(1.0 AS DOUBLE) AS jaccard
  FROM shf s JOIN grp g ON s.blk = g.blk AND s.sk = g.sk
  WHERE s.doc_id <> g.rep),
reps AS (SELECT s.* FROM shf s JOIN grp g ON s.doc_id = g.rep),
rep_pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
  FROM reps a JOIN reps b ON a.blk = b.blk AND a.doc_id < b.doc_id)
SELECT doc1, doc2, jaccard FROM member_edges
UNION ALL
SELECT doc1, doc2, jaccard FROM rep_pairs WHERE jaccard >= 0.5
""".replace("{CORPUS}", _CORPUS_DUP_SQL).replace("{_TOKS}", _TOKS),
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 within 2-token prefix blocks over the
    verbatim-dup corpus, with identical shingle SETS collapsed to
    member→rep edges (jaccard 1.0) before the pairwise join — jaccard
    depends only on the sets, so the edge set's closure equals the full
    ≥-threshold pair set's while output stays linear in rows (the r7
    sf10 fix; see dedup.ngram_jaccard_pairs)."""
    return dedup.ngram_jaccard_pairs(
        _corpus_dup(spark, sf_dir), shingle_n=3, threshold=0.5, block_tokens=2
    )


# ----------------------------------------------------------------- embedding cosine

_COS_SQL = """
list_aggregate([a.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE
                for x in range(1, len(a.embedding) + 1)], 'sum')
/ (sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in a.embedding], 'sum'))
   * sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in b.embedding], 'sum')))
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH sb AS (
  SELECT vec_id, label, embedding,
         (ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1) // 1024
             AS sub
  FROM embeddings),
pairs AS (
  SELECT a.label AS blk, a.sub AS sub, a.vec_id AS v1, b.vec_id AS v2,
         ROUND({_COS_SQL}, 4) AS cos
  FROM sb a JOIN sb b
    ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
  -- zero-vector pairs have cosine 0/0 = NaN, which DuckDB orders ABOVE
  -- every double; the engine drops them before ranking (dedup/__init__)
  WHERE NOT isnan({_COS_SQL})),
ranked AS (
  SELECT blk, v1, v2, cos,
         ROW_NUMBER() OVER (PARTITION BY blk, sub
                            ORDER BY cos DESC, v1, v2) AS rn
  FROM pairs)
SELECT blk, v1, v2, cos, rn FROM ranked WHERE rn <= 3
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-3 most-similar pairs per label
    block (label stands in for an ANN cluster / LSH bucket id), with the
    r7 hard sub-block cap (1024 rows per pairwise task — a degenerate
    block cannot build an unbounded b×b matrix; see
    dedup.embedding_near_dups).  At this corpus's block sizes the cap
    never binds, so the oracle's sub key reproduces the engine's exactly
    and results equal the uncapped semantics."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    return dedup.embedding_near_dups(t["embeddings"], top_per_block=3)


# ----------------------------------------------------------------- similarity search

@register(
    "sim_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT b.vec_id,
       ROUND(list_aggregate([q.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE
                             for x in range(1, len(q.embedding) + 1)], 'sum')
             / (sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in q.embedding], 'sum'))
                * sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in b.embedding], 'sum'))), 4)
           AS cos
FROM embeddings b, q
WHERE b.vec_id <> 0
ORDER BY cos DESC, b.vec_id
LIMIT 10
""",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: broadcast the query vector,
    map-side cosine fold, TakeOrderedAndProject top-k — the exact-recall
    reference an IVF/LSH path is measured against."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("embedding"), F.col("qe")), 4).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(10)
    )


def _lsh_bucket_sql(num_planes: int = 6) -> str:
    projs = ", ".join(
        f"""list_aggregate([embedding[x]::DOUBLE *
            (('0x' || substr(md5('plane{p}~' || (x - 1)::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 2147483648.0 - 1.0)
            for x in range(1, len(embedding) + 1)], 'sum') AS proj{p}"""
        for p in range(num_planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN proj{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(num_planes)
    )
    return f"""
WITH proj AS (SELECT vec_id, {projs} FROM embeddings)
SELECT bucket, COUNT(*) AS n_vectors
FROM (SELECT vec_id, {bucket} AS bucket FROM proj)
GROUP BY bucket
"""


@register("sim_lsh_buckets", oracle=_lsh_bucket_sql())
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the scale path for ANN: search
    only within a bucket).  Hyperplanes are md5-derived, so the bucket
    assignment is exactly reproducible in the oracle."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    return (
        t["embeddings"]
        .select(
            "vec_id",
            V.lsh_hyperplane_bucket(F.col("embedding"), num_planes=6, dims=64).alias(
                "bucket"
            ),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _cos_sql(a: str, b: str) -> str:
    """Hand-rolled cosine in DuckDB SQL, same fold order as V.cosine
    (left-to-right double sum) so floats match bit-for-bit."""
    return f"""(list_aggregate([{a}[x]::DOUBLE * {b}[x]::DOUBLE
                 for x in range(1, len({a}) + 1)], 'sum')
        / (sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in {a}], 'sum'))
           * sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in {b}], 'sum'))))"""


_IVF_SQL = f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
              WHERE vec_id % 31 = 1 AND vec_id < 1984),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cc AS (SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.ce')} AS cc
       FROM embeddings e, cent c),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
    FROM cc) WHERE rn = 1),
probe AS (SELECT cid AS cell FROM
    (SELECT c.cid, {_cos_sql('c.ce', 'q.qe')} AS qc FROM cent c, q)
    ORDER BY qc DESC, cid LIMIT 4)
SELECT e.vec_id, ROUND({_cos_sql('e.embedding', 'q.qe')}, 4) AS cos
FROM embeddings e
JOIN assign a ON a.vec_id = e.vec_id
JOIN probe p ON p.cell = a.cell
CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY cos DESC, e.vec_id
LIMIT 10
"""


@register("sim_ivf_topk", oracle=_IVF_SQL)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (snappydata_spark.ann): deterministic sample centroids
    (vec_id % 31 == 1 stands in for an offline KMeans), argmax cell
    assignment, probe the 4 nearest cells, brute-force only inside them.
    The pruning ratio (nprobe/C) is what makes this the 100 TB path —
    candidates shrink before any per-pair math."""
    from snappydata_spark import ann

    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    # fixed-K coarse quantizer: the id cap keeps the centroid count
    # <= 64 at ANY scale factor (without it the mod-31 sample grows
    # centroids LINEARLY with the corpus and the n x k assignment goes
    # quadratic -- the r7 sf10 rehearsal wedged on exactly that; real
    # IVF trains a constant K, which the materialized ivf_sq8 index does)
    cent = emb.filter(
        (F.col("vec_id") % 31 == 1) & (F.col("vec_id") < 1984)
    ).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assign = ann.ivf_assign(emb, cent)
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return ann.ivf_search(
        emb.filter(F.col("vec_id") != 0), assign, cent, query, k=10, nprobe=4
    )


@register("sim_ivf_topk_vectorized", oracle=_IVF_SQL)
def sim_ivf_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same IVF search, but cell assignment via the numpy mapInPandas
    scale path (ann.ivf_assign_vectorized): one Arrow-batched matmul per
    partition, zero shuffle, no per-centroid row explosion — the
    assignment plan that survives 100 TB.  Agreement with the DataFrame
    argmax path is pytest-asserted (tests/test_ann.py), and this variant
    hash-checks against the same DuckDB oracle."""
    from snappydata_spark import ann

    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    # fixed-K coarse quantizer: the id cap keeps the centroid count
    # <= 64 at ANY scale factor (without it the mod-31 sample grows
    # centroids LINEARLY with the corpus and the n x k assignment goes
    # quadratic -- the r7 sf10 rehearsal wedged on exactly that; real
    # IVF trains a constant K, which the materialized ivf_sq8 index does)
    cent = emb.filter(
        (F.col("vec_id") % 31 == 1) & (F.col("vec_id") < 1984)
    ).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cent_rows = ann.collect_centroids(cent)
    assign = ann.ivf_assign_vectorized(emb, cent_rows)
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return ann.ivf_search(
        emb.filter(F.col("vec_id") != 0), assign, cent, query, k=10, nprobe=4
    )


# -------------------------------------------------------- cluster + keep-one

@register(
    "dedup_cluster_components",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes(corpus_sql=_CORPUS_DUP_SQL)},
edges AS (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
          UNION SELECT doc2, doc1 FROM mh_pairs),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (SELECT a AS node, LEAST(a, MIN(b)) AS cluster
           FROM reach GROUP BY a)
SELECT node, cluster FROM labels
""",
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate edges → connected components (iterative min-label
    propagation, dedup.connected_components) — the clustering step that
    turns pairwise near-dup hits into keep-one groups.  The engine
    clusters the exact-dup-COLLAPSED edge set (linear output) while the
    oracle closes over the FULL per-doc pair list with a recursive
    transitive-closure CTE — hash equality proves the collapse preserves
    the components exactly, on a corpus with real 3-copy dup groups."""
    pairs = dedup.minhash_lsh_candidates(
        _corpus_dup(spark, sf_dir), num_hashes=16, bands=4
    )
    return dedup.connected_components(pairs)


@register(
    "dedup_keep_one_per_cluster",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes(corpus_sql=_CORPUS_DUP_SQL)},
edges AS (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
          UNION SELECT doc2, doc1 FROM mh_pairs),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (SELECT a AS node, LEAST(a, MIN(b)) AS cluster
           FROM reach GROUP BY a)
SELECT COUNT(*) AS n_kept, COUNT(DISTINCT doc_id) AS n_distinct
FROM corpus
WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster)
""",
)
def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup resolution: cluster the collapsed candidate
    edges, keep only each cluster's min-id representative plus all
    unclustered docs — verified against the oracle's closure over the
    FULL pair list on the verbatim-dup corpus."""
    corpus = _corpus_dup(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(corpus, num_hashes=16, bands=4)
    clusters = dedup.connected_components(pairs)
    kept = dedup.keep_one_per_cluster(corpus, clusters)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


def _knn_oracle_sql(
    bands: int = 2,
    target_bucket: int = 32,
    min_planes: int = 4,
    max_planes: int = 24,
    sub_cap: int = 256,
    k: int = 3,
    vec_sql: str = "SELECT vec_id, embedding FROM embeddings",
    final_sql: str | None = None,
) -> str:
    # plane count derived from COUNT(*) inside the query, so the oracle
    # reproduces the corpus-scaled bucketing exactly at any sf.
    # `vec_sql` is the vector source relation (the collapsed twin passes
    # the distinct-embedding rep set); `final_sql` optionally replaces
    # the trailing SELECT (it sees the `topk` CTE).
    tail = final_sql or "SELECT src, dst, sim, rank FROM topk"
    return f"""
WITH vsrc AS ({vec_sql}),
np AS (
  SELECT LEAST({max_planes}, GREATEST({min_planes},
               CEIL(LOG2(COUNT(*) / {target_bucket}.0))::INT)) AS bp
  FROM vsrc),
comps AS (
  SELECT band, p,
         [('0x' || substr(md5('b' || band::VARCHAR || 'plane' || p::VARCHAR
                               || '~' || d::VARCHAR), 1, 8))::UBIGINT::DOUBLE
            / 2147483648.0 - 1.0
          for d in range(0, 64)] AS cvec
  FROM (SELECT unnest(range(0, {bands})) AS band),
       (SELECT unnest(range(0, {max_planes})) AS p), np
  WHERE p < np.bp),
proj AS (
  SELECT e.vec_id, c.band, c.p,
         list_aggregate([e.embedding[x]::DOUBLE * c.cvec[x]
                         for x in range(1, len(e.embedding) + 1)], 'sum') AS pr
  FROM vsrc e CROSS JOIN comps c),
bkt AS (
  SELECT vec_id, band,
         SUM(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
  FROM proj GROUP BY vec_id, band),
sb AS (
  SELECT vec_id, band, bucket,
         (ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY vec_id) - 1)
           // {sub_cap} AS sub
  FROM bkt),
cand AS (
  SELECT DISTINCT s1.vec_id AS src, s2.vec_id AS dst
  FROM sb s1 JOIN sb s2
    ON s1.band = s2.band AND s1.bucket = s2.bucket AND s1.sub = s2.sub
   AND s1.vec_id <> s2.vec_id),
nv AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate([v::DOUBLE * v::DOUBLE for v in embedding],
                             'sum')) AS nrm
  FROM vsrc),
pairs AS (
  SELECT c.src, c.dst,
         (list_aggregate([a.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE
                          for x in range(1, len(a.embedding) + 1)], 'sum')
          / (a.nrm * b.nrm)) AS sim
  FROM cand c JOIN nv a ON a.vec_id = c.src JOIN nv b ON b.vec_id = c.dst),
topk AS (
  SELECT src, dst, ROUND(sim, 4) AS sim, rank FROM (
    SELECT src, dst, sim,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rank
    FROM pairs) WHERE rank <= {k})
{tail}
"""


def knn_graph_candidates(
    emb: DataFrame,
    bands: int = 2,
    target_bucket: int = 32,
    min_planes: int = 4,
    max_planes: int = 24,
    sub_cap: int = 256,
    dims: int = 64,
    payload: dict | None = None,
) -> DataFrame:
    """Scale-safe k-NN candidate pairs via banded hyperplane LSH.

    Two independent scale disciplines (both required — either alone
    breaks at 100× data):

    1. **Corpus-scaled plane count**: bp = clamp(ceil(log2(n /
       target_bucket)), min_planes, max_planes), so the expected bucket
       size stays ≈ target_bucket as n grows — expected pair count is
       Θ(n · target_bucket · bands), not Θ(n²/2^const) (the round-2
       fixed-64-bucket defect).
    2. **Hard sub-bucket split**: within each (band, bucket), rows are
       row_number-ordered by vec_id and chopped into sub-buckets of
       ≤ sub_cap members, so even a pathological hot bucket (near-
       identical vectors LSH cannot separate) produces ≤ n·sub_cap·bands
       pairs — a deterministic, oracle-reproducible cap.  Recall inside
       an over-full bucket degrades (cross-sub pairs are skipped) — the
       documented trade for a worst-case bound.

    `bands` hyperplane families (distinct md5 seed namespaces) each
    contribute candidates; the union (dedup on src,dst) restores the
    recall a deeper single code would lose.  One shuffle on (band,
    bucket) for the window, one self-join on (band, bucket, sub).

    `payload` maps extra column names to Columns evaluated on `emb`;
    they ride along through the bucket join (no id re-join), and the
    result carries each as <name>_l / <name>_r for the two sides.
    Measured caveat (round 4): carrying a 64-dim embedding payload
    through the window shuffle, self-join, and the (src, dst)
    dropDuplicates costs ~2.7x vs generating ID-ONLY pairs and joining
    the vectors back by id afterwards — wide rows in three shuffles
    lose to two extra narrow joins.  Callers that need per-pair vector
    math should take the id-only pairs and join the payload back
    (sim_knn_graph does); payload mode remains for small scalar
    payloads (a norm, a bucket label)."""
    import math

    from pyspark.sql import Window as W

    n = emb.count()
    bp = min(
        max_planes,
        max(min_planes, math.ceil(math.log2(max(n, 1) / float(target_bucket)))),
    )
    pcols = list(payload) if payload else []
    if not pcols:
        # id-only fast path: all bands' hyperplane projections in one
        # vectorized numpy pass — float-exact to V.lsh_hyperplane_bucket
        # (same md5-derived plane doubles; per-plane projection is the
        # sequential fold via np.cumsum; sign bits are exact integers).
        # The Catalyst fold evaluated bands*bp*dims interpreted lambdas
        # per row and did not scale across local threads.
        import hashlib

        import numpy as np

        plane_mats = [
            np.array(
                [
                    [
                        int(
                            hashlib.md5(f"b{band}plane{p}~{d}".encode()).hexdigest()[
                                :8
                            ],
                            16,
                        )
                        / float(2**31)
                        - 1.0
                        for d in range(dims)
                    ]
                    for p in range(bp)
                ],
                dtype=np.float64,
            )
            for band in range(bands)
        ]

        def bucketize(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                out = {"vec_id": pdf["vec_id"].values}
                for band in range(bands):
                    pm = plane_mats[band]
                    codes = np.zeros(len(pdf), dtype=np.int64)
                    for p in range(bp):
                        # sequential fold per projection (cumsum prefix
                        # semantics == the expression fold)
                        proj = np.cumsum(vecs * pm[p], axis=1)[:, -1]
                        codes += (proj > 0).astype(np.int64) << p
                    out[f"bucket{band}"] = codes
                yield pd.DataFrame(out)

        id_type = dict(emb.dtypes)["vec_id"]
        bschema = ", ".join(
            [f"vec_id {id_type}"] + [f"bucket{b} long" for b in range(bands)]
        )
        par = emb.sparkSession.sparkContext.defaultParallelism
        buckets = (
            emb.select("vec_id", "embedding")
            .repartition(par)
            .mapInPandas(bucketize, bschema)
        )
    else:
        buckets = emb.select(
            "vec_id",
            *[payload[c].alias(c) for c in pcols],
            *[
                V.lsh_hyperplane_bucket(
                    F.col("embedding"), bp, dims, seed=f"b{band}plane"
                ).alias(f"bucket{band}")
                for band in range(bands)
            ],
        )
    melted = buckets.select(
        "vec_id",
        *pcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.col(f"bucket{band}").alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", *pcols, "bb.band", "bb.bucket")
    w = W.partitionBy("band", "bucket").orderBy("vec_id")
    sb = melted.withColumn(
        "sub", F.floor((F.row_number().over(w) - 1) / sub_cap)
    )
    joined = (
        sb.alias("l")
        .join(sb.alias("r"), ["band", "bucket", "sub"])
        .filter(F.col("l.vec_id") != F.col("r.vec_id"))
    )
    if not pcols:
        return joined.select(
            F.col("l.vec_id").alias("src"), F.col("r.vec_id").alias("dst")
        ).distinct()
    # bands can emit the same pair twice; payload columns are identical
    # per (src, dst), so dropDuplicates is deterministic
    return joined.select(
        F.col("l.vec_id").alias("src"),
        F.col("r.vec_id").alias("dst"),
        *[F.col(f"l.{c}").alias(f"{c}_l") for c in pcols],
        *[F.col(f"r.{c}").alias(f"{c}_r") for c in pcols],
    ).dropDuplicates(["src", "dst"])


@register("sim_knn_graph_members", oracle=_knn_oracle_sql())
def sim_knn_graph_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPT-IN member-granularity k-NN graph — `knn_graph(emb,
    collapse=False)`, every vector (including byte-identical mirrors) a
    node.  Candidate generation is knn_graph_candidates (plane count
    scales with n, hard sub_cap bucket split — pair count
    Θ(n·target_bucket·bands) expected, ≤ n·sub_cap·bands worst-case);
    cosine is computed only on candidate ids via two id-keyed joins
    against the norm-precomputed vectors, then a per-src top-k window.
    The md5-derived planes and fold-order-matched cosine make the whole
    graph (ids, ranks, similarities) hash-checkable against the oracle.

    The candidate stage emits NARROW (src, dst) id pairs — the banded
    dedup, window, and self-join all shuffle 16-byte rows — and the
    vectors join back by id afterwards (2.1x faster measured at sf0.1
    than riding the embeddings through the bucket join; at 100 TB the
    id-keyed joins are plain shuffle joins on the pair set, which the
    sub_cap bound keeps linear in n).

    WHY opt-in (r10, the former `sim_knn_graph` name): with m
    byte-identical copies of a vector, the in-bucket pair set is
    Θ(n·min(m, sub_cap)) and every top-k list is the vector's own
    mirrors at sim 1.0 — pure waste that OOMs the sf100 rehearsal
    (~1 B wide mirror pairs).  The DEFAULT `sim_knn_graph` /
    `knn_graph(collapse=True)` collapses exact duplicates first and is
    invariant to the mirror factor; use this shape only when distinct
    ids with identical payloads genuinely need separate neighbor lists
    (BENCH_SF100.md)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    return knn_graph(emb, collapse=False)


def _knn_scored_pairs(
    emb: DataFrame,
    bands: int = 2,
    target_bucket: int = 32,
    min_planes: int = 4,
    max_planes: int = 24,
    sub_cap: int = 256,
    dims: int = 64,
) -> DataFrame:
    """Scored in-bucket cosine pairs, generated WHERE THE DATA LIVES
    (r12, guide §8/§4.2 — the semdedup discipline applied to the k-NN
    graph): instead of emitting id-only candidate pairs and re-attaching
    both embeddings via two wide shuffle joins (each embedding crossed
    an exchange once per PAIR occurrence ≈ target_bucket·bands times),
    the banded rows carry their embedding into the (band, bucket, sub)
    group and one applyInPandas generates + scores every ordered pair in
    numpy.  Each embedding crosses the exchange exactly `bands` times.
    The former plan also re-executed the whole bucketize pipeline
    (python pass + window + 2 exchanges) once per self-join side —
    canonicalization does not unify the two MapInPandas subtrees — which
    this shape does away with entirely.

    Scale disciplines are knn_graph_candidates' own, unchanged:
    corpus-scaled plane count bp and the hard sub_cap split, so the
    per-group pandas state is O(sub_cap·dims) and pair count is
    Θ(n·target_bucket·bands) expected / ≤ n·sub_cap·bands worst-case.

    Bit-exactness: dot and norm are sequential left-to-right folds over
    float64 (np.cumsum == the Catalyst aggregate fold V.dot/V.norm
    used before); a pair found by both bands scores IDENTICALLY in each
    group (same IEEE ops on the same doubles), so the post-score
    dropDuplicates keeps the same values the pre-score distinct did."""
    import hashlib
    import math

    import numpy as np

    from pyspark.sql import Window as W

    n = emb.count()
    bp = min(
        max_planes,
        max(min_planes, math.ceil(math.log2(max(n, 1) / float(target_bucket)))),
    )
    plane_mats = [
        np.array(
            [
                [
                    int(
                        hashlib.md5(f"b{band}plane{p}~{d}".encode()).hexdigest()[
                            :8
                        ],
                        16,
                    )
                    / float(2**31)
                    - 1.0
                    for d in range(dims)
                ]
                for p in range(bp)
            ],
            dtype=np.float64,
        )
        for band in range(bands)
    ]

    def bucketize(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            frames = []
            for band in range(bands):
                pm = plane_mats[band]
                codes = np.zeros(len(pdf), dtype=np.int64)
                for p in range(bp):
                    # sequential fold per projection (cumsum prefix
                    # semantics == the expression fold)
                    proj = np.cumsum(vecs * pm[p], axis=1)[:, -1]
                    codes += (proj > 0).astype(np.int64) << p
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].values,
                            "band": np.full(len(pdf), band, dtype=np.int32),
                            "bucket": codes,
                            "embedding": pdf["embedding"].values,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    id_type = dict(emb.dtypes)["vec_id"]
    emb_type = dict(emb.dtypes)["embedding"]
    par = emb.sparkSession.sparkContext.defaultParallelism
    banded = (
        emb.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(
            bucketize,
            f"vec_id {id_type}, band int, bucket long, embedding {emb_type}",
        )
    )
    # ONE exchange on (band, bucket): the sub_cap window partitioning
    # also satisfies the applyInPandas grouping (subset rule), so the
    # group scorer runs in the same exchange.
    w = W.partitionBy("band", "bucket").orderBy("vec_id")
    sb = banded.withColumn(
        "sub", F.floor((F.row_number().over(w) - 1) / sub_cap)
    )

    def score_group(pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:
            # derive src/dst dtype from the input id column so a non-long
            # vec_id (int32/string) does not mis-cast on singleton groups
            return pd.DataFrame({"src": [], "dst": [], "sim": []}).astype(
                {
                    "src": pdf["vec_id"].dtype,
                    "dst": pdf["vec_id"].dtype,
                    "sim": "float64",
                }
            )
        ids = pdf["vec_id"].to_numpy()
        vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        # V.norm's fold: sqrt of the left-to-right sum of squares
        nrms = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])
        idx = np.arange(m)
        src, dst, sim = [], [], []
        for i in range(m):
            # V.dot's fold per pair; elementwise product is commutative,
            # so the l/r orientation of the old join is irrelevant
            dots = np.cumsum(vecs * vecs[i], axis=1)[:, -1]
            sims = dots / (nrms[i] * nrms)
            mask = idx != i
            src.append(np.full(m - 1, ids[i]))
            dst.append(ids[mask])
            sim.append(sims[mask])
        return pd.DataFrame(
            {
                "src": np.concatenate(src),
                "dst": np.concatenate(dst),
                "sim": np.concatenate(sim),
            }
        )

    return (
        sb.groupBy("band", "bucket", "sub")
        .applyInPandas(score_group, f"src {id_type}, dst {id_type}, sim double")
        .dropDuplicates(["src", "dst"])
    )


def _knn_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Banded-LSH in-group scored pairs + per-src top-k — the shared
    core of sim_knn_graph and its member-granularity twin."""
    from pyspark.sql import Window as W

    pairs = _knn_scored_pairs(emb)
    w = W.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", F.round("sim", 4).alias("sim"), "rank")
    )


_KNN_COLLAPSED_VEC_SQL = """SELECT MIN(vec_id) AS vec_id, embedding
FROM embeddings GROUP BY embedding"""


def _collapse_reps(emb: DataFrame) -> DataFrame:
    """Duplicate-vector collapse for knn_graph: one representative
    (min vec_id) + multiplicity per DISTINCT embedding, grouped on a
    32-byte md5 digest so the shuffle never carries the 8·d-byte vector
    (r10, verdict Wrong#1).  Negative zeros normalize first (r10
    advice): -0.0 and 0.0 compare equal under GROUP BY but stringify
    differently ('-0.0' vs '0.0'), so digesting the raw cast would split
    one numeric group in two and yield more representatives than the
    oracle's GROUP BY embedding; x + 0.0 maps -0.0 to +0.0 and is the
    identity for every other value (NaN stays NaN, which groupBy already
    treats as equal to itself).  localCheckpoint truncates lineage so
    the collapse aggregation runs ONCE across downstream consumers: the
    plane-count count() and the three readers in knn_graph.  The readers
    need different columns, so without it no exchange is shared: at
    sf0.1 on local[4] the digest aggregate then ran 3 times and the
    query was about 1 s slower cold.  The checkpoint is not released,
    so each call leaves one RDD persisted for the session."""
    zn = F.transform(F.col("embedding"), lambda x: x + F.lit(0.0))
    grp = (
        emb.select("vec_id", F.md5(zn.cast("string")).alias("dg"))
        .groupBy("dg")
        .agg(F.min("vec_id").alias("vec_id"), F.count(F.lit(1)).alias("n"))
        .drop("dg")
    )
    return (
        grp.join(emb, "vec_id")
        .select("vec_id", "n", "embedding")
        .localCheckpoint(eager=True)
    )


def knn_graph(emb: DataFrame, k: int = 3, collapse: bool = True) -> DataFrame:
    """PUBLIC k-NN graph API over an (vec_id, embedding) frame.

    ``collapse=True`` (the DEFAULT, r10 — the shape that survives 100 TB):
    byte-identical embeddings collapse to their min-id representative
    FIRST (exact-dup dedup, the same discipline the minhash family
    applies to text), the LSH-banded graph is built over representatives
    only, and each edge carries both groups' member counts (columns
    n_src/n_dst — an edge stands for n_src·n_dst member edges, so the
    member-level graph is recoverable).  Rationale: mirrors sit at
    sim 1.0, so a member's neighbor list under uncollapsed semantics is
    just its own copies — at the sf100 rehearsal (1000 verbatim copies
    per vector) the uncollapsed shape's candidate join carries ~1 B wide
    pairs and dies on executor heap, while this plan's pair stage is
    invariant to the duplication factor.

    ``collapse=False`` opts into member granularity (columns
    src/dst/sim/rank only) — quadratic in the mirror factor by
    definition; reference conflation discipline:
    internal/ColumnTableBulkOps.scala:46-120 (first-match-wins collapse
    before the expensive stage)."""
    if not collapse:
        return _knn_topk(emb, k)
    # r10 (verdict Wrong#1): group on a FIXED-WIDTH md5 digest of the
    # vector instead of the d-dimensional array itself — the collapse
    # shuffle carries 32-byte keys, not 8·d-byte vector payloads (Spark's
    # double→string cast is shortest-round-trip, so distinct values never
    # share a digest preimage); the representative vector rejoins by
    # vec_id.  localCheckpoint truncates lineage so the collapse
    # aggregation runs ONCE, not once per downstream consumer (candidate
    # banding, norm join, n_src/n_dst joins — ADVICE r9).
    reps = _collapse_reps(emb)
    topk = _knn_topk(reps.select("vec_id", "embedding"), k)
    gs = reps.select(F.col("vec_id").alias("src"), F.col("n").alias("n_src"))
    gd = reps.select(F.col("vec_id").alias("dst"), F.col("n").alias("n_dst"))
    return topk.join(gs, "src").join(gd, "dst").select(
        "src", "dst", "sim", "rank", "n_src", "n_dst"
    )


@register(
    "sim_knn_graph",
    oracle=_knn_oracle_sql(
        vec_sql=_KNN_COLLAPSED_VEC_SQL,
        final_sql=""", grpn AS (
  SELECT MIN(vec_id) AS vec_id, COUNT(*)::BIGINT AS n
  FROM embeddings GROUP BY embedding)
SELECT t.src, t.dst, t.sim, t.rank, gs.n AS n_src, gd.n AS n_dst
FROM topk t
JOIN grpn gs ON gs.vec_id = t.src
JOIN grpn gd ON gd.vec_id = t.dst""",
    ),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION k-NN graph (r10: the DEFAULT name now carries the
    duplicate-collapsed semantics that survive the sf100 rehearsal —
    formerly `sim_knn_graph_collapsed`; the member-granularity shape is
    the opt-in `sim_knn_graph_members`).  See knn_graph(collapse=True)
    for the collapse-first plan and the n_src/n_dst recoverability
    contract."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    return knn_graph(t["embeddings"])


# ----------------------------------------------------------------- containment

@register(
    "dedup_containment",
    oracle=r"""
WITH {CORPUS},
tok AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
sh0 AS (SELECT doc_id,
               list_distinct([t[x] || ' ' || t[x+1] || ' ' || t[x+2]
                              for x in range(1, len(t) - 1)]) AS sh
        FROM tok),
sh AS (SELECT doc_id,
              list_sort(list_distinct(
                  [('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT
                   for s in sh])) AS sh
       FROM sh0 WHERE len(sh) > 0),
probe AS (
  SELECT doc_id, len(sh) AS sz, unnest(sh[1:3]) AS key FROM sh
),
idx AS (
  SELECT doc_id, sz, key FROM (
    SELECT doc_id, sz, key, COUNT(*) OVER (PARTITION BY key) AS df FROM (
      SELECT doc_id, len(sh) AS sz, unnest(sh) AS key FROM sh) u0) u1
  WHERE df <= 30
),
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM probe a JOIN idx b
    ON a.key = b.key AND a.doc_id <> b.doc_id AND b.sz >= 0.6 * a.sz
)
SELECT c.src, c.dst,
       ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh), 4)
           AS containment
FROM cand c
JOIN sh sa ON sa.doc_id = c.src
JOIN sh sb ON sb.doc_id = c.dst
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh) >= 0.6
""".replace("{CORPUS}", _CORPUS_SQL).replace("{_TOKS}", _TOKS),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment ≥ 0.6 with df-capped, size-prefiltered
    min-hash inverted-index candidate generation over 60-bit hashed
    shingle sets (see dedup.containment_pairs; max_df bounds the
    per-key fan-out so pair count is linear in corpus size)."""
    return dedup.containment_pairs(
        _corpus(spark, sf_dir),
        shingle_n=3,
        threshold=0.6,
        index_shingles=3,
        max_df=30,
    )


# ------------------------------------ materialized MinHash-LSH index

_MINHASH_SESSIONS: dict[str, object] = {}


def _minhash_index_session(spark: SparkSession, sf_dir: str):
    """Build-once/probe-many session for the minhash band index over
    the perturbed corpus (the index twin of _ann_index_session in
    corpus_ops.py; reference: CREATE INDEX materialized as a maintained
    table, IndexColumnFormatRelation)."""
    key = sf_dir.rstrip("/")
    sn = _MINHASH_SESSIONS.get(key)
    if sn is not None:
        return sn
    import tempfile

    from snappydata_spark import SnappySession

    sn = SnappySession(
        spark, store_dir=tempfile.mkdtemp(prefix="minhash_index_store_")
    )
    _cleanup_at_exit(sn.catalog.base_dir)
    sn.create_table(
        "corpus_base",
        options={"key_columns": "doc_id"},
        df=_corpus_dup(spark, sf_dir),
    )
    sn.sql("CREATE INDEX corpus_mh ON corpus_base(text) USING minhash")
    _MINHASH_SESSIONS[key] = sn
    return sn


@register("dedup_minhash_lsh_index", oracle=_minhash_edge_oracle())
def dedup_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-index twin of dedup_minhash_lsh: identical
    collapsed-edge semantics and oracle, but the shingle->md5->minhash
    signature pipeline runs ONCE at CREATE INDEX time (the dominant
    cost); every query is the signature collapse + rep band self-join
    over the stored (doc_id, band, band_hash) table.  Mutations re-band
    only the touched docs (index_minhash.refresh_minhash)."""
    from snappydata_spark import index_minhash

    sn = _minhash_index_session(spark, sf_dir)
    return index_minhash.candidate_pairs(sn, "corpus_mh")


def _gate_base_index_session(spark: SparkSession, sf_dir: str):
    """docs_base + its base_mh minhash index in the shared build-once
    session (the member-granularity gate's store; also forced by the
    scale-sweep prebuild so index builds are timed as their own rows,
    tools/bench_registry_sf.py)."""
    sn = _minhash_index_session(spark, sf_dir)
    if "base_mh" not in sn._ann_indexes:
        # docs_base may already exist (txt_bm25_index_topk shares it in
        # this build-once session) — create only when absent
        if not sn.catalog.exists("docs_base"):
            docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
                "doc_id", "text"
            )
            sn.create_table(
                "docs_base", options={"key_columns": "doc_id"}, df=docs
            )
        sn.sql("CREATE INDEX base_mh ON docs_base(text) USING minhash")
    return sn


def _gate_oracle() -> str:
    """Probe-vs-corpus candidate pairs: the perturbed copies (doc_id >=
    1000000) act as the INCOMING batch probed against the base corpus'
    stored bands — exactly the mh_pairs CTE restricted to
    (base, probe) pairs."""
    return f"""WITH {_minhash_ctes(16, 4)}
SELECT doc2 - 1000000 AS probe_id, doc1 AS match_id
FROM mh_pairs WHERE doc1 < 1000000 AND doc2 >= 1000000
UNION
SELECT doc1 - 1000000 AS probe_id, doc2 AS match_id
FROM mh_pairs WHERE doc2 < 1000000 AND doc1 >= 1000000"""


@register("dedup_incoming_batch_gate_members", oracle=_gate_oracle())
def dedup_incoming_batch_gate_members(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPT-IN member-granularity ingestion gate (r10: formerly the
    `dedup_incoming_batch_gate` name; the DEFAULT name now carries the
    rep-collapsed contract that survives the sf100 rehearsal — this
    shape's output is |probe| x |group members|, quadratic in the
    verbatim-mirror factor, ~6 B rows at sf100).  Band the incoming
    batch (the perturbed near-dup copies, probe ids re-based to the
    original doc ids) and join against the STORED band table of the
    base corpus via `near_dup_lookup(..., granularity="member")` —
    "which existing documents is each incoming document a
    near-duplicate of?".  The corpus' signature pipeline never re-runs;
    per-probe work is banding the probe text + one broadcast join into
    the band table.

    Note the index here is built over the BASE corpus only (not the
    augmented corpus of dedup_minhash_lsh_index) — a separate keyed
    store in the same build-once session."""
    from snappydata_spark import index_minhash

    sn = _gate_base_index_session(spark, sf_dir)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # probe ids offset out of the corpus id space (so a probe's match
    # with its own original is a REAL pair, not a self-match to filter),
    # re-based back in the output
    probes = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return index_minhash.near_dup_lookup(
        sn, "base_mh", probes, granularity="member"
    ).select(
        (F.col("probe_id") - 1000000).alias("probe_id"), F.col("match_id")
    )


def _gate_reps_oracle() -> str:
    """Rep-collapsed gate: each probe (the original documents re-texted,
    ids + 5000000) matches the min-id REPRESENTATIVE of every stored
    signature group whose bands it collides with.  Probe text equals the
    originals', so probe bands == the originals' bands in the corpus
    CTE."""
    return f"""WITH {_minhash_ctes(16, 4, _CORPUS_DUP_SQL)},
dockey AS (SELECT doc_id, string_agg(band_hash, ',' ORDER BY band) AS sk
           FROM bands GROUP BY doc_id),
grp AS (SELECT sk, MIN(doc_id) AS rep FROM dockey GROUP BY sk),
rep_bands AS (SELECT b.doc_id, b.band, b.band_hash
              FROM bands b JOIN grp g ON b.doc_id = g.rep),
probe_bands AS (SELECT doc_id AS probe_id, band, band_hash
                FROM bands WHERE doc_id < 1000000)
SELECT DISTINCT p.probe_id, r.doc_id AS match_rep
FROM probe_bands p JOIN rep_bands r
  ON p.band = r.band AND p.band_hash = r.band_hash"""


@register("dedup_incoming_batch_gate", oracle=_gate_reps_oracle())
def dedup_incoming_batch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ingestion gate (r10: the DEFAULT name now carries
    the rep-collapsed contract that survives duplicate-heavy scale —
    formerly `dedup_incoming_batch_gate_reps`; member granularity is the
    opt-in `dedup_incoming_batch_gate_members`): each incoming document
    retrieves the min-id REPRESENTATIVE of every stored near-dup GROUP
    (index_minhash.near_dup_lookup, default granularity="rep") instead
    of every member — the r7 sf10 rehearsal showed the full-match gate
    emitting 61 M rows (~120 group members per probe) where this variant
    emits one row per (probe, group).  Served by the same materialized
    minhash index as dedup_minhash_lsh_index (built over the verbatim-dup
    corpus); probe bands join REPRESENTATIVES' bands only, so join
    fan-out and output are both linear in probes while group-granularity
    recall is identical (members share their rep's signature)."""
    from snappydata_spark import index_minhash

    sn = _minhash_index_session(spark, sf_dir)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # probes: the original texts under fresh ids (outside the corpus id
    # space) — each should gate onto its 3-copy group's representative
    probes = docs.select(
        (F.col("doc_id") + 5000000).alias("doc_id"), F.col("text")
    )
    return index_minhash.near_dup_lookup(sn, "corpus_mh", probes).select(
        (F.col("probe_id") - 5000000).alias("probe_id"), F.col("match_rep")
    )


@register(
    "dedup_cluster_aware_split",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes(corpus_sql=_CORPUS_DUP_SQL)},
edges AS (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
          UNION SELECT doc2, doc1 FROM mh_pairs),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (SELECT a AS node, LEAST(a, MIN(b)) AS cluster
           FROM reach GROUP BY a),
lab AS (SELECT c.doc_id, COALESCE(l.cluster, c.doc_id) AS cluster
        FROM corpus c LEFT JOIN labels l ON l.node = c.doc_id),
sp AS (SELECT doc_id, cluster,
       CASE WHEN ('0x' || substr(md5('split~' || cluster::VARCHAR), 1, 8))::BIGINT
                 % 100 < 90
            THEN 'train' ELSE 'val' END AS split
       FROM lab)
SELECT split, COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT cluster)::BIGINT AS n_clusters
FROM sp GROUP BY split ORDER BY split
""",
)
def dedup_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/holdout split — the leakage-prevention step a
    plain per-document hash split misses: a document and its near-dup
    mirror landing on opposite sides of the split leaks training data
    into evaluation.  Each document is assigned by hashing its CLUSTER
    representative (connected component over the exact-dup-collapsed
    candidate edges; singletons represent themselves), so every member
    of a duplicate cluster lands on the SAME side by construction.
    Deterministic md5 split hash (the txt_train_val_split discipline —
    retries and re-runs agree); output is the per-split doc/cluster
    census the oracle reproduces over the full recursive closure.

    Scale: clustering is the same min-label propagation as
    dedup_cluster_components (O(diameter) shuffles on slim label
    frames); the split itself is one map-side hash on the cluster id —
    no extra shuffle beyond the final bounded groupBy."""
    corpus = _corpus_dup(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(corpus, num_hashes=16, bands=4)
    return (
        dedup.cluster_aware_split(corpus, pairs, train_frac=0.9)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .orderBy("split")
    )
