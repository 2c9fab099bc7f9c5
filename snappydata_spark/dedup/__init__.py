"""Deduplication operators for training-data pipelines (SURVEY.md §7 M6).

All five families — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — as DataFrame transformations built from pure Catalyst
expressions (functions/text.py, functions/vector.py).

Scale design: every family is map-side signature computation followed by
exactly ONE shuffle on a blocking key (fingerprint / LSH band / SimHash
byte-band / prefix block / label block).  No quadratic joins over the full
corpus: candidate pairs are generated per-block and blocks are bounded.
That is the shape that survives 100 TB — the all-pairs work happens only
within hash buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from snappydata_spark.functions import text as T
from snappydata_spark.functions import vector as V


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the full-content fingerprint: keep the min-id doc
    per fingerprint (hash-groupBy — one shuffle on the md5 key)."""
    fp = T.fingerprint(F.col(text_col)).alias("fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _sig_frame(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One (id, sig_digest) row per doc of a (id, band, band_hash) table,
    where sig_digest is a signature-equality key (equal iff every
    minhash agrees).  This is the only code that knows whether a band
    table carries a digest.

    Band tables produced by index_minhash._band_rows carry a map-side
    `sig_digest` column (md5 of the full signature, identical on every
    band row), so the per-doc row is just the band-0 slice — no shuffle.
    Digest-less band tables (indexes stored before the column existed)
    re-derive the key from the band-ordered hash tuple via
    collect_list/array_sort — one groupBy-id shuffle."""
    if "sig_digest" in banded.columns:
        return banded.filter(F.col("band") == 0).select(id_col, "sig_digest")
    return banded.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "band_hash"))),
                lambda s: s["band_hash"],
            ),
            ",",
        ).alias("sig_digest")
    )


def _elect_reps(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sig_digest, __srep) per doc of a band table: __srep is the
    min id of the doc's signature group.  A MIN window over the signature
    key elects it in one exchange (a groupBy + re-join takes two), and
    the representatives are the rows where id == __srep."""
    from pyspark.sql import Window as W

    return _sig_frame(banded, id_col).withColumn(
        "__srep", F.min(id_col).over(W.partitionBy("sig_digest"))
    )


def _rep_bands(banded: DataFrame, reps: DataFrame, id_col: str) -> DataFrame:
    """The band rows of the representatives in `reps` (_elect_reps)."""
    rep_ids = reps.filter(F.col(id_col) == F.col("__srep")).select(
        F.col("__srep").alias(id_col)
    )
    return banded.join(rep_ids, id_col, "left_semi")


def _band_collisions(rep_bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc1 < doc2) pairs sharing an LSH bucket (band,
    band_hash): the self-join of a representatives-only band table."""
    a, b = rep_bands.alias("a"), rep_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"), F.col(f"b.{id_col}").alias("doc2")
        )
        .distinct()
    )


def collapse_banded_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate-collapsed candidate edges from a (id, band,
    band_hash) table.

    Verbatim-duplicate groups are the norm in web corpora (the same page
    mirrored k times), and a per-document band self-join emits k(k-1)/2
    pairs per group — quadratic output that no amount of banding fixes
    (the r6 sf10 rehearsal emitted 14.6 B pairs on exactly that shape).
    Instead:

    1. group documents by their FULL signature (equal iff every minhash
       agrees) and pick the min-id representative (_elect_reps);
    2. emit one member→representative edge per non-representative doc
       (linear in rows — this carries the whole duplicate mass);
    3. self-join the band table restricted to REPRESENTATIVES only, so
       cross-group candidates are quadratic in distinct signatures, not
       documents.

    The returned edge set's transitive closure equals the closure of the
    full pair list (members reach each other through their rep; reps of
    band-colliding groups are directly connected), so
    connected_components / keep_one_per_cluster results are unchanged —
    only the materialized pair list shrinks from Σk² to Θ(n).  The reps
    frame is slim (bounded by distinct signatures) and feeds the rep
    semi-join, which AQE converts to a broadcast when reps fit and
    degrades to a shuffle join when they don't."""
    reps = _elect_reps(banded, id_col)
    member_edges = reps.filter(F.col(id_col) != F.col("__srep")).select(
        F.col("__srep").alias("doc1"), F.col(id_col).alias("doc2")
    )
    rep_pairs = _band_collisions(_rep_bands(banded, reps, id_col), id_col)
    return member_edges.unionByName(rep_pairs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + LSH banding: shingle → minhash signature (map-side) →
    explode band hashes → collapse exact-duplicate signatures →
    self-join representatives per (band, band_hash) bucket.
    Returns candidate EDGES (doc1 < doc2, distinct): member→rep edges
    for verbatim-duplicate mass plus rep-rep band-collision pairs —
    linear output whose transitive closure equals the full pair set
    (see collapse_banded_pairs)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands}: "
            "a remainder would silently drop the trailing hash functions "
            "and change the effective (1/b)^(1/r) similarity threshold"
        )
    # band rows come from the vectorized Python-worker builder
    # (index_minhash._band_rows) — hash-identical to the Catalyst chain
    # in functions/text.py but ~15x faster cold: the interpreted HOF
    # lambdas (~24M evals at sf0.1) did not scale across local threads.
    # Docs too short for a shingle are dropped there (an all-NULL
    # signature would bucket every short doc together — k short docs →
    # k² candidate pairs; the oracle's WHERE len(t) >= 3 matches).
    from snappydata_spark.index_minhash import _band_rows

    # Verbatim-duplicate pre-collapse (r8): on web corpora the same page
    # is mirrored k times, and minhashing each mirror re-pays the whole
    # shingle->md5->minhash CPU for identical bytes.  Fingerprint the
    # raw text map-side (one md5 per DOC vs one per shingle), elect a
    # min-id representative per identical text, and band ONLY the
    # representatives — signature CPU and band-table bytes scale with
    # DISTINCT content, not raw corpus size.  Signature-level groups
    # (distinct texts whose minhashes still all agree — e.g. trailing
    # whitespace) collapse on the band table's map-side sig_digest.
    # The final rep of a doc is sig_rep(text_rep(doc)); because a text
    # group is a subset of its signature group and text reps are their
    # groups' minima, the sig group's min over text reps IS the global
    # min — member edges are exactly the oracle's (rep, doc) pairs.
    from pyspark.sql import Window as W

    # r12 (guide §2.4): the text-rep election used groupBy(__fp) + a
    # fp⋈tmap re-join (two exchanges on the fingerprint) — a MIN window
    # over the same key computes each doc's rep in ONE exchange, and
    # the rep id set falls out of the same frame.
    fp = df.select(id_col, F.md5(F.col(text_col)).alias("__fp"))
    doc2trep = fp.withColumn(
        "__trep", F.min(id_col).over(W.partitionBy("__fp"))
    ).select(id_col, "__trep")
    tmap = doc2trep.filter(F.col(id_col) == F.col("__trep")).select("__trep")
    rep_docs = df.join(
        tmap.select(F.col("__trep").alias(id_col)), id_col, "left_semi"
    )
    # materialize rep signatures once: the signature grouping and both
    # sides of the rep self-join read the cached band table instead of
    # re-running shingle->md5->minhash (2x the whole pipeline).  At
    # 100 TB the same move is "write signatures to a table, self-join
    # the table" -- signature bytes << text bytes.
    banded = _band_rows(
        rep_docs, text_col, id_col, num_hashes, bands, shingle_n
    ).persist()
    reps = _elect_reps(banded, id_col)
    # inner join drops whole groups whose rep produced no bands (text
    # shorter than one shingle / NULL) — the oracle's len(t) >= 3 gate
    member_edges = (
        doc2trep.join(
            reps.select(F.col(id_col).alias("__trep"), "__srep"), "__trep"
        )
        .filter(F.col(id_col) != F.col("__srep"))
        .select(F.col("__srep").alias("doc1"), F.col(id_col).alias("doc2"))
    )
    rep_pairs = _band_collisions(_rep_bands(banded, reps, id_col), id_col)
    return member_edges.unionByName(rep_pairs)


def _ascii_tokens(text):
    """Python twin of functions/text.tokens(): Spark trim() strips ASCII
    spaces only, then an ASCII-\\s+ split (Java's default \\s class)
    with empties dropped."""
    import re

    return [
        t
        for t in re.split(r"\s+", text.strip(" "), flags=re.ASCII)
        if t
    ]


def _simhash_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): 60-bit simhash per doc, vectorized in Python workers —
    bit-identical to token_hashes + simhash_from_hashes (one md5 per
    DISTINCT token, per-bit majority vote; integers only).  The
    Catalyst chain evaluated 60 interpreted per-bit folds over the
    token-hash array per doc and did not scale across local threads."""
    import hashlib

    def run(batches):
        import numpy as np
        import pandas as pd

        bitpos = np.arange(60, dtype=np.int64)
        for pdf in batches:
            out = {"__id": [], "sh": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = list(dict.fromkeys(_ascii_tokens(text)))
                if not toks:
                    out["__id"].append(doc_id)
                    out["sh"].append(0)
                    continue
                hs = np.fromiter(
                    (
                        int(hashlib.md5(("sh~" + t).encode()).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                )
                votes = (
                    ((hs[:, None] >> bitpos) & 1) * 2 - 1
                ).sum(axis=0)
                sh = int(((votes > 0).astype(np.int64) << bitpos).sum())
                out["__id"].append(doc_id)
                out["sh"].append(sh)
            yield pd.DataFrame({id_col: out["__id"], "sh": out["sh"]})

    id_type = dict(df.dtypes)[id_col]
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par)
        .mapInPandas(run, f"{id_col} {id_type}, sh long")
    )


def _shingle_hash_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh array<long>): sorted distinct 60-bit shingle hashes per
    doc (md5 15-hex prefix), vectorized — the containment index/verify
    substrate.  Docs with no shingle are dropped (as before)."""
    import hashlib

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"__id": [], "sh": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = _ascii_tokens(text)
                if len(toks) < shingle_n:
                    continue
                hs = {
                    int(
                        hashlib.md5(
                            " ".join(toks[i : i + shingle_n]).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(len(toks) - shingle_n + 1)
                }
                out["__id"].append(doc_id)
                out["sh"].append(sorted(hs))
            yield pd.DataFrame({id_col: out["__id"], "sh": out["sh"]})

    id_type = dict(df.dtypes)[id_col]
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par)
        .mapInPandas(run, f"{id_col} {id_type}, sh array<long>")
    )


def _shingle_string_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, block_tokens: int
) -> DataFrame:
    """(id, blk, sh array<string>): first-occurrence-distinct shingle
    strings + the md5 prefix-fingerprint blocking key, vectorized (the
    ngram-Jaccard substrate; set sizes are order-independent so the
    distinct order never affects results)."""
    import hashlib

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"__id": [], "blk": [], "sh": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = _ascii_tokens(text)
                blk = hashlib.md5(
                    " ".join(toks[:block_tokens]).encode()
                ).hexdigest()
                if len(toks) < shingle_n:
                    sh = []
                else:
                    sh = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + shingle_n])
                            for i in range(len(toks) - shingle_n + 1)
                        )
                    )
                out["__id"].append(doc_id)
                out["blk"].append(blk)
                out["sh"].append(sh)
            yield pd.DataFrame(
                {id_col: out["__id"], "blk": out["blk"], "sh": out["sh"]}
            )

    id_type = dict(df.dtypes)[id_col]
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par)
        .mapInPandas(run, f"{id_col} {id_type}, blk string, sh array<string>")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: 60-bit simhash (map-side, one md5 per token) →
    15-bit-band blocking (pigeonhole: hamming ≤ 3 ⇒ at least one of the
    4 bands is equal) → in-bucket pairs filtered on exact hamming
    distance.  60 bits keeps the candidate set near-linear where 32-bit
    simhash goes quadratic on shared-vocabulary corpora.

    Output is the exact-dup-COLLAPSED edge set (the simhash twin of
    collapse_banded_pairs): one member→representative edge per doc that
    shares another doc's signature (hamming 0, linear in rows — this
    carries the whole verbatim-duplicate mass), plus one rep-rep pair
    per near-colliding DISTINCT signature pair.  A k-copy page emits
    k-1 edges, never k(k-1)/2 pairs, and the transitive closure equals
    the full pair set — connected_components / keep-one results are
    unchanged."""
    from pyspark.sql import Window as W

    # (1) min-id representative per signature; member→rep edges carry
    # the exact-duplicate groups at hamming 0.  r12 (guide §2.4): the
    # election is a MIN window over the signature instead of groupBy +
    # re-join — one exchange, not two — and the distinct-signature
    # frame is a filter of the same windowed frame.
    sh = (
        _simhash_frame(df, text_col, id_col)
        .withColumn("__rep", F.min(id_col).over(W.partitionBy("sh")))
        .persist()
    )
    groups = sh.filter(F.col(id_col) == F.col("__rep")).select("sh", "__rep")
    member_edges = (
        sh.filter(F.col(id_col) != F.col("__rep"))
        .select(
            F.col("__rep").alias("doc1"),
            F.col(id_col).alias("doc2"),
            F.lit(0).alias("hamming"),
        )
    )
    # (2) DISTINCT-signature candidate pairs from the 15-bit-band
    # pigeonhole join over unique signatures (each signature carries its
    # rep id through the join, so no membership expansion is needed;
    # distinct() dedups band multiplicity <= 4 on the rep-pair set).
    bands = groups.select(
        "sh",
        "__rep",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sh"), 15 * i)
                        .bitwiseAND(F.lit(32767))
                        .alias("byte"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("sh", "__rep", "b.band", "b.byte")
    sa, sb = bands.alias("sa"), bands.alias("sb")
    rep_pairs = (
        sa.join(
            sb,
            (F.col("sa.band") == F.col("sb.band"))
            & (F.col("sa.byte") == F.col("sb.byte"))
            & (F.col("sa.sh") < F.col("sb.sh")),
        )
        .select(
            F.least("sa.__rep", "sb.__rep").alias("doc1"),
            F.greatest("sa.__rep", "sb.__rep").alias("doc2"),
            F.bit_count(
                F.col("sa.sh").bitwiseXOR(F.col("sb.sh"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return member_edges.unionByName(rep_pairs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_tokens: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard within prefix blocks: block on the first
    `block_tokens` tokens (cheap key), compute exact Jaccard over distinct
    shingle sets only within a block.

    Exact-dup collapse (the collapse_banded_pairs discipline): documents
    with IDENTICAL shingle sets (md5 fingerprint of the sorted set) group
    to a min-id representative — one member→rep edge each at jaccard 1.0
    — and only representatives enter the pairwise block join.  Jaccard
    depends only on the sets, so a member's similarity to any third doc
    EQUALS its rep's: the collapsed edge set's transitive closure equals
    the full ≥-threshold pair set's, while output and join fan-out stay
    linear in rows on verbatim-duplicate-heavy corpora (a k-copy page is
    k-1 edges, not k(k-1)/2 pairs — the r7 sf10 wedge).  Docs with no
    shingle emit nothing (their pairwise jaccard was NULL and never
    passed the threshold before)."""
    from pyspark.sql import Window as W

    docs = _shingle_string_sets(df, text_col, id_col, shingle_n, block_tokens)
    # r12 (guide §2.4): rep election via a MIN window over (blk, __sk)
    # instead of groupBy + re-join — one exchange, not two — and the
    # representative frame becomes a FILTER of the same windowed frame
    # instead of a third (left_semi) shuffle join.
    docs = (
        docs.filter(F.size("sh") > 0)
        .withColumn(
            "__sk", F.md5(F.array_join(F.array_sort("sh"), "\x01"))
        )
        .withColumn(
            "__rep", F.min(id_col).over(W.partitionBy("blk", "__sk"))
        )
        .persist()  # member edges + both join sides read one shingle pass
    )
    member_edges = (
        docs.filter(F.col(id_col) != F.col("__rep"))
        .select(
            F.col("__rep").alias("doc1"),
            F.col(id_col).alias("doc2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_docs = docs.filter(F.col(id_col) == F.col("__rep"))
    a, b = rep_docs.alias("a"), rep_docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    rep_pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return member_edges.unionByName(rep_pairs)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    top_per_block: int = 3,
    sub_cap: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup: within a blocking column (cluster/label/
    LSH bucket), rank pairs by cosine and keep the top candidates.

    **Hard sub-block cap** (`sub_cap`, the knn_graph_candidates
    discipline): rows within a block are row_number-ordered by id and
    chopped into sub-blocks of ≤ sub_cap members before the pairwise
    pass — the per-task matrix is then ≤ sub_cap² doubles (8 MB at
    1024) no matter how large a blocking value grows.  Without it a
    degenerate block of b rows builds a b×b matrix in one task (the
    sf10 rehearsal hit 20k-row label blocks → 3.2 GB per task and a
    wedged stage).  Cross-sub pairs are skipped — the same documented
    recall trade as the knn sub_cap; ranking is per (block, sub).

    Vectorized per block via applyInPandas, FLOAT-EXACT to the previous
    Catalyst fold (and the DuckDB oracle): the pairwise dot matrix
    accumulates one dimension at a time (acc += outer(V[:,j], V[:,j])),
    which reproduces the left-to-right sequential sum of the expression
    fold; norms use the cumsum trick; zero-vector pairs (cosine 0/0 =
    NaN) drop before ranking, exactly as before.  The Catalyst pair
    join evaluated an interpreted d-element fold per pair (~13M lambda
    evals at sf0.1, 12 s wall); this is one n_b x n_b numpy pass per
    block.  Block state is n_b vectors — bounded by the blocking key,
    the same contract the pair join had."""

    def per_block(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {"blk": [], "v1": [], "v2": [], "cos": [], "rn": []}
        )
        if n < 2:
            return empty
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        d = vecs.shape[1]
        # sequential-fold dot matrix and norms (exactness contract)
        acc = np.zeros((n, n), dtype=np.float64)
        for j in range(d):
            col = vecs[:, j]
            acc += col[:, None] * col[None, :]
        norms = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / (norms[:, None] * norms[None, :])
        iu, ju = np.triu_indices(n, k=1)
        c = cos[iu, ju]
        keep = ~np.isnan(c)
        iu, ju, c = iu[keep], ju[keep], np.round(c[keep], 4)
        if len(c) == 0:
            return empty
        order = np.lexsort((ids[ju], ids[iu], -c))[:top_per_block]
        return pd.DataFrame(
            {
                "blk": pdf[block_col].iloc[0],
                "v1": ids[iu[order]],
                "v2": ids[ju[order]],
                "cos": c[order],
                "rn": np.arange(1, len(order) + 1),
            }
        )

    from pyspark.sql import Window as W

    types = dict(df.dtypes)
    schema = (
        f"blk {types[block_col]}, v1 {types[id_col]}, "
        f"v2 {types[id_col]}, cos double, rn int"
    )
    sub = F.floor(
        (F.row_number().over(W.partitionBy(block_col).orderBy(id_col)) - 1)
        / sub_cap
    )
    return (
        df.select(id_col, block_col, vec_col)
        .withColumn("__sub", sub)
        .groupBy(block_col, "__sub")
        .applyInPandas(per_block, schema)
    )


# Largest candidate-pair set connected_components labels on the driver:
# 4M pairs are ~128 MB of (long, long) Arrow edges, well under the
# default spark.driver.maxResultSize of 1g.
CC_COLLECT_CAP = 4_000_000

# id types the numpy labeler vectorizes; other numeric ids take the loop
_CC_LOCAL_TYPES = ("bigint", "int", "smallint", "tinyint", "double", "float")


def _cc_local_labels(edges: DataFrame, n_edges: int, schema) -> DataFrame | None:
    """Driver-side labeling for connected_components over the
    already-checkpointed symmetrized edge set: if it holds at most
    2 x CC_COLLECT_CAP rows (the cap counts PAIRS, the edge set is
    symmetrized) of a primitive id type, collect it as Arrow, run
    vectorized min-label propagation with pointer halving in numpy and
    return the (node, cluster) frame as a local relation.  Returns None
    (the caller takes the distributed loop) when the set is over the
    cap, the ids are not primitive, an endpoint is NULL, or the collect
    exceeds spark.driver.maxResultSize.  The collect reads CHECKPOINTED
    partitions — it never re-runs the candidate pipeline.

    Exactness: labels are min-reachable-node-id, the identical fix point
    the distributed loop computes — per round each node takes the min of
    its own label, its neighbors' labels, and its label's label (all
    node ids within its component, each >= the component min), so the
    sequence is non-increasing, bounded by the component min, and
    stationary only when every component is uniformly labeled with its
    min.  np.unique sorts ascending, so compact-index order == id order
    and index minima == id minima."""
    if (
        n_edges > 2 * CC_COLLECT_CAP
        or schema["node"].dataType.simpleString() not in _CC_LOCAL_TYPES
    ):
        return None
    import numpy as np
    import pyarrow as pa
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    # Arrow both ways (toArrow, createDataFrame(pa.Table)): no per-row
    # pickling in either direction, whatever the session confs.
    try:
        tbl = edges.toArrow()
    except (PySparkRuntimeError, Py4JJavaError) as exc:
        # the aborted job reaches Python as the Py4J error of the Arrow
        # server's getResult, or, if that returns, as the error the
        # Arrow stream reader raises; both carry the abort message
        if "spark.driver.maxResultSize" not in str(exc):
            raise
        return None
    ca, cb = tbl.column("a"), tbl.column("b")
    if ca.null_count or cb.null_count:
        return None  # NULL endpoints: keep the distributed semantics
    av = ca.to_numpy(zero_copy_only=False)
    bv = cb.to_numpy(zero_copy_only=False)
    nodes, codes = np.unique(np.concatenate([av, bv]), return_inverse=True)
    ea, eb = codes[: len(av)], codes[len(av):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, ea, label[eb])
        np.minimum.at(nxt, eb, label[ea])
        nxt = np.minimum(nxt, nxt[nxt])  # pointer halving
        if np.array_equal(nxt, label):
            break
        label = nxt
    id_type = tbl.schema.field("a").type
    out = pa.table(
        {
            "node": pa.array(nodes, type=id_type),
            "cluster": pa.array(nodes[label], type=id_type),
        }
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame, src: str = "doc1", dst: str = "doc2", max_iter: int = 20
) -> DataFrame:
    """Cluster candidate pairs into connected components: returns
    (node, cluster) where cluster = min node id reachable.

    Iterative min-label propagation (the standard large-graph CC in
    Spark): each round joins labels across edges and keeps the min —
    O(diameter) rounds, each one shuffle on node id.  Near-dup clusters
    have tiny diameters (pairs/triangles), so this converges in 2-3
    rounds; `max_iter` bounds adversarial chains.  Driver work per round
    is one count (the convergence check) — no data is collected.

    The candidate-pair set is PAIRS-sized, not corpus-sized: when the
    checkpointed edge set fits CC_COLLECT_CAP, label propagation runs as
    one vectorized numpy pass on the driver instead (_cc_local_labels),
    with identical labels (min reachable node id).  The size probe is a
    count over the ALREADY-checkpointed edges, so an over-cap graph pays
    nothing extra.  Every exit returns the same schema."""
    # type guard: the label-sum probe is only sound when MIN over labels
    # is taken in NUMERIC order — for string ids the min is lexicographic
    # ("10" < "9"), a label can grow numerically while shrinking
    # lexicographically, and two rounds' sums can collide (or, for
    # non-castable ids, both be NULL) — the loop would exit early with
    # WRONG labels.  Fail loudly instead; every current caller uses
    # numeric doc ids.  (The guard also covers the local labeler so
    # every exit accepts the same inputs.)
    from pyspark.sql.types import NumericType, StructField, StructType

    for c in (src, dst):
        if not isinstance(pairs.schema[c].dataType, NumericType):
            raise ValueError(
                "connected_components requires numeric node ids for the "
                f"label-sum convergence probe; column {c!r} is "
                f"{pairs.schema[c].dataType.simpleString()}"
            )
    # symmetrize map-side with ONE explode of a 2-struct array: it emits
    # the (a, b) ∪ (b, a) rows in one pass over the candidate-pair
    # pipeline, where a UNION of two selects would run that pipeline
    # (minhash banding, rep elections, the band self-join) twice.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        # materialize once: every propagation round joins the edge set, and
        # its lineage reaches back through the candidate-pair pipeline
        # (minhash etc.) — without this each round re-runs that pipeline
        .localCheckpoint(eager=True)
    )
    # every exit returns the loop's schema: node carries the edge ids'
    # type and nullability, cluster is a MIN aggregate and so nullable
    a = edges.schema["a"]
    schema = StructType(
        [
            StructField("node", a.dataType, a.nullable),
            StructField("cluster", a.dataType, True),
        ]
    )
    # the count reads checkpointed partitions (~free); small graphs
    # label locally, big ones take the loop below.
    n_edges = edges.count()
    if n_edges == 0:
        return edges.sparkSession.createDataFrame([], schema)
    local = _cc_local_labels(edges, n_edges, schema)
    if local is not None:
        return local
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    # Each round is ONE join + ONE groupBy (union of neighbor labels with
    # own labels, min per node): 2 exchanges.  Convergence probes via the
    # label-sum invariant: min-propagation labels are NON-INCREASING, so
    # the (exact, decimal) sum of labels strictly decreases until the fix
    # point — an O(1)-output agg over the checkpointed frame.
    # Measured and rejected (5-rep A/Bs at sf0.1): fusing the probe into
    # a persist()-materializing agg is ~25% slower on the cluster queries
    # (the columnar cache encode/decode per round costs more than the
    # ~50 ms probe job), and propagating over the rep-pair graph only
    # with one post-loop member join re-pays the corpus fingerprint pass
    # per consumer (keep_one ~+40%).
    prev_sum = None
    for rnd in range(max_iter):
        neighbor = edges.join(labels, edges.b == labels.node).select(
            F.col("a").alias("node"), "cluster"
        )
        labels = (
            neighbor.unionByName(labels)
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
        ).localCheckpoint(eager=True)  # cut lineage per round, execute once
        probe = labels.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        cur_sum = probe.s
        # second guard: a numeric label that OVERFLOWS decimal(38,0)
        # (enormous double ids) sums to NULL every round — same silent
        # early exit; fail loudly on the first probe.
        if rnd == 0 and cur_sum is None:
            raise ValueError(
                "connected_components convergence probe got a NULL label "
                f"sum over {probe.n} labels (ids overflow decimal(38,0)?)"
            )
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def keep_one_per_cluster(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup resolution: drop every clustered doc except the cluster
    representative (min id).  Docs not in any candidate pair pass
    through untouched."""
    losers = clusters.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.6,
    index_shingles: int = 5,
    max_df: int = 100,
) -> DataFrame:
    """Asymmetric containment |sh(a) ∩ sh(b)| / |sh(a)| — detects quotes
    and sub-documents that symmetric Jaccard misses (a short doc pasted
    into a long one has low Jaccard but containment ≈ 1).

    Scale disciplines (each oracle-reproducible):

    1. **Asymmetric probe/index**: the CONTAINED side (src) probes with
       its `index_shingles` SMALLEST 60-bit shingle hashes (the PPJoin
       prefix: if containment ≥ t, a's smallest shingles must appear in
       b); the CONTAINER side (dst) is indexed on ALL of its shingles —
       a quote pasted into a 100×-larger doc is then a guaranteed
       candidate (keying BOTH sides by their own min-hashes would find
       it only if one of the big doc's global minima landed inside the
       quote, ≈ |quote|/|doc| per key).
    2. **Document-frequency cap** on the INDEX side: keys whose df
       exceeds `max_df` are dropped before the join (prefix-filtering
       discipline).  Without it, one boilerplate shingle lands k docs
       on a single key → k² candidate pairs — quadratic at corpus scale
       (the round-2 defect).  With it, pair count ≤
       index_shingles·n·max_df — linear in n.  The trade: containment
       inside > max_df boilerplate twins loses those candidates —
       documented recall bound.
    3. **Size prefilter**: containment ≥ t requires |sh(b)| ≥ t·|sh(a)|,
       applied on the key join before the distinct (the cheap length
       test PPJoin applies before any verification).
    4. **Hashed verification**: shingle sets are sorted arrays of
       60-bit md5-prefix longs (not strings), so the exact
       array_intersect verify compares longs — ~2× faster and a
       fraction of the shuffle width.  Within-doc 60-bit collisions
       (P ≈ |sh|²/2⁶¹) are removed by array_distinct on both engines.

    One shuffle on the shingle key (+ the window df count, same key) +
    one on the pair."""
    from pyspark.sql import Window as W

    docs = _shingle_hash_sets(df, text_col, id_col, shingle_n)
    docs = docs.persist()  # keys + both join sides read one shingle pass
    probe = docs.select(
        F.col(id_col),
        F.size("sh").alias("sz"),
        F.explode(F.slice("sh", 1, index_shingles)).alias("key"),
    )
    index = docs.select(
        F.col(id_col),
        F.size("sh").alias("sz"),
        F.explode("sh").alias("key"),
    )
    # document-frequency cap on the full inverted index: whole-partition
    # count over the key (single shuffle, reused by the join's hash
    # partitioning)
    index = (
        index.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("key")))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    cand = (
        probe.alias("a")
        .join(index.alias("b"), "key")
        .filter(
            (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (F.col("b.sz") >= threshold * F.col("a.sz"))
        )
        .select(
            F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst")
        )
        .distinct()
    )
    a = docs.select(F.col(id_col).alias("src"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col(id_col).alias("dst"), F.col("sh").alias("sh_b"))
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size("sh_a")
    # filter on the UNROUNDED containment (the oracle's WHERE does too —
    # rounding first would admit pairs in [threshold - 5e-5, threshold));
    # round only the reported value
    return (
        cand.join(a, "src")
        .join(b, "dst")
        .withColumn("__cont", cont)
        .filter(F.col("__cont") >= threshold)
        .select("src", "dst", F.round("__cont", 4).alias("containment"))
    )


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_frac: float = 0.9,
    salt: str = "split~",
) -> DataFrame:
    """Near-dup-aware train/holdout assignment: every row of `df` gets a
    `cluster` (its connected-component representative over `pairs`;
    rows in no pair represent themselves) and a `split` decided by a
    deterministic md5 hash of the CLUSTER id — so all members of a
    duplicate cluster land on the same side and near-dups never leak
    from train into eval.  Returns df's id column + (cluster, split).

    Scale: clustering is min-label propagation over slim (id, label)
    frames (O(diameter) shuffles); the split is one map-side hash —
    no extra shuffle beyond the component join."""
    if not 0.0 < train_frac < 1.0:
        raise ValueError(f"train_frac must be in (0, 1), got {train_frac}")
    cc = connected_components(pairs)
    labeled = (
        df.select(id_col)
        .join(cc, F.col(id_col) == cc.node, "left")
        .select(
            id_col, F.coalesce("cluster", F.col(id_col)).alias("cluster")
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("cluster").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    return labeled.withColumn(
        "split",
        F.when(bucket < int(train_frac * 100), "train").otherwise("val"),
    )
