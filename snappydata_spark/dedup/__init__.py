"""Deduplication operators for training-data pipelines (SURVEY.md §7 M6).

The near-duplicate families — MinHash+LSH, SimHash, n-gram Jaccard,
containment, embedding-cosine — as DataFrame transformations.  Text
becomes per-document features in ONE Python pass (_featurize: one
tokenizer with Spark tokens() semantics, one mapInPandas scaffold);
everything after it is Catalyst.  Exact dedup is a fingerprint groupBy
in operators/dedup_ops.py.

Scale design: every family is map-side signature computation followed by
shuffles on blocking keys (fingerprint / LSH band / SimHash signature and
byte-band / prefix block / shingle key / label block).  No quadratic joins
over the full corpus: candidate pairs are generated per-block and blocks
are bounded.  That is the shape that survives 100 TB — the all-pairs work
happens only within hash buckets.  No stage persists: the branches of a
stage (rep election, member edges, both join sides) read one exchange
above the featurizer, which Spark runs once and reuses, so a long-lived
session is left holding no cached frame.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, functions as F


def _with_sig_digest(banded: DataFrame, id_col: str) -> DataFrame:
    """`banded` (id, band, band_hash[, sig_digest]) with a signature
    equality key `sig_digest` on every row (equal iff every minhash
    agrees).  This is the only code that knows whether a band table
    carries a digest.

    Band tables produced by _band_rows carry the map-side md5 of the
    full signature.  Digest-less band tables (indexes stored before the
    column existed) re-derive the key from the band-ordered hash tuple
    via collect_list/array_sort and join it back on the id."""
    if "sig_digest" in banded.columns:
        return banded
    digests = banded.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "band_hash"))),
                lambda s: s["band_hash"],
            ),
            ",",
        ).alias("sig_digest")
    )
    return banded.join(digests, id_col)


def _elect_reps(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every band row of `banded` plus `__srep`, the min id of its doc's
    signature group.

    One exchange on band_hash serves the whole collapse.  It clusters
    every LSH bucket (band, band_hash), so _band_collisions' self-join
    needs no exchange of its own, and it clusters every signature group
    too: the docs of a group share each band hash, so the MIN window over
    (band_hash, sig_digest) sees the whole group on every band row.  The
    window reads every band column, so each consumer of this frame plans
    the same exchange and Spark runs it, and the featurizer below it,
    once."""
    from pyspark.sql import Window as W

    return (
        _with_sig_digest(banded, id_col)
        .repartition("band_hash")
        .withColumn(
            "__srep",
            F.min(id_col).over(W.partitionBy("band_hash", "sig_digest")),
        )
    )


def _rep_bands(reps: DataFrame, id_col: str) -> DataFrame:
    """(id, band, band_hash) rows of the representatives in `reps`
    (_elect_reps)."""
    return reps.filter(F.col(id_col) == F.col("__srep")).select(
        id_col, "band", "band_hash"
    )


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
    band_hash[, sig_digest]) table.

    Verbatim-duplicate groups are the norm in web corpora (the same page
    mirrored k times), and a per-document band self-join emits k(k-1)/2
    pairs per group, quadratic output that no banding fixes.  Instead:

    1. group documents by their FULL signature and elect the min-id
       representative (_elect_reps);
    2. emit one member→representative edge per non-representative doc
       (from its band-0 row: linear in rows, and it carries the whole
       duplicate mass);
    3. self-join the band rows of REPRESENTATIVES only, so cross-group
       candidates are quadratic in distinct signatures, not documents.

    The edge set's transitive closure equals the closure of the full pair
    list (members reach each other through their rep; reps of
    band-colliding groups are directly connected), so
    connected_components / keep_one_per_cluster results are unchanged.
    The stored-index path (index_minhash) runs this same collapse."""
    reps = _elect_reps(banded, id_col)
    member_edges = reps.filter(
        (F.col("band") == 0) & (F.col(id_col) != F.col("__srep"))
    ).select(F.col("__srep").alias("doc1"), F.col(id_col).alias("doc2"))
    rep_pairs = _band_collisions(_rep_bands(reps, id_col), id_col)
    return member_edges.unionByName(rep_pairs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + LSH banding candidate EDGES (doc1 < doc2, distinct):
    member→rep edges for exact-duplicate signatures plus rep-rep
    band-collision pairs, a linear output whose transitive closure
    equals the full pair set (collapse_banded_pairs).

    One featurizer pass (_band_rows) signs each distinct text once and
    emits band rows for every doc; docs shorter than one shingle or with
    NULL text get none and take no part.  Its output feeds one band_hash
    exchange that the rep election, the member edges and both sides of
    the bucket self-join share (_elect_reps), so nothing is persisted."""
    return collapse_banded_pairs(
        _band_rows(df, text_col, id_col, num_hashes, bands, shingle_n), id_col
    )


_WS = re.compile(r"\s+", re.ASCII)


def _ascii_tokens(text: str) -> list[str]:
    """Python twin of functions/text.tokens(): Spark trim() strips ASCII
    spaces only, then an ASCII-\\s+ split (Java's default \\s class)
    with empties dropped."""
    return [t for t in _WS.split(text.strip(" ")) if t]


def _featurize(
    df: DataFrame, text_col: str, id_col: str, fields: list[str], emit
) -> DataFrame:
    """The one text → per-document features pass: select(id, text),
    hash-partition and sort on xxhash64(text), mapInPandas in Python
    workers.

    `fields` are the output columns after the id ("name type").
    `emit(toks)` returns the feature rows (tuples, one value per field)
    of one text, where `toks` is its _ascii_tokens; every copy of the
    text gets those rows under its own id, and NULL texts get none.
    Identical texts land in the same partition, adjacent, so each run
    of copies is featurized once and the cost of signatures scales with
    distinct content, while a worker holds one text's rows at a time.
    Hashes are md5-derived (hashlib == Spark md5 == DuckDB md5 over
    utf-8), so every featurizer has an exact DuckDB oracle
    (operators/dedup_ops.py)."""
    names = [id_col] + [f.split()[0] for f in fields]

    def run(batches):
        import pandas as pd

        text, rows = None, []
        for pdf in batches:
            cols = tuple([] for _ in names)
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                if t != text:
                    text, rows = t, emit(_ascii_tokens(t))
                for row in rows:
                    cols[0].append(doc_id)
                    for col, v in zip(cols[1:], row):
                        col.append(v)
            yield pd.DataFrame(dict(zip(names, cols)))

    id_type = dict(df.dtypes)[id_col]
    par = df.sparkSession.sparkContext.defaultParallelism
    key = F.xxhash64(text_col)
    return (
        df.select(id_col, text_col)
        .repartition(par, key)
        .sortWithinPartitions(key)
        .mapInPandas(run, ", ".join([f"{id_col} {id_type}", *fields]))
    )


def _md5_int(s: str, hex_chars: int) -> int:
    """The first `hex_chars` md5 hex digits of `s` as an unsigned int."""
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


def _csv_md5(vals) -> str:
    """md5 hex of the comma-joined decimal values (DuckDB's
    md5(v1::VARCHAR || ',' || ...))."""
    return hashlib.md5(",".join(map(str, vals)).encode()).hexdigest()


def _shingles(toks: list[str], n: int) -> list[str]:
    """n-token shingles in document order ([] when len(toks) < n)."""
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, band_hash, sig_digest) for every doc with >= 1
    shingle — hash-for-hash the dedup_minhash oracle CTEs:

    - base hash per shingle: first 8 md5 hex chars of 'mh~'+shingle as
      an unsigned int;
    - sig[i] = min((h*(2i+1) + (12582917i+1)) % (2^31-1)) — int64-exact
      numpy, all hashes in one broadcast pass; docs with no shingle are
      dropped (an all-NULL signature would bucket every short doc
      together);
    - band_hash = md5 of the comma-joined signature slice;
    - sig_digest = md5 of the comma-joined FULL signature, identical on
      every band row of a doc.  Equal digests <=> equal signatures, so
      _elect_reps keys exact-duplicate docs on a map-side column instead
      of re-deriving the signature key per doc with a shuffle."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands}: "
            "a remainder would silently drop the trailing hash functions "
            "and change the effective (1/b)^(1/r) similarity threshold"
        )
    import numpy as np

    rows = num_hashes // bands
    mults = np.array([2 * i + 1 for i in range(num_hashes)], dtype=np.int64)
    adds = np.array([12582917 * i + 1 for i in range(num_hashes)], dtype=np.int64)

    def emit(toks):
        if len(toks) < shingle_n:
            return []
        hs = np.fromiter(
            (_md5_int("mh~" + s, 8) for s in _shingles(toks, shingle_n)),
            dtype=np.int64,
        )
        sig = ((hs[:, None] * mults + adds) % 2147483647).min(axis=0).tolist()
        dig = _csv_md5(sig)
        return [
            (b, _csv_md5(sig[b * rows : (b + 1) * rows]), dig) for b in range(bands)
        ]

    # NOT NULL is what emit guarantees, and it matters to the plan: on a
    # nullable band_hash the bucket self-join's inferred isnotnull filter
    # would sink below _elect_reps' exchange on that side only, and the
    # member edges would re-run this pass behind an exchange of their own
    fields = ["band int", "band_hash string", "sig_digest string"]
    return _featurize(
        df, text_col, id_col, [f"{f} not null" for f in fields], emit
    )


def _simhash_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): 60-bit simhash per doc — one md5 per DISTINCT token
    (first 15 hex chars of 'sh~'+token), per-bit majority vote, integers
    only; a doc with no token gets 0 (the dedup_simhash oracle)."""
    import numpy as np

    bitpos = np.arange(60, dtype=np.int64)

    def emit(toks):
        if not toks:
            return [(0,)]
        hs = np.fromiter(
            (_md5_int("sh~" + t, 15) for t in dict.fromkeys(toks)), dtype=np.int64
        )
        votes = (((hs[:, None] >> bitpos) & 1) * 2 - 1).sum(axis=0)
        return [(int(((votes > 0).astype(np.int64) << bitpos).sum()),)]

    return _featurize(df, text_col, id_col, ["sh long"], emit)


def _shingle_hash_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh array<long>): sorted distinct 60-bit shingle hashes per
    doc (md5 15-hex prefix) — the containment index/verify substrate.
    Docs with no shingle are dropped."""

    def emit(toks):
        if len(toks) < shingle_n:
            return []
        return [(sorted({_md5_int(s, 15) for s in _shingles(toks, shingle_n)}),)]

    return _featurize(df, text_col, id_col, ["sh array<long> not null"], emit)


def _shingle_string_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, block_tokens: int
) -> DataFrame:
    """(id, blk, sh array<string>): sorted distinct shingle strings +
    the md5 prefix-fingerprint blocking key (the ngram-Jaccard
    substrate).  Sorting makes equal sets equal arrays; set sizes, the
    only thing Jaccard reads, do not depend on the order.  Docs with no
    shingle are dropped."""

    def emit(toks):
        if len(toks) < shingle_n:
            return []
        blk = hashlib.md5(" ".join(toks[:block_tokens]).encode()).hexdigest()
        return [(blk, sorted(set(_shingles(toks, shingle_n))))]

    return _featurize(
        df, text_col, id_col, ["blk string not null", "sh array<string>"], emit
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
    # the exact-duplicate groups at hamming 0.  A MIN window elects it in
    # one exchange on sh, and the distinct-signature frame is a filter of
    # the same windowed frame, so every branch plans that exchange and
    # Spark runs it, and the featurizer below it, once.  The no-op
    # isnotnull(sh) is the band join's inferred filter, stated on every
    # branch so it does not sink below the exchange on one side only.
    sh = (
        _simhash_frame(df, text_col, id_col)
        .filter(F.col("sh").isNotNull())
        .withColumn("__rep", F.min(id_col).over(W.partitionBy("sh")))
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
    with IDENTICAL shingle sets (equal sorted arrays) group to a min-id
    representative — one member→rep edge each at jaccard 1.0
    — and only representatives enter the pairwise block join.  Jaccard
    depends only on the sets, so a member's similarity to any third doc
    EQUALS its rep's: the collapsed edge set's transitive closure equals
    the full ≥-threshold pair set's, while output and join fan-out stay
    linear in rows on verbatim-duplicate-heavy corpora (a k-copy page is
    k-1 edges, not k(k-1)/2 pairs — the r7 sf10 wedge).  Docs with no
    shingle emit nothing (their pairwise jaccard was NULL and never
    passed the threshold before)."""
    from pyspark.sql import Window as W

    # one exchange on blk serves the whole stage: a MIN window over
    # (blk, sh) elects the reps, and the rep frame is a filter of the
    # same windowed frame, already clustered for the block self-join.
    # Every branch reads id, blk and sh, so each plans the same exchange
    # and Spark runs it, and the featurizer below it, once.  blk is NOT
    # NULL so the join's inferred isnotnull(blk) cannot sink below the
    # exchange on the join side only.
    docs = (
        _shingle_string_sets(df, text_col, id_col, shingle_n, block_tokens)
        .repartition("blk")
        .withColumn("__rep", F.min(id_col).over(W.partitionBy("blk", "sh")))
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
# default spark.driver.maxResultSize of 1g.  On a 4-core host
# (local[4]), synthetic star-shaped near-dup graphs of 0.5/1/2/4M pairs
# labeled 1.9-5.5x faster locally than in the distributed loop (4M:
# 6.4 s vs 35 s), so the cap is the largest size measured.
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


def _release_checkpoint(frame: DataFrame) -> None:
    """Free the blocks of a localCheckpoint()ed frame.  They belong to
    the RDD under the frame's LogicalRDD, which DataFrame.unpersist()
    does not reach, so without this each call leaves them persisted for
    the life of the session."""
    frame._jdf.queryExecution().logical().rdd().unpersist(False)


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
        local = edges.sparkSession.createDataFrame([], schema)
    else:
        local = _cc_local_labels(edges, n_edges, schema)
    if local is not None:
        _release_checkpoint(edges)
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
        nxt = (
            neighbor.unionByName(labels)
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
        ).localCheckpoint(eager=True)  # cut lineage per round, execute once
        if rnd:
            _release_checkpoint(labels)  # the previous round's checkpoint
        labels = nxt
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
    if max_iter > 0:  # checkpointed labels no longer read the edges
        _release_checkpoint(edges)
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

    Shuffles: the featurizer's own on the text hash; one on the doc id
    that every reader of the shingle sets shares, which also clusters
    both verify sides; one per join side on the shingle key (the index
    side's also serves the df window); and the candidate pairs' own for
    the distinct and the two verify joins (AQE drops those it can
    replace with a broadcast)."""
    from pyspark.sql import Window as W

    # one exchange on the doc id feeds every reader of the shingle sets
    # (probe keys, index keys, both verify sides), so Spark runs it, and
    # the featurizer below it, once.  The no-op filter states those
    # readers' inferred filters (the joins' isnotnull(id), the explode's
    # size(sh) > 0) on every branch, so none sinks below the exchange on
    # one side only; sh is NOT NULL for the explode's isnotnull(sh).
    docs = (
        _shingle_hash_sets(df, text_col, id_col, shingle_n)
        .filter(F.col(id_col).isNotNull() & (F.size("sh") > 0))
        .repartition(id_col)
    )
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
