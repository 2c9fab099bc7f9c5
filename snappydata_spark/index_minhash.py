"""Materialized MinHash-LSH near-dup index: build once, probe many.

`CREATE INDEX idx ON t(text) USING minhash` computes each document's
MinHash signature ONCE and stores its LSH band hashes in a managed keyed
table `idx__ann`:

    (<id_col>, band int, band_hash string)   -- key = (<id_col>, band)

(the reference materializes CREATE INDEX structures as maintained column
tables — IndexColumnFormatRelation, ColumnFormatRelation.scala:633; this
is the text-dedup analogue of index_ann.py's IVF-SQ8 index).

Served operations:
- `candidate_pairs(sn, idx)` — all near-dup candidate pairs via a
  self-join of the STORED band table on (band, band_hash): the
  shingle→md5→minhash signature pipeline (the dominant cost of
  dedup_minhash_lsh) never re-runs.
- `near_dup_lookup(sn, idx, probe_df)` — bands of the probe documents
  (computed with the same expressions) joined against the stored band
  table: "which existing docs is this new batch a near-dup of?" — the
  incoming-batch dedup gate of a training-data pipeline.
- Mutations maintain the band table via the session's `_ann_maintain`
  hook: touched docs re-band and PUT (per-doc work only), deleted docs'
  bands are pruned.

Scale: band rows are (id, int, 32-char hash) — signature bytes << text
bytes, so the self-join reads a tiny fraction of corpus bandwidth; the
join key (band, band_hash) is the classic LSH bucket, bounded by the
banding threshold.  Hash arithmetic is the md5+affine family of
functions/text.py, reproduced exactly by the dedup_minhash oracle CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from snappydata_spark.functions import text as T


def _band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, band_hash) for every doc with >= 1 shingle, computed
    VECTORIZED in Python workers via mapInPandas — hash-for-hash
    identical to the Catalyst expression chain (functions/text.py
    shingle_hashes -> minhash_from_hashes -> lsh_bands) and to the
    DuckDB oracle CTEs:

    - tokens: ASCII-\\s+ split of the trimmed text, empties dropped
      (re.ASCII matches Java's default \\s class);
    - base hash per shingle: first 8 md5 hex chars of 'mh~'+shingle as
      an unsigned int (hashlib == Spark md5 == DuckDB md5, utf-8);
    - sig[i] = min((h*(2i+1) + (12582917i+1)) % (2^31-1)) — int64-exact
      numpy; docs with no shingle are dropped (an all-NULL signature
      would bucket every short doc together);
    - band_hash = md5 of the comma-joined signature slice;
    - sig_digest = md5 of the comma-joined FULL signature, identical on
      every band row of a doc.  Equal digests <=> equal signatures, so
      dedup._sig_frame keys exact-duplicate docs from the band-0 rows
      directly — a map-side column instead of the collect_list/array_sort
      shuffle that re-derives the signature key per doc.

    Why not the Catalyst chain: its interpreted HOF lambdas (~24M evals
    at sf0.1) did not scale across local threads (9 s wall regardless
    of partitioning — contention in interpreted eval); this pass is
    ~0.5 s and parallelizes per Arrow batch."""
    import hashlib
    import re

    rows = num_hashes // bands
    mults = [2 * i + 1 for i in range(num_hashes)]
    adds = [12582917 * i + 1 for i in range(num_hashes)]
    ws = re.compile(r"\s+", re.ASCII)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"__id": [], "band": [], "band_hash": [], "sig_digest": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(text.strip()) if t]
                if len(toks) < shingle_n:
                    continue
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                ("mh~" + " ".join(toks[i : i + shingle_n])).encode()
                            ).hexdigest()[:8],
                            16,
                        )
                        for i in range(len(toks) - shingle_n + 1)
                    ),
                    dtype=np.int64,
                )
                sig = [
                    int(((hs * m + a) % 2147483647).min())
                    for m, a in zip(mults, adds)
                ]
                dig = hashlib.md5(
                    ",".join(str(s) for s in sig).encode()
                ).hexdigest()
                for b in range(bands):
                    chunk = ",".join(
                        str(sig[b * rows + r]) for r in range(rows)
                    )
                    out["__id"].append(doc_id)
                    out["band"].append(b)
                    out["band_hash"].append(
                        hashlib.md5(chunk.encode()).hexdigest()
                    )
                    out["sig_digest"].append(dig)
            yield pd.DataFrame(
                {id_col: out["__id"], "band": out["band"],
                 "band_hash": out["band_hash"],
                 "sig_digest": out["sig_digest"]}
            )

    id_type = dict(df.dtypes)[id_col]
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par)
        .mapInPandas(
            run,
            f"{id_col} {id_type}, band int, band_hash string, "
            "sig_digest string",
        )
    )


def build_minhash(
    sn,
    index_name: str,
    table: str,
    text_col: str,
    id_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> dict:
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands}"
        )
    meta = sn.catalog.load_meta(sn._canon(table))
    if id_col is None:
        if not meta.key_columns:
            raise ValueError(
                f"minhash index on {table} needs KEY_COLUMNS (or an "
                "explicit id column) to key the band table"
            )
        id_col = meta.key_columns[0]
    idx_table = f"{index_name}__ann"
    rows = _band_rows(
        sn.table(table), text_col, id_col, num_hashes, bands, shingle_n
    )
    sn.create_table(
        idx_table, options={"key_columns": f"{id_col},band"}, df=rows
    )
    rep_table = f"{index_name}__repband"
    _write_rep_bands(sn, idx_table, rep_table, id_col)
    info = {
        "method": "minhash",
        "table": sn._canon(table),
        "column": text_col,
        "id_col": id_col,
        "index_table": idx_table,
        # representatives' band rows, materialized at build (one row set
        # per distinct signature): the rep-collapsed gate serves from
        # this without re-deriving signature groups per probe batch
        "rep_table": rep_table,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
    }
    sn._ann_indexes[index_name.lower()] = info
    sn._save_registry()
    return info


def _write_rep_bands(sn, idx_table: str, rep_table: str, id_col: str) -> None:
    """Materialize the band rows of each signature group's min-id
    REPRESENTATIVE (dedup._elect_reps).  Paid at build/maintenance,
    never at serve time."""
    from snappydata_spark.dedup import _elect_reps, _rep_bands

    banded = sn.table(idx_table)
    rep_bands = _rep_bands(banded, _elect_reps(banded, id_col), id_col)
    sn.create_table(
        rep_table,
        options={"key_columns": f"{id_col},band"},
        df=rep_bands,
        overwrite=True,
    )


def _visible_bands(sn, info) -> DataFrame:
    """The band table restricted to docs the CURRENT USER can see in the
    base table: an index is derived data — serving pairs/matches for
    rows an RLS policy or grant hides from the base read path would leak
    their existence through the side door.  The semi-join is skipped
    when no RLS/grant can filter the base (it would re-scan the base id
    projection per probe for nothing)."""
    banded = sn.table(info["index_table"])
    if not sn._read_is_filtered(info["table"]):
        return banded
    id_col = info["id_col"]
    visible = sn.table(info["table"]).select(id_col)
    return banded.join(visible, id_col, "left_semi")


def candidate_pairs(sn, index_name: str) -> DataFrame:
    """Exact-dup-collapsed candidate edges (doc1 < doc2, distinct) from
    the STORED band table — zero signature recompute, and the same
    linear-output contract as the direct pipeline
    (dedup.collapse_banded_pairs): member→representative edges carry
    verbatim-duplicate groups, the LSH bucket self-join runs over
    representatives only.  Edges are restricted to base rows visible to
    the current user."""
    from snappydata_spark.dedup import collapse_banded_pairs

    info = sn._ann_indexes[index_name.lower()]
    banded = _visible_bands(sn, info)
    return collapse_banded_pairs(banded, info["id_col"])


def near_dup_lookup(
    sn,
    index_name: str,
    probe: DataFrame,
    text_col: str | None = None,
    granularity: str = "rep",
) -> DataFrame:
    """The ingestion gate: candidate near-dup ids for each probe
    document — band the probes with the index's own parameters, join
    against the stored band table.  `probe` carries (<id_col>,
    <text_col>).

    ``granularity`` picks the output contract (r10: the scale-safe shape
    is the DEFAULT — on verbatim-duplicate-heavy corpora the member
    gate's output is |probe| x |group|, quadratic in the mirror factor,
    and dies at the sf100 rehearsal; see near_dup_lookup_reps):

    - ``"rep"`` (default): distinct (probe_id, match_rep) — at most one
      row per (probe, stored duplicate group); linear in probes.
    - ``"member"``: distinct (probe_id, match_id) over every stored
      member — the reference's full-match semantics, opt-in because its
      output is quadratic under verbatim mirroring."""
    if granularity == "rep":
        return near_dup_lookup_reps(sn, index_name, probe, text_col)
    if granularity != "member":
        raise ValueError(
            f"granularity must be 'rep' or 'member', got {granularity!r}"
        )
    info = sn._ann_indexes[index_name.lower()]
    id_col = info["id_col"]
    pb = _band_rows(
        probe,
        text_col or info["column"],
        id_col,
        info["num_hashes"],
        info["bands"],
        info["shingle_n"],
    ).select(
        F.col(id_col).alias("probe_id"), "band", "band_hash"
    )
    idx = _visible_bands(sn, info)
    return (
        idx.join(F.broadcast(pb), ["band", "band_hash"])
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", F.col(id_col).alias("match_id"))
        .distinct()
    )


def near_dup_lookup_reps(
    sn, index_name: str, probe: DataFrame, text_col: str | None = None
) -> DataFrame:
    """The rep-collapsed ingestion gate: like near_dup_lookup, but each
    probe matches the min-id REPRESENTATIVE of a stored duplicate group
    instead of every member — output is (probe_id, match_rep), at most
    one row per (probe, group).

    On verbatim-duplicate-heavy corpora the full gate's output is
    |probe| × |group| (the r7 sf10 rehearsal emitted 61 M match rows at
    ~120 members per group); this variant joins probe bands against the
    REPRESENTATIVES' bands only — members share their rep's signature,
    so any member band hit IS a rep band hit and recall at group
    granularity is identical.  Both the join fan-out and the output are
    linear in probes."""
    info = sn._ann_indexes[index_name.lower()]
    id_col = info["id_col"]
    rep_table = info.get("rep_table")
    if (
        rep_table
        and sn.catalog.exists(rep_table)
        and not sn._read_is_filtered(info["table"])
    ):
        # build-once path: the representatives' band rows were
        # materialized at CREATE INDEX / last refresh
        rep_bands = sn.table(rep_table)
    else:
        # No rep table (pre-r7 index), OR an RLS policy / grant filters
        # the base read: the materialized reps were elected over ALL
        # rows, so a group whose min-id rep is hidden would lose its
        # entire band row set under a visible-id semi-join — probes
        # would stop matching groups that still have visible members
        # (false negatives at the ingestion gate).  Re-elect the min
        # VISIBLE member as rep inline instead.
        from snappydata_spark.dedup import _elect_reps, _rep_bands

        banded = _visible_bands(sn, info)
        rep_bands = _rep_bands(banded, _elect_reps(banded, id_col), id_col)
    pb = _band_rows(
        probe,
        text_col or info["column"],
        id_col,
        info["num_hashes"],
        info["bands"],
        info["shingle_n"],
    ).select(F.col(id_col).alias("probe_id"), "band", "band_hash")
    return (
        rep_bands.join(F.broadcast(pb), ["band", "band_hash"])
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", F.col(id_col).alias("match_rep"))
        .distinct()
    )


def refresh_minhash(
    sn,
    index_name: str,
    source: DataFrame | None = None,
    delete_only: bool = False,
) -> None:
    """Maintain the band table after a base-table mutation: re-band the
    touched docs and PUT; prune bands of docs that left the table.
    Per-doc work only — no corpus-wide recompute when `source` names
    the mutated rows; `delete_only` skips banding entirely (deletes
    touch no surviving rows)."""
    info = sn._ann_indexes[index_name.lower()]
    id_col = info["id_col"]
    base = sn.table(info["table"])
    if not delete_only:
        rows_src = base if source is None else base.join(
            source.select(id_col).distinct(), id_col, "left_semi"
        )
        upserts = _band_rows(
            rows_src,
            info["column"],
            id_col,
            info["num_hashes"],
            info["bands"],
            info["shingle_n"],
        )
        # a touched doc whose NEW text yields no shingles (shorter than
        # shingle_n tokens) produces zero fresh bands — its old band
        # rows must delete, not linger (the inverted index's stale-terms
        # discipline; caught by the r6 stream-sink maintenance test)
        touched_ids = rows_src.select(id_col).distinct()
        stale_bands = (
            sn.table(info["index_table"])
            .join(touched_ids, id_col, "left_semi")
            .select(id_col, "band")
            .join(upserts.select(id_col, "band"), [id_col, "band"], "left_anti")
        )
        if not stale_bands.isEmpty():
            sn.delete_from(info["index_table"], stale_bands)
        if not upserts.isEmpty():
            sn.put(info["index_table"], upserts)
    stale = sn.table(info["index_table"]).select(id_col, "band").join(
        base.select(id_col), id_col, "left_anti"
    )
    if not stale.isEmpty():
        sn.delete_from(info["index_table"], stale)
    if info.get("rep_table"):
        # signature groups may have gained/lost members or changed their
        # min id — re-derive the representatives' band rows (one grouped
        # pass over the maintained band table; serve paths never pay it)
        _write_rep_bands(
            sn, info["index_table"], info["rep_table"], id_col
        )
