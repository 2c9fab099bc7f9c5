"""Materialized IVF-SQ8 vector index: build once, query many.

The composed query `sim_ivf_sq8_topk` (operators/corpus_ops.py) retrains
its coarse quantizer and recollects codec stats on every invocation.
This module promotes the same composition into a FIRST-CLASS index the
way the reference materializes CREATE INDEX structures
(SnappyDDLParser.scala createIndex:519; IndexColumnFormatRelation,
ColumnFormatRelation.scala:633 — an index IS a column table maintained
alongside the base table):

- `CREATE INDEX idx ON t(embedding) USING ivf_sq8` trains the k-means
  coarse quantizer + per-dim SQ8 codec stats ONCE and writes a managed
  keyed index table `idx__ann` with one row per vector:
      (<id_col>, cell bigint, code array<smallint>)
  range-clustered on `cell` so a probe-list scan prunes row groups by
  parquet min/max footer stats (the distributed index-seek analogue).
- The model (centroids + codec bounds) persists in the session registry
  as exact JSON doubles (float round-trips losslessly), so a fresh
  session re-binds the index without retraining.
- Queries probe the nprobe nearest cells, score ONLY those rows from
  the stored int8 codes in the dequantized domain, and exact-rerank the
  survivors against the base table — identical arithmetic to the
  composed query, so the same DuckDB oracle validates both paths.
- Mutations maintain the index with the STORED model (assign + encode
  the touched rows, PUT into the index table; deletes delete by key) —
  maintenance never retrains, mirroring the reference's index-updated-
  on-mutation contract.

Scale: the index table is ~d smallints + one bigint per vector (vs d
float64s in the base table); at 100 TB the probe scan reads only
nprobe/k of it, file-pruned by the cell clustering.  Training collects
only model-sized state (k centroids, d codec bounds).  The production
variant would pack codes as `binary` (1 byte/dim); array<smallint> is
kept here so scoring stays in Catalyst expressions bit-identical to the
cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from snappydata_spark.functions import vector as V


def _lit_darray(vals: list[float]):
    """Exact double-array literal (repr round-trips the bits)."""
    return F.expr("array(" + ", ".join(repr(float(v)) + "D" for v in vals) + ")")


def _quantize_codes(vec, mn: list[float], mx: list[float]):
    """code_i = clamp(floor((v_i - mn_i)/(mx_i - mn_i) * 255)) as
    smallint — EXACTLY the inner term of sq8_dequant, so
    mn + code/255*(mx-mn) reproduces the composed path's dequantized
    values bit-for-bit."""
    mn_lit, mx_lit = _lit_darray(mn), _lit_darray(mx)
    dv = F.transform(vec, lambda x: x.cast("double"))
    return F.zip_with(
        F.zip_with(dv, mn_lit, lambda v, lo: F.struct(v.alias("v"), lo.alias("lo"))),
        mx_lit,
        lambda s, hi: F.when(hi == s.lo, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(255.0),
                    F.floor((s.v - s.lo) / (hi - s.lo) * 255).cast("double"),
                ),
            )
        ).cast("smallint"),
    )


def sq8_scores_pandas(
    rows: DataFrame,
    col: str,
    id_col: str,
    mn: list,
    mx: list,
    q_vec: list,
    from_codes: bool,
    echo_col: str | None = None,
    cent_rows: list | None = None,
    probe_cells: set | None = None,
) -> DataFrame:
    """Approximate cosine per row in the SQ8-dequantized domain,
    vectorized in numpy via mapInPandas and FLOAT-EXACT to the Catalyst
    composition sq8_dequant + V.cosine (and to the DuckDB oracle):

    - quantize: floor((v-mn)/(mx-mn)*255) clamped to [0,255], degenerate
      dims (mx==mn) dequantize to mn — the same expression order;
    - every sum (dot, norms) is the LEFT-TO-RIGHT sequential fold, via
      np.cumsum's prefix semantics (np.sum is pairwise and drifts in the
      last ulps — enough to flip a near-tie candidate rank).

    `col` holds stored int codes (from_codes=True, the index path) or
    raw vectors (False, the composed path); `q_vec` is the RAW query
    vector (quantized+dequantized here, exactly as the expression side
    does).  `echo_col` passes one input column through (the composed
    path echoes the raw embedding for the exact rerank).  Replaces a
    per-row interpreted zip_with/fold chain — the dominant scan cost.

    r12 (guide §2.3/§2.4): `cent_rows` + `probe_cells` fuse the IVF
    probe prune INTO this scan — each batch assigns its vectors to the
    nearest centroid with the EXACT numpy ops of
    ann.ivf_assign_vectorized (normalized matmul + argmax, ties to the
    first/lowest cid) and keeps only rows whose cell is probed, so the
    separate assignment pass over the corpus and the two shuffle joins
    (assign⋈probe semi, emb⋈pruned) disappear; raw-vector path only."""
    import numpy as np

    mnv = np.array(mn, dtype=np.float64)
    mxv = np.array(mx, dtype=np.float64)
    span = mxv - mnv
    deg = span == 0.0

    if (cent_rows is None) != (probe_cells is None):
        raise ValueError(
            "cell_filter fusion needs BOTH cent_rows and probe_cells "
            f"(got cent_rows={'set' if cent_rows is not None else None}, "
            f"probe_cells={'set' if probe_cells is not None else None})"
        )
    if cent_rows is not None:
        if from_codes:
            raise ValueError("cell_filter fusion needs raw vectors")
        acell = np.array([int(c) for c, _ in cent_rows], dtype=np.int64)
        amat = np.array([v for _, v in cent_rows], dtype=np.float64)
        anorm = np.linalg.norm(amat, axis=1, keepdims=True)
        anorm[anorm == 0] = 1.0  # zero-norm centroid: same guard as rows
        amat /= anorm
        aprobe = np.array([c in probe_cells for c in acell.tolist()])

    def _quantize(vecs):
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.floor((vecs - mnv) / span * 255)
        q = np.clip(q, 0.0, 255.0)
        q[:, deg] = 0.0
        return q

    def _deq(codes):
        return mnv + codes / 255.0 * span

    def _seq_sum(a):
        return np.cumsum(a, axis=1)[:, -1]

    qv = np.array(q_vec, dtype=np.float64)[None, :]
    dq = _deq(_quantize(qv))[0]
    dq_norm = np.sqrt(np.cumsum(dq * dq)[-1])

    types = dict(rows.dtypes)
    out_schema = f"{id_col} {types[id_col]}"
    if echo_col:
        out_schema += f", {echo_col} {types[echo_col]}"
    out_schema += ", acos double"
    sel = [id_col, col] + ([echo_col] if echo_col and echo_col != col else [])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = np.array(pdf[col].tolist(), dtype=np.float64)
            if cent_rows is not None:
                # identical ops to ann.ivf_assign_vectorized: normalized
                # matmul, argmax (first max ⇒ lowest cid wins ties)
                norms = np.linalg.norm(arr, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                best = ((arr / norms) @ amat.T).argmax(axis=1)
                keep = aprobe[best]
                if not keep.any():
                    continue
                # reset_index: the output dict mixes .values arrays with
                # pandas Series (echo_col) — a gapped index after the
                # boolean mask would realign against the fresh RangeIndex
                pdf = pdf[keep].reset_index(drop=True)
                arr = arr[keep]
            de = _deq(arr) if from_codes else _deq(_quantize(arr))
            num = _seq_sum(de * dq)
            den = np.sqrt(_seq_sum(de * de)) * dq_norm
            out = {id_col: pdf[id_col].values}
            if echo_col:
                out[echo_col] = pdf[echo_col]
            out["acos"] = num / den
            yield pd.DataFrame(out)

    return rows.select(*sel).mapInPandas(run, out_schema)


def codec_stats(emb: DataFrame, vec_col: str) -> tuple[list, list]:
    """Per-dim [min, max] over the corpus — the SQ8 codec model (d rows
    collected; bounded like kmeans centroids)."""
    stats = (
        emb.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .collect()
    )
    mn = {r.pos: r.mn for r in stats}
    mx = {r.pos: r.mx for r in stats}
    dims = len(mn)
    return [mn[i] for i in range(dims)], [mx[i] for i in range(dims)]


def _cell_max_angles(assigned_vecs: DataFrame, centroids, vec_col: str) -> dict:
    """{cell: max angle(member, centroid)} over (cell, <vec_col>) rows —
    the per-cell residual radius that makes threshold pruning EXACT: by
    the triangle inequality on angles, every member v of cell c has
    angle(q, v) >= angle(q, c) - radius(c), so cos(q, v) is bounded above
    by cos(max(0, angle(q,c) - radius(c))) and a cell whose bound falls
    below the threshold cannot contain a qualifying row.  Zero-norm
    members (cosine NaN) force radius = pi — their cell is never pruned.
    One map-only pass (centroids enter as a closure) + a k-row collect."""
    import numpy as np

    cents = np.array(centroids, dtype=np.float64)
    cnorms = np.sqrt(np.cumsum(cents * cents, axis=1)[:, -1])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cells = pdf["cell"].to_numpy()
            c = cents[cells]
            dots = np.cumsum(v * c, axis=1)[:, -1]
            nv = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nv * cnorms[cells])
            ang = np.where(
                np.isnan(cos), np.pi, np.arccos(np.clip(cos, -1.0, 1.0))
            )
            out = (
                pd.DataFrame({"cell": cells, "ang": ang})
                .groupby("cell", as_index=False)
                .max()
            )
            yield out

    partials = assigned_vecs.select("cell", vec_col).mapInPandas(
        run, "cell long, ang double"
    )
    rows = partials.groupBy("cell").agg(F.max("ang").alias("ang")).collect()
    return {int(r.cell): float(r.ang) for r in rows}


def build_ivf_sq8(
    sn,
    index_name: str,
    table: str,
    vec_col: str,
    id_col: str | None = None,
    k: int | None = None,
    iters: int | None = None,
) -> dict:
    """Train the model and materialize the index table.  Returns the
    index meta dict (also persisted in the session registry)."""
    from snappydata_spark import ann
    from snappydata_spark.operators import ml_ops

    base = sn.table(table)
    meta = sn.catalog.load_meta(sn._canon(table))
    if id_col is None:
        if not meta.key_columns:
            raise ValueError(
                f"ivf_sq8 index on {table} needs KEY_COLUMNS (or an "
                "explicit id column) to key the index table"
            )
        id_col = meta.key_columns[0]
    # NULL vectors are unindexable (see refresh_ivf_sq8) — train/encode
    # over the non-null rows only
    base = base.filter(F.col(vec_col).isNotNull())
    if base.isEmpty():
        # the coarse quantizer needs data to train (FAISS's IVF contract);
        # a cryptic numpy AxisError helped no one
        raise ValueError(
            f"ivf_sq8 index on {table} needs at least one non-null "
            f"{vec_col} vector to train the coarse quantizer — load data "
            "first, then CREATE INDEX"
        )
    k = k or ml_ops.K
    iters = iters or ml_ops.ITERS
    # kmeans_train trains on (vec_id, embedding) column names
    train_view = base.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    centroids, _ = ml_ops.kmeans_train(train_view, k=k, iters=iters)
    cent_rows = sorted((int(c), list(v)) for c, v in centroids.items())
    mn, mx = codec_stats(base, vec_col)
    idx_table = f"{index_name}__ann"
    assign = ann.ivf_assign_vectorized(
        base.select(id_col, vec_col), cent_rows, vec_col=vec_col, id_col=id_col
    )
    codes = base.select(
        id_col, _quantize_codes(F.col(vec_col), mn, mx).alias("code")
    )
    rows = assign.join(codes, id_col)
    sn.create_table(idx_table, options={"key_columns": id_col}, df=rows)
    n_rows = sn.table(idx_table).count()
    angles = _cell_max_angles(
        assign.join(base.select(id_col, vec_col), id_col),
        [v for _, v in cent_rows],
        vec_col,
    )
    cell_radius = [angles.get(c, 0.0) for c in range(len(cent_rows))]
    # range-cluster the index files on `cell` so probe scans skip files
    # whose cell range can't match (the layout-index path)
    sn.sql(f"CREATE INDEX {index_name}__cell ON {idx_table} (cell)")
    info = {
        "method": "ivf_sq8",
        "table": sn._canon(table),
        "column": vec_col,
        "id_col": id_col,
        "index_table": idx_table,
        "k": k,
        "centroids": [v for _, v in cent_rows],
        "mn": mn,
        "mx": mx,
        # maintained row count: lets the router widen nprobe to full
        # recall when a query's candidate budget covers the whole corpus
        "n_rows": n_rows,
        # per-cell residual radii (max member-to-centroid angle): the
        # EXACT cell-pruning bound for threshold queries.  Inserts may
        # only RAISE a radius (refresh); deletes leave it — a stale
        # too-large radius is conservative (less pruning, never a miss)
        "cell_radius": cell_radius,
    }
    sn._ann_indexes[index_name.lower()] = info
    sn._save_registry()
    return info


def search_ivf_sq8(
    sn,
    index_name: str,
    query: DataFrame,
    topk: int = 10,
    cand: int = 50,
    nprobe: int = 4,
    exclude_ids: list | None = None,
    rerank: str = "exact",
    keep_exact: bool = False,
) -> DataFrame:
    """Query the materialized index: probe → quantized in-cell scan from
    STORED codes → exact rerank against the base table.  `query` is a
    1-row DataFrame with a `qe array<...>` column, or a plain list of
    floats (no collect round-trip); `exclude_ids` drops
    known ids (e.g. the query vector itself) BEFORE the candidate
    limit.  No training jobs run here — the model enters as literals
    from the registry.

    `rerank='sq8'` skips the exact rerank entirely and ranks by the
    dequantized int8 score — the plan then never touches the base
    table's vector column (pure index serve; the recall/latency knob
    resolve_index exposes as snappydata.index.ann.rerank).
    `keep_exact=True` keeps the unrounded exact cosine as `exact_cos`
    (rerank='exact' only) for callers that project their own score."""
    info = sn._ann_indexes[index_name.lower()]
    id_col, mn, mx = info["id_col"], info["mn"], info["mx"]
    # knob hygiene: the recall knobs trade accuracy, never result
    # cardinality — cand below topk would silently shrink the result
    # set, and nprobe<1 would scan no cells at all
    nprobe = max(1, int(nprobe))
    cand = max(int(cand), int(topk))
    if isinstance(query, (list, tuple)):
        # literal query vector (the resolve_index path): no collect
        q_vec = [float(x) for x in query]
    else:
        # 1-row model-sized collect: the query vector enters the
        # vectorized scorer as a closure constant (quantized+dequantized
        # there with the exact expression-order arithmetic)
        q_vec = [float(x) for x in query.limit(1).collect()[0].qe]
    # Probe the coarse quantizer DRIVER-SIDE: centroids are registry
    # literals and the probe is k×d flops — running it as a Spark
    # broadcast-join job only added per-serve latency.  Float-exact
    # discipline: np.cumsum is the sequential prefix fold, so dot/norm
    # reproduce V.cosine's aggregate-fold bit-for-bit and the probed
    # cell set matches the composed SQL oracle exactly.
    import math

    import numpy as np

    q = np.asarray(q_vec, dtype=np.float64)
    qn = math.sqrt(float(np.cumsum(q * q)[-1]))
    ranked = sorted(
        (
            -(float(np.cumsum(np.asarray(ce, dtype=np.float64) * q)[-1])
              / (math.sqrt(float(np.cumsum(
                    np.asarray(ce, dtype=np.float64)
                    * np.asarray(ce, dtype=np.float64))[-1])) * qn)),
            cid,
        )
        for cid, ce in enumerate(info["centroids"])
    )
    cells = [cid for _, cid in sorted(ranked)[:nprobe]]
    idx = sn.table(info["index_table"])
    # restrict to base rows the CURRENT USER can see before the
    # candidate limit: an RLS-hidden row must neither leak its id nor
    # consume candidate slots (the rerank inner-join alone would stop
    # the leak but silently shrink recall).  Skipped when no RLS/grant
    # can filter the base — the semi-join would re-scan the base id
    # projection on every probe for nothing.
    if sn._read_is_filtered(info["table"]):
        idx = idx.join(
            sn.table(info["table"]).select(id_col), id_col, "left_semi"
        )
    if exclude_ids:
        idx = idx.filter(~F.col(id_col).isin(exclude_ids))
    # literal IN-list on the clustering column: pushes to the parquet
    # scan, so the cell-range file layout prunes whole files (a semi
    # join could not push below the scan)
    scanned = sq8_scores_pandas(
        idx.filter(F.col("cell").isin(cells)),
        col="code",
        id_col=id_col,
        mn=mn,
        mx=mx,
        q_vec=q_vec,
        from_codes=True,
    )
    if rerank == "sq8":
        # index-only serve: rank by the dequantized int8 score, never
        # reading the base table (cos == approx_cos by construction)
        return (
            scanned.orderBy(F.desc("acos"), id_col)
            .limit(topk)
            .select(
                id_col,
                F.round(F.col("acos"), 4).alias("cos"),
                F.round(F.col("acos"), 4).alias("approx_cos"),
            )
        )
    cand_df = scanned.orderBy(F.desc("acos"), id_col).limit(cand)
    base = sn.table(info["table"]).select(
        id_col, F.col(info["column"]).alias("__vec")
    )
    # the query enters the rerank as a LITERAL array — no broadcast job;
    # same expression tree as the former broadcast-qe form
    q_arr = F.array(*[F.lit(v) for v in q_vec])
    out = (
        cand_df.join(base, id_col)
        .select(
            id_col,
            F.round(V.cosine(F.col("__vec"), q_arr), 4).alias("cos"),
            F.round(F.col("acos"), 4).alias("approx_cos"),
            V.cosine(F.col("__vec"), q_arr).alias("exact_cos"),
        )
        .orderBy(F.desc("exact_cos"), id_col)
        .limit(topk)
    )
    return out if keep_exact else out.drop("exact_cos")


def threshold_scan_ivf(sn, index_name: str, q_vec: list, tau: float):
    """Serve `WHERE cosine_sim(col, q) > tau` (no LIMIT) from the index:
    prune cells whose residual-radius upper bound cos(max(0, angle(q,c)
    - radius(c))) falls below tau, then EXACT-score only the surviving
    cells' members against the base table — the result set is exactly
    the full-scan filter's (the bound is sound; the final filter is the
    exact cosine), but the scan is limited to cells that can qualify.
    Returns (id_col, frame with id + unrounded `__cos`), or None when
    the index predates radius support."""
    import math

    import numpy as np

    info = sn._ann_indexes[index_name.lower()]
    radii = info.get("cell_radius")
    if radii is None:
        return None
    id_col = info["id_col"]
    q = np.asarray([float(x) for x in q_vec], dtype=np.float64)
    qn = math.sqrt(float(np.cumsum(q * q)[-1]))
    kept = []
    for cid, ce in enumerate(info["centroids"]):
        c = np.asarray(ce, dtype=np.float64)
        cn = math.sqrt(float(np.cumsum(c * c)[-1]))
        denom = cn * qn
        cosqc = float(np.cumsum(c * q)[-1]) / denom if denom else float("nan")
        if math.isnan(cosqc):
            kept.append(cid)  # zero-norm query/centroid: never prune
            continue
        theta = math.acos(max(-1.0, min(1.0, cosqc)))
        lb = max(0.0, theta - radii[cid] - 1e-9)
        if math.cos(lb) >= tau - 1e-9:
            kept.append(cid)
    idx = sn.table(info["index_table"])
    if sn._read_is_filtered(info["table"]):
        idx = idx.join(
            sn.table(info["table"]).select(id_col), id_col, "left_semi"
        )
    ids = idx.filter(F.col("cell").isin(kept)).select(id_col)
    base = sn.table(info["table"]).select(
        id_col, F.col(info["column"]).alias("__vec")
    )
    q_arr = F.array(*[F.lit(float(v)) for v in q_vec])
    return id_col, (
        ids.join(base, id_col)
        .select(id_col, V.cosine(F.col("__vec"), q_arr).alias("__cos"))
        .filter(F.col("__cos") > float(tau))
    )


def search_ivf_sq8_batch(
    sn,
    index_name: str,
    queries: DataFrame,
    qid_col: str = "qid",
    qvec_col: str = "qe",
    topk: int = 10,
    cand: int = 50,
    nprobe: int = 4,
    exclude_same_id: bool = False,
    widen_to_full_recall: bool = True,
) -> DataFrame:
    """BATCH serve from the materialized index: a query TABLE of
    (qid, query-vector) rows, each retrieving its own top-k — the
    production many-queries shape (offline eval sets, dedup probes,
    recommendation candidate generation), vs search_ivf_sq8's single
    literal vector.  Mirrors the reference's index-serving path
    (IndexColumnFormatRelation, ColumnFormatRelation.scala:633) applied
    to a joined probe set rather than one point lookup.

    Plan shape, scale-first:
      1. PROBE is a map-only pass over the query table (mapInPandas,
         centroids enter as a closure — model-sized) emitting
         (qid, cell) pairs, nprobe per query;
      2. the distinct probed-cell list is at most k values (k =
         centroid count, model-sized), collected and pushed as a
         literal IN-filter so the cell-range file clustering still
         prunes index files even for batch serves;
      3. candidate generation is one join of the pruned index scan
         against the probe pairs on `cell` (probe side broadcast: Q ×
         nprobe rows; at huge Q this flips to a shuffle join on cell —
         both sides are already narrow id/cell rows);
      4. quantized scoring is vectorized numpy over (code, query-vec)
         rows with the same sequential-fold (np.cumsum) discipline as
         sq8_scores_pandas, so scores stay bit-identical to the SQL
         oracle;
      5. per-query candidate cut and exact rerank are windows
         PARTITIONED BY qid — parallel across queries, never a global
         sort.

    `exclude_same_id=True` drops candidates whose id equals the query's
    qid (self-matches when queries are drawn from the indexed corpus).
    Output: (qid, <id_col>, cos, approx_cos), topk rows per query."""
    import numpy as np
    from pyspark.sql import Window

    info = sn._ann_indexes[index_name.lower()]
    id_col, mn, mx = info["id_col"], info["mn"], info["mx"]
    nprobe = max(1, int(nprobe))
    cand = max(int(cand), int(topk))
    k = len(info["centroids"])
    # full-recall widening: when the per-query candidate budget covers
    # the whole corpus, probing fewer than all cells only loses recall
    # (opt out to pin the probe count, e.g. for fixed-nprobe parity
    # runs).  An index persisted before n_rows was recorded skips the
    # widen — a missing count must not silently force full-corpus scans.
    n_rows = int(info.get("n_rows") or 0)
    if widen_to_full_recall and n_rows and cand >= n_rows:
        nprobe = k
    cents = np.array(info["centroids"], dtype=np.float64)
    cent_norms = np.sqrt(np.cumsum(cents * cents, axis=1)[:, -1])
    n_probe = min(nprobe, k)
    # a NULL query vector has no probe direction: shed it up front (the
    # NULL-vector discipline of refresh_ivf_sq8) rather than crash the
    # vectorized prober
    queries = queries.filter(F.col(qvec_col).isNotNull())

    qtypes = dict(queries.dtypes)
    probe_schema = f"{qid_col} {qtypes[qid_col]}, cell bigint"

    def _probe(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qarr = np.array(pdf[qvec_col].tolist(), dtype=np.float64)
            # sequential-fold dot/norms per (query, centroid) pair —
            # bit-identical to _cos_sql / the driver-side single probe
            dots = np.cumsum(qarr[:, None, :] * cents[None, :, :], axis=2)[:, :, -1]
            qn = np.sqrt(np.cumsum(qarr * qarr, axis=1)[:, -1])
            cos = dots / (cent_norms[None, :] * qn[:, None])
            qids, cells = [], []
            cid_arr = np.arange(k)
            for i, qid in enumerate(pdf[qid_col].values):
                # top-nprobe cells, ties broken by ascending cid
                order = np.lexsort((cid_arr, -cos[i]))[:n_probe]
                qids.extend([qid] * len(order))
                cells.extend(int(c) for c in order)
            yield pd.DataFrame({qid_col: qids, "cell": cells})

    # persist the probe pairs: the frame is read twice (distinct-cell
    # collect below, then the candidate join) and re-running the
    # mapInPandas centroid pass over a large query table would double
    # the probe cost
    probe = queries.select(qid_col, qvec_col).mapInPandas(
        _probe, probe_schema
    ).persist()
    # the distinct probed-cell list is bounded by k (model-sized): push
    # it as a literal IN so the cell-clustered file layout still prunes
    cells = [r.cell for r in probe.select("cell").distinct().collect()]
    idx = sn.table(info["index_table"]).filter(F.col("cell").isin(cells))
    if sn._read_is_filtered(info["table"]):
        idx = idx.join(
            sn.table(info["table"]).select(id_col), id_col, "left_semi"
        )
    cands = idx.join(F.broadcast(probe), "cell").drop("cell")
    if exclude_same_id:
        cands = cands.filter(F.col(id_col) != F.col(qid_col))
    scored_in = cands.join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)

    mnv = np.array(mn, dtype=np.float64)
    mxv = np.array(mx, dtype=np.float64)
    span = mxv - mnv
    deg = span == 0.0

    def _deq_quant(arr):
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.floor((arr - mnv) / span * 255)
        q = np.clip(q, 0.0, 255.0)
        q[:, deg] = 0.0
        return mnv + q / 255.0 * span

    ctypes = dict(scored_in.dtypes)
    score_schema = (
        f"{qid_col} {ctypes[qid_col]}, {id_col} {ctypes[id_col]}, acos double"
    )

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["code"].tolist(), dtype=np.float64)
            de = mnv + codes / 255.0 * span
            dqv = _deq_quant(np.array(pdf[qvec_col].tolist(), dtype=np.float64))
            num = np.cumsum(de * dqv, axis=1)[:, -1]
            den = np.sqrt(np.cumsum(de * de, axis=1)[:, -1]) * np.sqrt(
                np.cumsum(dqv * dqv, axis=1)[:, -1]
            )
            yield pd.DataFrame(
                {
                    qid_col: pdf[qid_col].values,
                    id_col: pdf[id_col].values,
                    "acos": num / den,
                }
            )

    scored = scored_in.select(qid_col, id_col, "code", qvec_col).mapInPandas(
        _score, score_schema
    )
    w_cand = Window.partitionBy(qid_col).orderBy(F.desc("acos"), id_col)
    cand_df = (
        scored.withColumn("__rn", F.row_number().over(w_cand))
        .filter(F.col("__rn") <= cand)
        .drop("__rn")
    )
    base = sn.table(info["table"]).select(
        id_col, F.col(info["column"]).alias("__vec")
    )
    w_final = Window.partitionBy(qid_col).orderBy(F.desc("__exact"), id_col)
    return (
        cand_df.join(base, id_col)
        .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
        .withColumn("__exact", V.cosine(F.col("__vec"), F.col(qvec_col)))
        .withColumn("__rk", F.row_number().over(w_final))
        .filter(F.col("__rk") <= topk)
        .select(
            qid_col,
            id_col,
            F.round(F.col("__exact"), 4).alias("cos"),
            F.round(F.col("acos"), 4).alias("approx_cos"),
        )
    )


def refresh_ivf_sq8(
    sn,
    index_name: str,
    source: DataFrame | None = None,
    delete_only: bool = False,
) -> None:
    """Maintain the index after a base-table mutation using the STORED
    model (no retraining): re-assign + re-encode the touched rows and
    PUT them into the index table; rows whose keys left the base table
    are deleted from the index.

    `source` narrows the refresh to the mutated rows (the PUT source or
    an UPDATE's matched rows); `delete_only` skips the encode pass
    entirely (deletes touch no surviving rows).  Without either, the
    refresh re-derives the full index content — still a map-only pass
    over the base table (assignment + encoding), never a training
    job."""
    from snappydata_spark import ann

    info = sn._ann_indexes[index_name.lower()]
    id_col, vec_col = info["id_col"], info["column"]
    base = sn.table(info["table"])
    if not delete_only:
        rows_src = base if source is None else base.join(
            source.select(id_col).distinct(), id_col, "left_semi"
        )
        # a NULL vector has no index entry: it cannot be assigned or
        # encoded (and would crash the vectorized assigner) — and a
        # touched doc whose vector BECAME null must shed its stale row
        # (the stale-terms/bands discipline of the other index kinds)
        with_vec = rows_src.filter(F.col(vec_col).isNotNull())
        nulled = rows_src.filter(F.col(vec_col).isNull()).select(id_col)
        if not nulled.isEmpty():
            doomed = sn.table(info["index_table"]).select(id_col).join(
                nulled, id_col, "left_semi"
            )
            if not doomed.isEmpty():
                sn.delete_from(info["index_table"], doomed)
        cent_rows = [(i, v) for i, v in enumerate(info["centroids"])]
        assign = ann.ivf_assign_vectorized(
            with_vec.select(id_col, vec_col),
            cent_rows,
            vec_col=vec_col,
            id_col=id_col,
        )
        codes = with_vec.select(
            id_col,
            _quantize_codes(F.col(vec_col), info["mn"], info["mx"]).alias("code"),
        )
        upserts = assign.join(codes, id_col)
        if not upserts.isEmpty():
            sn.put(info["index_table"], upserts)
            # threshold-pruning radii may only GROW here: a touched row
            # farther from its centroid than the stored radius would
            # otherwise be prunable out of a qualifying result.  Deleted
            # rows never shrink radii (stale = conservative).
            radii = info.get("cell_radius")
            if radii is not None:
                touched_angles = _cell_max_angles(
                    assign.join(with_vec.select(id_col, vec_col), id_col),
                    info["centroids"],
                    vec_col,
                )
                for c, a in touched_angles.items():
                    if c < len(radii) and a > radii[c]:
                        radii[c] = a
    # drop index rows whose key no longer exists in the base table
    stale = sn.table(info["index_table"]).select(id_col).join(
        base.select(id_col), id_col, "left_anti"
    )
    if not stale.isEmpty():
        sn.delete_from(info["index_table"], stale)
    info["n_rows"] = sn.table(info["index_table"]).count()
    sn._save_registry()
