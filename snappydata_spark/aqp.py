"""AQP-lite: stratified sample tables + error-bounded aggregates + topk.

Reference surface (the aqp implementation jar is absent in the reference
checkout — semantics documented in docs/sde/*.md and the API hooks in
core):

- CREATE SAMPLE TABLE ... OPTIONS (qcs 'c1,c2', fraction '0.01')
  (SnappySession.createSampleTable:872-936): stratified sample keyed on
  the query-column-set, queries transparently rerouted.
- `WITH ERROR <fraction>` queries return estimates with error bounds
  (docs/sde/running_queries.md:4-31): absolute_error / relative_error /
  lower_bound / upper_bound per aggregate.
- createApproxTSTopK (SnappySession:958-1026): time-windowed approximate
  top-k (CMS-backed in the reference).

Spark-first: the sample is a materialized `sampleBy` DataFrame with a
per-stratum observed count; estimates scale by the per-stratum inverse
sampling ratio (Horvitz-Thompson), and error bounds come from the normal
approximation (closed-form CLT, the same approach SDE documents for
sum/avg/count).  Top-k uses exact per-bucket groupBy over the sample —
at scale the sample is small, so this stays cheap where the full-data
top-k would shuffle the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

Z_95 = 1.959963984540054  # 95% two-sided normal quantile


def z_value(confidence: float) -> float:
    """Two-sided normal quantile for an arbitrary CONFIDENCE clause
    (docs/sde/running_queries.md:14 — 0 < c < 1, default 0.95)."""
    if not 0.0 < confidence < 1.0:
        raise ValueError(f"confidence must be in (0, 1), got {confidence}")
    from statistics import NormalDist

    return NormalDist().inv_cdf((1.0 + confidence) / 2.0)


class SampleTable:
    """A stratified sample with the metadata needed for estimation."""

    def __init__(self, sample: DataFrame, qcs: list[str], fractions: dict, base_count: int):
        self.sample = sample
        self.qcs = qcs
        self.fractions = fractions
        self.base_count = base_count


WEIGHT_COL = "snappy_sampler_weightage"  # the reference's hidden weight column


def create_sample_table(
    df: DataFrame,
    qcs: list[str],
    fraction: float,
    seed: int = 42,
    min_stratum_rows: int = 0,
) -> SampleTable:
    """Stratified sample on the query column set (qcs).

    Scale design: NO driver-side strata enumeration (a distinct+collect
    on the qcs would be a 100 TB bottleneck for high-cardinality qcs).
    One window over qcs computes stratum totals; each row keeps via a
    deterministic per-row hash draw (< fraction) OR a per-stratum random
    rank floor (`min_stratum_rows`, SDE's strataReservoirSize: rare
    strata always retain a reservoir).  The realized per-stratum weight
    (total/kept) rides along as the reference's hidden
    snappy_sampler_weightage column, making estimates exact
    Horvitz-Thompson regardless of floor effects.  Hash draws (not
    rand()) keep task retries consistent; identical duplicate rows share
    a draw — documented bias, negligible for analytic payloads."""
    from pyspark.sql import Window as W

    cols = [F.col(c) for c in df.columns]
    u = (
        F.pmod(F.xxhash64(F.struct(*cols), F.lit(seed)), F.lit(1_000_000))
        / 1_000_000.0
    )
    # QCS entries may be SQL EXPRESSIONS, e.g. hour(pickup_datetime)
    # (working_with_stratified_samples.md Example 3) — strata partition
    # by the expression value
    w = W.partitionBy(*[F.expr(c) for c in qcs])
    rn = F.row_number().over(w.orderBy(u, *cols))
    kept = (
        df.withColumn("__u", u)
        .withColumn("__total", F.count(F.lit(1)).over(w))
        .withColumn("__rn", rn)
        .filter((F.col("__u") < fraction) | (F.col("__rn") <= min_stratum_rows))
    )
    sample = (
        kept.withColumn(
            WEIGHT_COL,
            F.col("__total") / F.count(F.lit(1)).over(w),
        )
        .drop("__u", "__total", "__rn")
    )
    return SampleTable(sample, qcs, {"*": fraction}, -1)


def approx_agg(
    st: SampleTable,
    group_cols: list[str],
    value_col: str,
    agg: str = "sum",
    confidence: float = 0.95,
) -> DataFrame:
    """Error-bounded aggregate over the sample (WITH ERROR semantics).

    Returns estimate, absolute_error (half-width of the CI), relative_error,
    lower_bound, upper_bound — the four SDE error functions
    (docs/sde/running_queries.md)."""
    z = z_value(confidence)
    s = st.sample
    # PER-ROW Horvitz-Thompson: each row contributes w·y with ITS OWN
    # weight (inclusion probability 1/w).  Averaging the weights first
    # (est = Σy · mean(w)) is biased whenever weights differ within a
    # group — e.g. a reservoir-floored rare stratum at w=1 aggregated
    # together with a 1%-sampled stratum at w=100.
    # COUNT estimates need no value moments (y ≡ 1); using a constant also
    # lets COUNT(*) route through a non-numeric qcs column unharmed
    v = F.lit(1.0) if agg == "count" else F.col(value_col)
    w_row = (
        F.col(WEIGHT_COL)
        if WEIGHT_COL in s.columns
        else F.lit(1.0 / next(iter(st.fractions.values())))
    )
    # Bernoulli/Poisson HT variance: Var̂ = Σ (1-πᵢ)/πᵢ² yᵢ² = Σ wᵢ(wᵢ-1) yᵢ²
    g = s.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(w_row).alias("sum_w"),
        F.sum(w_row * v).alias("ht_sum"),
        F.sum(w_row * (w_row - 1) * v * v).alias("var_sum"),
        F.sum(w_row * (w_row - 1) * v).alias("var_cross"),
        F.sum(w_row * (w_row - 1)).alias("var_w"),
    )
    if agg == "sum":
        est = F.col("ht_sum")
        se = F.sqrt(F.greatest(F.col("var_sum"), F.lit(0.0)))
    elif agg == "avg":
        # ratio estimator R = Σwy / Σw with linearized variance
        # Var(R̂) ≈ Σ w(w-1)(y - R)² / (Σw)²  (expanded into one pass)
        est = F.col("ht_sum") / F.col("sum_w")
        quad = (
            F.col("var_sum")
            - 2.0 * est * F.col("var_cross")
            + est * est * F.col("var_w")
        )
        se = F.sqrt(F.greatest(quad, F.lit(0.0))) / F.col("sum_w")
    elif agg == "count":
        est = F.col("sum_w")
        se = F.sqrt(F.greatest(F.col("var_w"), F.lit(0.0)))
    else:
        raise ValueError(f"agg {agg!r} not supported (sum/avg/count)")
    abs_err = F.lit(z) * se
    return g.select(
        *group_cols,
        F.round(est, 4).alias("estimate"),
        F.round(abs_err, 4).alias("absolute_error"),
        F.round(abs_err / F.abs(est), 6).alias("relative_error"),
        F.round(est - abs_err, 4).alias("lower_bound"),
        F.round(est + abs_err, 4).alias("upper_bound"),
    )


def approx_agg_multi(
    st: SampleTable,
    group_cols: list[str],
    aggs: list[tuple[str, str, str]],
    confidence: float = 0.95,
) -> DataFrame:
    """Multi-aggregate WITH ERROR: one pass over the sample computing every
    (fn, value_col, alias) estimate with its own CI — the full-select-list
    form of the SDE surface (a query like `SELECT SUM(x), COUNT(*), AVG(y)
    ... WITH ERROR` is one sample scan, not three).

    Output: group cols + for each alias: `<alias>`,
    `<alias>_absolute_error`, `<alias>_relative_error`, `<alias>_lower_bound`,
    `<alias>_upper_bound` (same math per aggregate as approx_agg)."""
    z = z_value(confidence)
    s = st.sample
    w_row = (
        F.col(WEIGHT_COL)
        if WEIGHT_COL in s.columns
        else F.lit(1.0 / next(iter(st.fractions.values())))
    )
    moment_cols = [
        F.count(F.lit(1)).alias("n"),
        F.sum(w_row).alias("sum_w"),
        F.sum(w_row * (w_row - 1)).alias("var_w"),
    ]
    for i, (fn, col, _alias) in enumerate(aggs):
        v = F.lit(1.0) if fn == "count" else F.col(col)
        moment_cols += [
            F.sum(w_row * v).alias(f"ht_sum_{i}"),
            F.sum(w_row * (w_row - 1) * v * v).alias(f"var_sum_{i}"),
            F.sum(w_row * (w_row - 1) * v).alias(f"var_cross_{i}"),
        ]
    g = s.groupBy(*group_cols).agg(*moment_cols)
    out_cols = [F.col(c) for c in group_cols]
    for i, (fn, _col, alias) in enumerate(aggs):
        # same per-row Horvitz-Thompson math as approx_agg
        if fn == "sum":
            est = F.col(f"ht_sum_{i}")
            se = F.sqrt(F.greatest(F.col(f"var_sum_{i}"), F.lit(0.0)))
        elif fn == "avg":
            est = F.col(f"ht_sum_{i}") / F.col("sum_w")
            quad = (
                F.col(f"var_sum_{i}")
                - 2.0 * est * F.col(f"var_cross_{i}")
                + est * est * F.col("var_w")
            )
            se = F.sqrt(F.greatest(quad, F.lit(0.0))) / F.col("sum_w")
        elif fn == "count":
            est = F.col("sum_w")
            se = F.sqrt(F.greatest(F.col("var_w"), F.lit(0.0)))
        else:
            raise ValueError(f"agg {fn!r} not supported (sum/avg/count)")
        abs_err = F.lit(z) * se
        out_cols += [
            F.round(est, 4).alias(alias),
            F.round(abs_err, 4).alias(f"{alias}_absolute_error"),
            F.round(abs_err / F.abs(est), 6).alias(f"{alias}_relative_error"),
            F.round(est - abs_err, 4).alias(f"{alias}_lower_bound"),
            F.round(est + abs_err, 4).alias(f"{alias}_upper_bound"),
        ]
    return g.select(*out_cols)


def approx_topk_time(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 10,
    window: str = "1 hour",
    freq_col: str | None = None,
) -> DataFrame:
    """Time-windowed top-k (createApproxTSTopK analogue): per tumbling
    time bucket, the k most frequent keys.  The reference backs this with
    a count-min sketch + StreamSummary; over a bounded sample / stream
    window the exact per-bucket groupBy is the Spark-native equivalent
    (same output contract: (window, key, estimated count)).  `freq_col`
    weights each row by a frequency column instead of counting rows
    (docs/aqp/sketching.md frequencyCol: rank hashtags by retweets, not
    tweet count)."""
    from pyspark.sql import Window as W

    cnt = (
        F.sum(F.col(freq_col)).alias("cnt")
        if freq_col
        else F.count(F.lit(1)).alias("cnt")
    )
    bucketed = df.groupBy(
        F.window(F.col(ts_col), window).alias("w"), F.col(key_col)
    ).agg(cnt)
    w = W.partitionBy("w").orderBy(F.col("cnt").desc(), F.col(key_col))
    return (
        bucketed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("cnt"),
            F.col("rank"),
        )
    )


# ---------------------- CMS-backed TOPK TABLE state (sketch mode)

# CountMinSketch geometry for sketch-backed TOPK TABLES (the reference
# bounds TopK state with a vendored clearspring CountMinSketch +
# StreamSummary, core/src/main/java/io/snappydata/util/com/clearspring/
# analytics/stream/frequency/; createApproxTSTopK
# SnappySession.scala:958-1026).  Per window the state is D*W integer
# cells + a `size`-bounded candidate list — NEVER the full key set.
TOPK_CMS_D = 4
TOPK_CMS_W = 64


def _cms_bucket(row_idx_col, key_col, width: int = TOPK_CMS_W):
    """bucket = md5('tcms<row>~<key>') first-8-hex % W — the md5-derived
    hash family every verified-sketch query uses (oracle-reproducible:
    DuckDB computes the identical md5).  `width` is the accuracy/state
    knob: overcount <= eps*N = 2N/W at state D*W cells
    (tests/test_aqp.py pins the tradeoff at W=64/1024/8192)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("tcms"),
                        row_idx_col.cast("string"),
                        F.lit("~"),
                        F.col(key_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def topk_cms_cells(
    df: DataFrame,
    key_col: str,
    window_col: str = "window_start",
    freq_col: str | None = None,
    width: int = TOPK_CMS_W,
) -> DataFrame:
    """Per-window CMS cells: (window_start, row_idx, bucket, cnt) —
    additive integer state, ≤ D*W rows per window regardless of key
    cardinality.  One map-side explode + one bounded-key shuffle."""
    w = F.col(freq_col).cast("long") if freq_col else F.lit(1).cast("long")
    cells = df.select(
        F.col(window_col),
        F.explode(F.sequence(F.lit(0), F.lit(TOPK_CMS_D - 1))).alias("row_idx"),
        F.col(key_col),
        w.alias("__w"),
    ).select(
        window_col,
        "row_idx",
        _cms_bucket(F.col("row_idx"), key_col, width).alias("bucket"),
        "__w",
    )
    return cells.groupBy(window_col, "row_idx", "bucket").agg(
        F.sum("__w").alias("cnt")
    )


def topk_cms_probe(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str,
    window_col: str | None = None,
    width: int = TOPK_CMS_W,
) -> DataFrame:
    """CMS point estimates for `keys` against (…, row_idx, bucket, cnt)
    cells: est(key) = MIN over the D rows of the probed counters (the
    count-min property: est >= true count, never under).  With
    `window_col`, `keys` carries (window, key) pairs and each pair
    probes only ITS window's cells (the per-window candidate-list
    build); without it, cells are a pre-merged range."""
    extra = [window_col] if window_col else []
    probes = keys.select(
        *extra,
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(TOPK_CMS_D - 1))).alias("row_idx"),
    ).select(
        *extra,
        key_col,
        "row_idx",
        _cms_bucket(F.col("row_idx"), key_col, width).alias("bucket"),
    )
    joined = cells.join(
        F.broadcast(probes), [*extra, "row_idx", "bucket"]
    )
    return joined.groupBy(*extra, key_col).agg(F.min("cnt").alias("est"))


def stream_summary_state(
    df: DataFrame,
    key_col: str,
    capacity: int,
    order_cols: list[str],
    window_col: str | None = None,
    freq_col: str | None = None,
) -> DataFrame:
    """Space-Saving / Stream-Summary candidate list per window — the
    clearspring StreamSummary the reference's TopK structures vendor
    (StreamSummary.java offerReturnAll: a monitored key increments; a
    new key takes free capacity at error 0; at capacity the MIN-count
    counter is evicted and the newcomer inherits count = min + inc,
    error = min — the Metwally et al. overcount bound).

    Determinism contract (what makes the state hash-checkable against a
    DuckDB recursive-CTE oracle): events process in `order_cols` order
    within each window, and the eviction victim is the (count,
    last-update-seq)-minimum counter — clearspring evicts the min
    bucket's LRU tail; stamping each touch with the event sequence
    reproduces that rule exactly and leaves no ties (seq is unique).

    Columns out: (window_start?, <key>, cnt, err) — cnt is the
    possibly-overcounted estimate, err its maximum overcount, so
    cnt - err is the GUARANTEED minimum and err > 0 marks a counter
    that inherited an evicted slot.  State is `capacity` counters per
    window at ANY key cardinality.

    Scale: the pass is sequential WITHIN a window (the algorithm is;
    so is the reference's) but windows process in parallel via
    applyInPandas, and each group's state is `capacity` dicts — the
    driver never sees per-key data."""
    import pandas as pd

    win = window_col or "__w"
    frame = df
    if window_col is None:
        frame = frame.withColumn(
            "__w", F.lit("1970-01-01 00:00:00").cast("timestamp")
        )
    cols = list(dict.fromkeys([win, key_col, *order_cols]))
    if freq_col:
        cols.append(freq_col)
    frame = frame.select(*cols).filter(F.col(key_col).isNotNull())
    key_type = dict(frame.dtypes)[key_col]
    out_schema = (
        f"{win} timestamp, {key_col} {key_type}, cnt long, err long"
    )
    # JVM fast path: a window whose DISTINCT key count fits `capacity`
    # can never evict, so its Space-Saving state is exact counting with
    # err 0 and processing order is irrelevant — serve those windows
    # from a plain partial-aggregated groupBy and ship ONLY the
    # eviction-prone windows' rows through the Python pass (at low key
    # cardinality the Arrow transfer of the whole corpus cost 2x the
    # sf10 sketch build; after this split it costs one countDistinct).
    frame = frame.persist()
    nd = frame.groupBy(win).agg(F.countDistinct(key_col).alias("__nd"))
    small_w = nd.filter(F.col("__nd") <= capacity).select(win)
    inc = F.col(freq_col).cast("long") if freq_col else F.lit(1).cast("long")
    small = (
        frame.join(F.broadcast(small_w), win, "left_semi")
        .groupBy(win, key_col)
        .agg(F.sum(inc).alias("cnt"))
        .select(win, key_col, "cnt", F.lit(0).cast("long").alias("err"))
    )
    big = frame.join(F.broadcast(small_w), win, "left_anti")

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if pdf[key_col].nunique() <= capacity:
            # every key fits a counter: no eviction can occur, so the
            # Space-Saving state is exact counting with err 0 and
            # processing order is irrelevant — vectorize (the common
            # case for low-cardinality keys; the sequential loop below
            # cost 2.5x the whole sf10 sketch build before this)
            if freq_col:
                counts = pdf.groupby(key_col, sort=False)[freq_col].sum()
            else:
                counts = pdf[key_col].value_counts(sort=False)
            w = pdf[win].iloc[0] if len(pdf) else None
            return pd.DataFrame(
                {
                    win: [w] * len(counts),
                    key_col: counts.index,
                    "cnt": counts.astype("int64").values,
                    "err": [0] * len(counts),
                }
            )
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        state: dict = {}  # key -> [cnt, err, upd]
        seq = 0
        incs = pdf[freq_col] if freq_col else None
        for i, key in enumerate(pdf[key_col]):
            seq += 1
            inc = int(incs.iloc[i]) if incs is not None else 1
            ent = state.get(key)
            if ent is not None:
                ent[0] += inc
                ent[2] = seq
            elif len(state) < capacity:
                state[key] = [inc, 0, seq]
            else:
                vk = min(state, key=lambda s: (state[s][0], state[s][2]))
                vcnt = state.pop(vk)[0]
                state[key] = [vcnt + inc, vcnt, seq]
        w = pdf[win].iloc[0] if len(pdf) else None
        return pd.DataFrame(
            {
                win: [w] * len(state),
                key_col: list(state),
                "cnt": [v[0] for v in state.values()],
                "err": [v[1] for v in state.values()],
            }
        )

    return small.unionByName(big.groupBy(win).applyInPandas(run, out_schema))
