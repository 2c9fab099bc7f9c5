"""Time-series joins: as-of and range joins.

The reference has NO as-of/range join (SURVEY.md §2.3 marks them "not
implemented" — its TAQ benchmark, TAQTest.scala, does trades/quotes
correlation with plain windows); these are first-class additions for the
time-series/training-pipeline surface.

Scale design (the whole point of these implementations):

- **as-of join**: the naive formulation is an inequality join
  (l.ts >= r.ts) + argmax — a cartesian blow-up per key that no engine
  optimizes well.  Instead: tag both sides, union, ONE shuffle on the
  `by` key, one window scan carrying the last-seen right row forward
  (`last(ignorenulls)` over rows-unbounded-preceding).  Cost is
  O(n log n) per key from the sort — the same shape Spark plans for any
  window — and it never materializes candidate pairs.
- **range join**: refine a *bounded* equi-join on coarse time buckets
  (each left row joins only its own and neighboring buckets) then apply
  the exact range predicate.  Candidate count is bounded by bucket
  width, not by key cardinality; at 100 TB pick the bucket ≈ the range
  width so each row meets O(events-per-bucket) candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: tuple = ("user_id",),
    direction: str = "backward",
    tolerance: int | None = None,
    right_cols: dict | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row at-or-before
    (backward) / at-or-after (forward) its `on` timestamp within the same
    `by` group.  `right_cols` maps right column → output name (default:
    every non-key column suffixed `_r`).  `tolerance` (seconds) drops
    matches farther than that from the left timestamp.

    On equal timestamps the right row matches (>= / <= semantics, same
    as DuckDB/pandas ASOF).
    """
    by = list(by)
    if right_cols is None:
        right_cols = {c: f"{c}_r" for c in right.columns if c not in (*by, on)}
    rts = "__asof_rts"
    row_col = "__asof_row"

    # the matched right row rides as ONE struct, so every carried output
    # column comes from the SAME right row — carrying columns separately
    # with last(ignorenulls) would splice fields of different rows
    # whenever a right column is NULL (a chimera row that never existed)
    rtypes = dict(right.dtypes)
    struct_type = (
        "struct<"
        + ", ".join(
            [f"{rts}: timestamp"]
            + [f"{new}: {rtypes[old]}" for old, new in right_cols.items()]
        )
        + ">"
    )
    l2 = left.withColumn("__side", F.lit(1)).withColumn(
        row_col, F.lit(None).cast(struct_type)
    )
    r2 = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(on).cast("timestamp").alias(rts),
            *[F.col(old).alias(new) for old, new in right_cols.items()],
        )
        .cast(struct_type)
        .alias(row_col),
    )
    for c in left.columns:
        if c not in (*by, on):
            r2 = r2.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))

    merged = l2.unionByName(r2)
    # backward: scan forward in time, right rows sort before left on tie;
    # forward: scan backward in time (desc), so "last seen" = next ahead
    # trailing struct tie-break: two right rows sharing (by, on) would
    # otherwise leave "last seen" to partition row order (run-to-run
    # nondeterministic); the struct compares field-wise, deterministically
    order = (
        [F.col(on).asc(), F.col("__side").asc(), F.col(row_col).asc_nulls_first()]
        if direction == "backward"
        else [F.col(on).desc(), F.col("__side").asc(), F.col(row_col).asc_nulls_first()]
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = merged.select(
        *[c for c in merged.columns if c != row_col],
        F.last(row_col, ignorenulls=True).over(w).alias(row_col),
    ).filter(F.col("__side") == 1)
    matched = F.col(f"{row_col}.{rts}")
    if tolerance is not None:
        # fractional-second gap (unix_timestamp truncates to whole
        # seconds — an event 0.2s beyond the tolerance would be kept;
        # the oracles compare fractional epoch())
        gap = F.abs(
            F.col(on).cast("timestamp").cast("double")
            - matched.cast("timestamp").cast("double")
        )
        keep = matched.isNotNull() & (gap <= tolerance)
        out = out.withColumn(row_col, F.when(keep, F.col(row_col)))
    out = out.select(
        *[c for c in out.columns if c != row_col],
        *[F.col(f"{row_col}.{new}").alias(new) for new in right_cols.values()],
    )
    return out.drop("__side")


def range_join(
    left: DataFrame,
    right: DataFrame,
    by: tuple,
    left_ts: str,
    right_ts: str,
    lower_seconds: int,
    upper_seconds: int,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Pairs (l, r) in the same `by` group with
    r.ts ∈ [l.ts + lower, l.ts + upper).  Planned as an equi-join on
    (by, coarse bucket) with each left row exploded to the buckets its
    range overlaps — bounded fan-out — then exact predicate refinement.
    """
    by = list(by)
    width = bucket_seconds or max(upper_seconds - lower_seconds, 1)
    # MICROsecond-precision epochs (timestamp→double keeps the fraction):
    # unix_timestamp() truncates to whole seconds, silently including/
    # excluding events whose true offset is within 1s of a range bound —
    # the oracle (DuckDB epoch()) compares fractional seconds
    # (TIMESTAMP_NTZ casts to double only via TIMESTAMP; identity under
    # the engine's UTC session timezone)
    lsec = F.col(left_ts).cast("timestamp").cast("double")
    rsec = F.col(right_ts).cast("timestamp").cast("double")
    b_lo = F.floor((lsec + lower_seconds) / width)
    b_hi = F.floor((lsec + upper_seconds) / width)
    l2 = left.withColumn("__bucket", F.explode(F.sequence(b_lo, b_hi)))
    r2 = right.withColumn("__bucket", F.floor(rsec / width))
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in by] + [
        F.col("l.__bucket") == F.col("r.__bucket")
    ]
    joined = l2.alias("l").join(r2.alias("r"), cond)
    lsec_j = F.col(f"l.{left_ts}").cast("timestamp").cast("double")
    rsec_j = F.col(f"r.{right_ts}").cast("timestamp").cast("double")
    return joined.filter(
        (rsec_j >= lsec_j + lower_seconds) & (rsec_j < lsec_j + upper_seconds)
    ).drop("__bucket")
