"""Mutation semantics: PUT INTO (upsert), UPDATE, DELETE, deleteFrom.

The reference plans PUT INTO on a column table as: inner-join source to
target on the key columns → update the matched rows, insert the rest
(ColumnTableBulkOps.transformPutPlan, internal/ColumnTableBulkOps.scala:46-120;
ColumnPutIntoExec.scala:26).  UPDATE/DELETE are declarative with key columns
injected into the plan (AnalyzeMutableOperations, SnappySessionState.scala:
542-700); physical writes are column deltas / delete bitmaps — a storage
trick we do NOT port.  Our engine expresses the same *semantics* as pure
DataFrame rewrites (usable standalone and by the CDC sink), and applies them
to managed tables by copy-on-write parquet rewrite + atomic directory swap.

Scale note: these rewrites are joins on the key columns.  At 100 TB the
target side stays fully distributed (no collect of its rows).  With the
managed table bucketed on the key columns, the session rewrites only the
buckets a mutation can touch, and finds them without a job over the
target: a keyed write hashes the source's keys (a collect of small ints,
no Spark job over an inline VALUES batch), and a predicate that fixes
the bucket column takes Spark's planned bucket set.  The anti join's
source side is not de-duplicated first; a small one is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _anti_on_keys(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """target rows whose key tuple does NOT appear in source, with
    null-safe key equality (a NULL key is a matchable value, as in the
    reference's store PK semantics).  An anti join's output does not
    depend on duplicate source keys, so they are not removed first."""
    marked = source.select(*[F.col(k).alias(f"__src_{k}") for k in keys])
    cond = None
    for k in keys:
        c = target[k].eqNullSafe(marked[f"__src_{k}"])
        cond = c if cond is None else cond & c
    return target.join(marked, cond, "left_anti")


def put_into_df(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert semantics of PUT INTO: rows of `target` whose key is absent
    from `source`, plus `source` conflated per key (source wins on key
    match).

    Mirrors ColumnTableBulkOps.transformPutPlan:46-120 — update matched
    rows with source values, insert unmatched source rows.  Duplicate
    keys WITHIN one source batch conflate to the LAST occurrence (the
    CDC sink's keep-last discipline, SnappySinkCallback.scala:286-309):
    passing them through would write two rows under one key — a
    key_columns-contract violation — and which survived a later upsert
    would depend on partition order."""
    if not keys:
        raise ValueError("PUT INTO requires key columns (PrePutCheck)")
    cols = target.columns
    conflated = conflate_last(source.select(*cols), keys)
    keep = _anti_on_keys(target, conflated, keys)
    return keep.select(*cols).unionByName(conflated.select(*cols))


def conflate_last(source: DataFrame, keys: list[str]) -> DataFrame:
    """Keep the LAST occurrence per key tuple (batch order): the order
    marker attaches BEFORE any shuffle, so for an inline VALUES batch
    the monotonic id follows statement order and keep-last is exact."""
    marked = source.withColumn("__put_ord", F.monotonically_increasing_id())
    w = Window.partitionBy(*keys).orderBy(F.desc("__put_ord"))
    return (
        marked.withColumn("__put_rn", F.row_number().over(w))
        .filter(F.col("__put_rn") == 1)
        .drop("__put_ord", "__put_rn")
    )


def update_df(
    target: DataFrame, where: Column | str, assignments: dict[str, Column | str]
) -> DataFrame:
    """UPDATE t SET c = expr [WHERE pred] as a pure rewrite.

    Semantics of parser update (SnappyParser.scala:1177-1197): every row
    matching `where` gets the assignments applied; others pass through.
    Assignments may reference the pre-update row (standard SQL UPDATE
    semantics) — all CASE branches evaluate against the input row.
    """
    pred = F.expr(where) if isinstance(where, str) else where
    # identifiers are case-insensitive (as in the reference store); an
    # assignment naming no existing column is an error, never a silent no-op
    resolved = {c.lower(): c for c in target.columns}
    by_actual = {}
    for c, a in assignments.items():
        actual = resolved.get(c.lower())
        if actual is None:
            raise ValueError(f"UPDATE assigns unknown column {c!r}")
        by_actual[actual] = a
    exprs = []
    for c in target.columns:
        if c in by_actual:
            a = by_actual[c]
            new = F.expr(a) if isinstance(a, str) else a
            exprs.append(F.when(pred, new).otherwise(F.col(c)).alias(c))
        else:
            exprs.append(F.col(c))
    return target.select(*exprs)


def delete_df(target: DataFrame, where: Column | str) -> DataFrame:
    """DELETE FROM t WHERE pred as a pure rewrite (keep non-matching)."""
    pred = F.expr(where) if isinstance(where, str) else where
    # null predicate == not deleted (SQL three-valued logic)
    return target.filter(~F.coalesce(pred, F.lit(False)))


def delete_from_df(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """`df.write.deleteFrom(table)` semantics (SnappyImplicits.scala:209-222):
    delete target rows whose key tuple appears in `source`."""
    if not keys:
        raise ValueError("deleteFrom requires key columns")
    return _anti_on_keys(target, source, keys).select(*target.columns)


def merge_df(
    target: DataFrame,
    source: DataFrame,
    on: str,
    matched: list[tuple],
    not_matched_insert: tuple | None,
    t_alias: str = "t",
    s_alias: str = "s",
) -> DataFrame:
    """ANSI MERGE semantics as a pure rewrite (one full-outer join on the
    ON condition; first-match-wins across WHEN MATCHED clauses):

    - `matched`: ordered list of ("update", cond_sql|None, {col: expr_sql})
      or ("delete", cond_sql|None, None) clauses.
    - `not_matched_insert`: (cond_sql|None, {col: expr_sql} | None) — None
      mapping means INSERT * (every target column from the source alias).

    The reference reaches the same end-state through PUT INTO + deleteFrom
    (ColumnTableBulkOps.scala:46-120); MERGE is the composed one-statement
    form.  Scale: ONE shuffle-on-ON-keys join; no collect; inserts ride
    the same join (full-outer), so the source is scanned once.
    """
    cols = target.columns
    tgt = (
        target.withColumn("__t_m", F.lit(1))
        .withColumn("__t_id", F.monotonically_increasing_id())
        .alias(t_alias)
    )
    src = source.withColumn("__s_m", F.lit(1)).alias(s_alias)
    j = tgt.join(src, F.expr(on), "full_outer")
    t_present = F.col(f"{t_alias}.__t_m").isNotNull()
    s_present = F.col(f"{s_alias}.__s_m").isNotNull()
    is_matched = t_present & s_present

    if matched:
        # ANSI MERGE (and Delta) requirement: a target row matched by MORE
        # than one source row is an error — the full-outer join would
        # otherwise emit the target row once per matching source row,
        # silently duplicating keys on every such merge
        multi = (
            j.filter(is_matched)
            .groupBy(F.col(f"{t_alias}.__t_id"))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if multi:
            raise ValueError(
                "MERGE: multiple source rows match the same target row — "
                "deduplicate the source on the ON keys first (ANSI "
                "cardinality violation)"
            )

    def _cond(sql):
        return F.expr(sql) if sql else F.lit(True)

    # first-match-wins: clause i fires only where clauses < i did not
    effective, prior = [], F.lit(False)
    for action, cond, assigns in matched:
        fires = is_matched & _cond(cond) & ~prior
        effective.append((action, fires, assigns))
        prior = prior | (is_matched & _cond(cond))

    deleted = F.lit(False)
    for action, fires, _ in effective:
        if action == "delete":
            deleted = deleted | fires

    ins_fires, ins_map = F.lit(False), None
    if not_matched_insert is not None:
        icond, ins_map = not_matched_insert
        ins_fires = s_present & ~t_present & _cond(icond)

    keep = (t_present & ~deleted) | ins_fires
    src_cols = set(source.columns)
    out = []
    for c in cols:
        chain = None
        for action, fires, assigns in effective:
            if action == "update":
                a = (assigns or {}).get(c)
                if a is not None:
                    e = F.expr(a)
                    chain = chain.when(fires, e) if chain is not None else F.when(fires, e)
        if not_matched_insert is not None:
            if ins_map is None:  # INSERT *
                ie = F.col(f"{s_alias}.{c}") if c in src_cols else F.lit(None)
            else:
                ie = F.expr(ins_map[c]) if c in ins_map else F.lit(None)
            ie = ie.cast(dict(target.dtypes)[c])
            chain = chain.when(ins_fires, ie) if chain is not None else F.when(ins_fires, ie)
        base = F.col(f"{t_alias}.{c}")
        out.append((chain.otherwise(base) if chain is not None else base).alias(c))
    return j.filter(keep).select(*out)
